"""The workloads: inputs, the timed repetition, its oracle checks, and
the layer-by-layer traced form of the same calls.

A repetition is a list of engine calls run back to back in the timed
region; each returns an output that ``check`` compares with the oracle
afterwards.  A call that raises ends the repetition and counts as
failed; so does an output that does not match.
"""

from __future__ import annotations

import glob
import json
import os
import time

import numpy as np
import pyarrow as pa

import oracle as O

# Sizes: ``full`` is measured, ``warm`` (a prefix of the same blocks) is
# the warm-up input.  Pagerank and LPA run a fixed number of iterations.
SIZES = {
    "osm_ingest": {
        "full": dict(blocks=16, grid=9, restrictions=6),
        "warm": 2,
    },
    "hub_city_resume": {
        "full": dict(blocks=2, grid=10, hubs=2, hub_min=48, hub_max=160,
                     junctions=6, junction_max=48, restrictions=6),
        "warm": 1,
    },
}
GRAPH_PARAMS = {"pagerank_iters": 3, "crash_at": 2, "checkpoint_every": 2, "lpa_iters": 2}
PARAMS = {"osm_ingest": {}, "hub_city_resume": GRAPH_PARAMS}

# inputs are written as this many parquet files: one Spark partition each
PARQUET_FILES = 4
SOURCE_SCHEMA = pa.schema([(f, pa.string()) for f in ("repo", "path", "commit", "lang", "content")])
EDGE_SCHEMA = pa.schema([("source_vertex", pa.int64()), ("target_vertex", pa.int64()),
                         ("weight", pa.float64()), ("one_way", pa.bool_())])

GRAPH_LAYERS = ("graph.adjacency", "graph.pagerank", "graph.checkpoint",
                "graph.components", "graph.triangles", "graph.label_propagation")


class Mismatch(Exception):
    pass


# ---------------------------------------------------------------- checks

def csv_lines(path: str) -> list[str]:
    """Rows of a write_csv_dist directory: part files in name order."""
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            lines.extend(f.read().splitlines())
    return lines


def check_csv(path: str, want: np.ndarray) -> int:
    got = O.row_digests(csv_lines(path))
    if got.shape != want.shape:
        raise Mismatch(f"{os.path.basename(path)}: {len(got)} rows, oracle {len(want)}")
    bad = np.flatnonzero((got != want).any(axis=1))
    if len(bad):
        raise Mismatch(f"{os.path.basename(path)}: {len(bad)} rows differ, first at row {bad[0]}")
    return len(got)


def _keyed(pdf, key: str, val: str):
    pdf = pdf.sort_values(key)
    return pdf[key].to_numpy(), pdf[val].to_numpy()


def check_pagerank(pdf, want_v, want_r) -> None:
    v, r = _keyed(pdf, "vertex", "rank")
    if not np.array_equal(v, want_v):
        raise Mismatch(f"pagerank: {len(v)} vertices vs oracle {len(want_v)}")
    if not np.allclose(r, want_r, rtol=1e-6, atol=0.0):
        raise Mismatch(f"pagerank: max rel diff {np.max(np.abs(r - want_r) / want_r):.3g}")


def check_exact(pdf, key: str, val: str, want_k, want_v, what: str) -> None:
    k, v = _keyed(pdf, key, val)
    if not (np.array_equal(k, want_k) and np.array_equal(v, want_v)):
        raise Mismatch(f"{what}: {len(k)} rows vs oracle {len(want_k)}, values differ")


def lineage(ck: str) -> list[dict]:
    with open(os.path.join(ck, "pagerank", "lineage.json")) as f:
        return [json.loads(line) for line in f if line.strip()]


def check_lineage(got: list[dict], expected: list[int], rows: int) -> None:
    its = [m["iteration"] for m in got]
    if its != expected or any(m["rows"] != rows for m in got):
        raise Mismatch(f"pagerank lineage iterations {its}, expected {expected}")


# ------------------------------------------------------------- workloads

class Workload:
    """``ctx`` (run.py) carries spark, scratch paths, source rows, oracle."""

    name: str

    def __init__(self, ctx):
        self.ctx = ctx
        self.p = PARAMS[self.name]
        self.warm_blocks = SIZES[self.name]["warm"]

    def source_parquet(self, blocks: int) -> str:
        """The source table of the first ``blocks`` blocks, as parquet."""
        rows = self.ctx.rows[:blocks]
        cols = list(zip(*rows))
        return self._parquet(f"source-{blocks}", pa.table(
            [pa.array(c, pa.string()) for c in cols], schema=SOURCE_SCHEMA))

    def edge_parquet(self, blocks: int) -> str:
        """The line-graph edge table of the first ``blocks`` blocks, as
        parquet: the reference implementation's expanded edges (blocks
        are disjoint, so they are the rows whose source lies in them)."""
        o = self.ctx.oracle
        keep = o["src"] <= o["block_edges"][blocks - 1]
        return self._parquet(f"edges-{blocks}", pa.table(
            [o["src"][keep], o["dst"][keep], o["weight"][keep], o["one_way"][keep]],
            schema=EDGE_SCHEMA))

    def _parquet(self, name: str, table) -> str:
        """Write ``table`` as PARQUET_FILES files of contiguous rows and
        return the directory."""
        import pyarrow.parquet as pq
        path = self.ctx.path(name)
        if not os.path.exists(path):
            os.makedirs(path)
            step = -(-table.num_rows // PARQUET_FILES)
            for i in range(PARQUET_FILES):
                pq.write_table(table.slice(i * step, step),
                               os.path.join(path, f"part-{i:05d}.parquet"))
        return path

    def prepare(self) -> None:
        """Untimed set-up after session start: ``self.inputs``."""
        raise NotImplementedError

    def calls(self, inp: str, rep_dir: str) -> list:
        """[(name, thunk)] — the engine calls of one repetition."""
        raise NotImplementedError

    def check(self, name: str, out) -> None:
        raise NotImplementedError

    def traced(self, tracer, rep_dir: str) -> list:
        """The repetition's calls one layer at a time, under spans.
        Returns the oracle checks, to run after the timed region."""
        raise NotImplementedError




class OsmIngest(Workload):
    """Source table -> expanded edges -> edge and vertex CSVs (cli.py)."""

    name = "osm_ingest"

    def prepare(self) -> None:
        self.inputs = {"full": self.source_parquet(len(self.ctx.rows)),
                       "warm": self.source_parquet(self.warm_blocks)}

    def calls(self, inp: str, rep_dir: str) -> list:
        from osm2ch_spark import pipeline, sinks
        spark = self.ctx.spark
        state = {}

        def build():
            state["x"] = pipeline.build_expanded(spark.read.parquet(inp)).persist()
            return state["x"].count()

        def edges_csv():
            path = os.path.join(rep_dir, "graph.csv")
            sinks.write_csv_dist(sinks.edges_csv_rows(state["x"]), "expanded_id", path)
            return path

        def vertices_csv():
            path = os.path.join(rep_dir, "graph_vertices.csv")
            sinks.write_csv_dist(sinks.vertices_csv_rows(state["x"]), "first_seen", path)
            state.pop("x").unpersist()
            return path

        return [("build_expanded", build), ("edges_csv", edges_csv),
                ("vertices_csv", vertices_csv)]

    def check(self, name: str, out) -> None:
        o = self.ctx.oracle
        if name == "build_expanded":
            if out != len(o["src"]):
                raise Mismatch(f"build_expanded: {out} rows, oracle {len(o['src'])}")
        elif name == "edges_csv":
            check_csv(out, o["edges_sha"])
        else:
            check_csv(out, o["vertices_sha"])

    def traced(self, tracer, rep_dir: str) -> list:
        return pipeline_traced(tracer, self.ctx.spark.read.parquet(self.inputs["full"]),
                               rep_dir, self.ctx.oracle, len(self.ctx.rows))


class HubCityResume(Workload):
    """Set-up writes the city's line-graph edge table once (untimed, as
    parquet).  A repetition reads it back, runs PageRank to a simulated
    crash, resumes from the checkpoint, then runs connected components,
    triangle count and label propagation.  No pipeline module runs."""

    name = "hub_city_resume"
    layers = ("graph.adjacency", "graph.pagerank", "graph.checkpoint", "graph.components",
              "graph.triangles", "graph.label_propagation")

    def prepare(self) -> None:
        self.inputs = {"full": self.edge_parquet(len(self.ctx.rows)),
                       "warm": self.edge_parquet(self.warm_blocks)}

    def calls(self, inp: str, rep_dir: str) -> list:
        from osm2ch_spark.graph import (connected_components, label_propagation, pagerank,
                                        triangle_count)
        spark, p = self.ctx.spark, self.p
        ck = os.path.join(rep_dir, "ck")
        state = {}

        def crash():
            state["edges"] = spark.read.parquet(inp)
            pagerank(state["edges"], tol=0.0, max_iter=p["crash_at"], checkpoint_dir=ck,
                     checkpoint_every=p["checkpoint_every"])
            return lineage(ck)

        def resume():
            return pagerank(state["edges"], tol=0.0, max_iter=p["pagerank_iters"],
                            checkpoint_dir=ck, checkpoint_every=p["checkpoint_every"],
                            resume=True).toPandas()

        def components():
            return connected_components(state["edges"]).toPandas()

        def triangles():
            return triangle_count(state["edges"])

        def lpa():
            return label_propagation(state.pop("edges"), max_iter=p["lpa_iters"]).toPandas()

        return [("pagerank_crash", crash), ("pagerank_resume", resume),
                ("connected_components", components), ("triangle_count", triangles),
                ("label_propagation", lpa)]

    def check(self, name: str, out) -> None:
        o, p = self.ctx.oracle, self.p
        if name == "pagerank_crash":
            k = p["checkpoint_every"]
            check_lineage(out, list(range(k, p["crash_at"] + 1, k)), len(o["pr_vertex"]))
        elif name == "pagerank_resume":
            check_pagerank(out, o["pr_vertex"], o["pr_rank"])
        elif name == "connected_components":
            check_exact(out, "vertex", "component", o["cc_vertex"], o["cc_component"], "cc")
        elif name == "triangle_count":
            if out != int(o["triangles"][0]):
                raise Mismatch(f"triangles: {out}, oracle {int(o['triangles'][0])}")
        else:
            check_exact(out, "vertex", "label", o["lpa_vertex"], o["lpa_label"], "lpa")

    def traced(self, tracer, rep_dir: str) -> list:
        edges = self.ctx.spark.read.parquet(self.inputs["full"])
        return graph_traced(tracer, edges, rep_dir, self.layers, self.p, self.ctx.oracle,
                            len(self.ctx.rows))


WORKLOADS = {w.name: w for w in (OsmIngest, HubCityResume)}


# ------------------------------------------------------- traced layer calls

def pipeline_traced(tr, src, out_dir: str, o: dict, blocks: int) -> list:
    """build_expanded's calls in its order, one span per layer, then the
    cli.py sink flow.  Counts run after each span closes.  Returns the
    checks of both CSVs against the oracle of the first ``blocks``
    blocks (their rows are a prefix of the full oracle's)."""
    from pyspark.sql import functions as F

    from osm2ch_spark import pipeline as PL
    from osm2ch_spark import sinks
    from osm2ch_spark.sources import parse as P
    from osm2ch_spark.workerenv import materialize_df

    n_part = int(src.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    with tr.span("sources.parse") as s:
        slim = materialize_df(
            P.slim_records(PL.parse_source(src), P.DEFAULT_ENTITY).repartition(
                n_part, F.col("repo"), F.col("path"), F.col("seq")))
    n = slim.count()
    s["counts"].update(records=n, records_per_s=n / (s["end"] - s["start"]))

    with tr.span("pipeline.split") as s:
        ways = P.scan_ways_slim(slim, None)
        restrictions = P.scan_restrictions_slim(slim)
        counts = PL.node_use_count(ways)
        nodes = P.scan_nodes_slim(slim, ways, use_counts=counts)
        edges = PL.split_ways_to_edges(ways, nodes, counts, strict=True, materialize=True)
    s["counts"].update(ways_in=ways.count(), edges_out=edges.count())

    with tr.span("pipeline.expand") as s:
        expanded = PL.expand_edges(edges, materialize=True)
    pairs = expanded.count()
    per_node = expanded.groupBy("src_target_node").count().agg(F.max("count")).first()[0]
    s["counts"].update(pairs_out=pairs, max_pairs_per_node=per_node)

    with tr.span("pipeline.restrict") as s:
        seen = PL.ways_seen(ways)
        kept = PL.apply_only_restrictions(
            PL.apply_no_restrictions(expanded, restrictions, seen), restrictions, seen)
        n_kept = kept.count()
    s["counts"]["kept_ratio"] = n_kept / pairs

    with tr.span("pipeline.splice"):
        final = PL.splice_geometry(kept, edges, materialize=True).select(
            "expanded_id",
            F.col("src_edge_id").alias("source_vertex"),
            F.col("dst_edge_id").alias("target_vertex"),
            "weight", "one_way", "source_way", "target_way",
            "src_source_node", "src_target_node", "dst_source_node", "dst_target_node",
            "geom_lons", "geom_lats", "geom_wkt",
        )

    e_path = os.path.join(out_dir, "graph.csv")
    v_path = os.path.join(out_dir, "graph_vertices.csv")
    with tr.span("sinks") as s:
        final = final.persist()
        final.count()
        sinks.write_csv_dist(sinks.edges_csv_rows(final), "expanded_id", e_path)
        sinks.write_csv_dist(sinks.vertices_csv_rows(final), "first_seen", v_path)
        final.unpersist()
    files = glob.glob(os.path.join(out_dir, "*.csv", "part-*"))
    s["counts"].update(rows=len(csv_lines(e_path)) + len(csv_lines(v_path)),
                       bytes_written=sum(os.path.getsize(f) for f in files))
    e_rows = o["block_rows"][blocks - 1]
    v_rows = o["block_vertices"][blocks - 1]
    return [lambda: check_csv(e_path, o["edges_sha"][:e_rows]),
            lambda: check_csv(v_path, o["vertices_sha"][:v_rows])]


def graph_traced(tr, edges, rep_dir: str, layers, p: dict, o: dict, blocks: int) -> list:
    """Graph layers over ``edges`` (the edge table of the first
    ``blocks`` blocks), one span each.  Returns the checks of their
    outputs: against the cached oracle for the full input, against
    oracles computed here for a prefix."""
    from pyspark.sql import functions as F

    from osm2ch_spark.graph import (build_adjacency, connected_components,
                                    label_propagation, pagerank, triangle_count)
    from osm2ch_spark.graph.checkpoint import CheckpointManager
    from tests import graph_oracle as G

    full = blocks == len(o["block_edges"])
    keep = o["src"] <= o["block_edges"][blocks - 1]
    src, dst = o["src"][keep], o["dst"][keep]
    pairs = list(zip(src.tolist(), dst.tolist()))
    n_part = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    pr_iters, crash_at = p["pagerank_iters"], p["crash_at"]
    every, lpa_iters = p["checkpoint_every"], p["lpa_iters"]
    checks = []

    if "graph.adjacency" in layers:
        with tr.span("graph.adjacency") as s:
            adj = build_adjacency(edges, num_buckets=n_part, with_weights=False).persist()
            rows = adj.count()
        s["counts"].update(rows=rows, max_degree=adj.agg(F.max("out_degree")).first()[0])
        adj.unpersist()

    if "graph.pagerank" in layers:
        ck = os.path.join(rep_dir, "ck")
        with tr.span("graph.pagerank") as s:
            pagerank(edges, tol=0.0, max_iter=crash_at, checkpoint_dir=ck, checkpoint_every=every)
            ranks = pagerank(edges, tol=0.0, max_iter=pr_iters, checkpoint_dir=ck,
                             checkpoint_every=every, resume=True).toPandas()
        dt = s["end"] - s["start"]
        s["counts"].update(iters=pr_iters, s_per_iter=dt / pr_iters,
                           edge_visits_per_s=len(src) * pr_iters / dt)
        if full and "pr_vertex" in o:
            checks.append(lambda: check_pagerank(ranks, o["pr_vertex"], o["pr_rank"]))
        else:
            checks.append(lambda: check_pagerank(ranks, *O.pagerank(src, dst, pr_iters)))
        with tr.span("graph.checkpoint") as s:
            state, _ = CheckpointManager(ck, "pagerank").resume(edges.sparkSession)
            state.count()
        written = [f for f in glob.glob(os.path.join(ck, "**", "*"), recursive=True)
                   if os.path.isfile(f)]
        s["counts"].update(
            written_mb=sum(os.path.getsize(f) for f in written) / 1e6,
            files=len(glob.glob(os.path.join(ck, "pagerank", "iter=*", "part-*"))),
            lineage_rows=len(lineage(ck)),
            resume_s=s["end"] - s["start"])

    if "graph.components" in layers:
        with tr.span("graph.components") as s:
            cc = connected_components(edges).toPandas()
        s["counts"]["components"] = int(cc["component"].nunique())
        if full and "cc_vertex" in o:
            checks.append(lambda: check_exact(cc, "vertex", "component", o["cc_vertex"],
                                              o["cc_component"], "cc"))
        else:
            checks.append(lambda: check_exact(cc, "vertex", "component",
                                              *O.as_arrays(G.cc_oracle(pairs)), "cc"))

    if "graph.triangles" in layers:
        with tr.span("graph.triangles") as s:
            tri = triangle_count(edges)
        s["counts"]["triangles"] = tri

        def check_triangles():
            want = int(o["triangles"][0]) if full and "triangles" in o \
                else G.triangles_oracle(pairs)
            if tri != want:
                raise Mismatch(f"triangles: {tri}, oracle {want}")
        checks.append(check_triangles)

    if "graph.label_propagation" in layers:
        with tr.span("graph.label_propagation") as s:
            lpa = label_propagation(edges, max_iter=lpa_iters).toPandas()
        s["counts"]["labels"] = int(lpa["label"].nunique())
        if full and "lpa_vertex" in o:
            checks.append(lambda: check_exact(lpa, "vertex", "label", o["lpa_vertex"],
                                              o["lpa_label"], "lpa"))
        else:
            checks.append(lambda: check_exact(
                lpa, "vertex", "label", *O.as_arrays(G.lpa_oracle(pairs, max_iter=lpa_iters)),
                "lpa"))
    return checks


def geom_ns_per_point(seed: int, lines: int = 1000, points: int = 8) -> tuple[float, float]:
    """Driver-side geometry kernel on a fixed seeded array: seconds and
    ns per point for spherical_length_many + find_middle_point_many."""
    from osm2ch_spark import geom
    rng = np.random.default_rng(seed)
    lon = 30.0 + rng.random((lines, points)) * 0.01
    lat = 50.0 + rng.random((lines, points)) * 0.01
    ragged = [np.column_stack([lon[i], lat[i]]) for i in range(lines)]
    offsets = np.arange(0, lines * points + 1, points)
    t0 = time.perf_counter()
    geom.spherical_length_many(ragged)
    geom.find_middle_point_many(lon.ravel(), lat.ravel(), offsets)
    dt = time.perf_counter() - t0
    return dt, dt / (lines * points) * 1e9
