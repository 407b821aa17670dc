"""Oracles for the benchmark's outputs, built outside every timed region.

* Edge and vertex CSVs: ``tests/reference_impl`` run block by block.
  Blocks share no ids (gen.py), so block b's edge ids and expanded ids
  are the reference's local ids shifted by the edge count and the
  pre-restriction pair count of blocks 0..b-1 (ids are assigned before
  restriction deletion).  ``selfcheck.py`` proves this equals one
  whole-input run.
* PageRank: a vectorized power iteration with ``tests/graph_oracle``
  semantics (fixed iteration count, i.e. tol=0).
* CC, LPA, triangles: ``tests/graph_oracle`` itself.

Results are cached per (generator version, workload, seed, sizes) in
``.perfbench-cache/`` at the checkout root.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os

import numpy as np

import gen

CACHE_DIR = ".perfbench-cache"


def _reference():
    from tests import reference_impl
    return reference_impl


def pair_count(edges: list[dict]) -> int:
    """Expanded pairs before restriction deletion (osm_loader.go:285-343):
    every continuation except the edge itself and its exact U-turn."""
    by_src: dict[int, list[dict]] = {}
    for e in edges:
        by_src.setdefault(e["src"], []).append(e)
    n = 0
    for e1 in edges:
        for e2 in by_src.get(e1["dst"], []):
            if e2["id"] == e1["id"]:
                continue
            if e1["geom"][0] == e2["geom"][-1] and e1["geom"][-1] == e2["geom"][0]:
                continue
            n += 1
    return n


def shift(expanded: list[dict], edge_off: int, pair_off: int) -> list[dict]:
    out = []
    for x in expanded:
        y = dict(x)
        y["id"] += pair_off
        y["source"] += edge_off
        y["target"] += edge_off
        out.append(y)
    return out


def _block(args) -> tuple[list[dict], int, int]:
    """Reference run of one block: (expanded rows with local ids, edges,
    pre-restriction pairs)."""
    workload, seed, i, size = args
    res = _reference().run(gen.block_records(workload, seed, i, size))
    return res["expanded"], len(res["edges"]), pair_count(res["edges"])


def expanded_blockwise(workload: str, seed: int, size: dict, processes: int = 1):
    """Reference expanded edges of every block with global ids, plus per
    block the cumulative edge (line-graph vertex) count and expanded row
    count, and the total pre-restriction pair count.  Blocks run in
    ``processes`` spawned workers."""
    jobs = [(workload, seed, i, size) for i in range(size["blocks"])]
    # never nest pools: a spawned worker re-imports the main module
    if processes > 1 and multiprocessing.parent_process() is None:
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(processes) as pool:
            results = pool.map(_block, jobs)
            pool.close()
            pool.join()
    else:
        results = [_block(j) for j in jobs]
    rows: list[dict] = []
    edge_off = pair_off = 0
    block_edges, block_rows = [], []
    for expanded, n_edges, n_pairs in results:
        rows.extend(shift(expanded, edge_off, pair_off))
        edge_off += n_edges
        pair_off += n_pairs
        block_edges.append(edge_off)
        block_rows.append(len(rows))
    return rows, pair_off, block_edges, block_rows


def vertex_csv_rows(expanded: list[dict]) -> list[str]:
    """The vertices CSV (cmd/osm2ch/main.go:165-187) of reference
    expanded rows in id order: vertices by first occurrence (source
    before target), geometry from the first occurrence in a row with at
    least two points, else (0, 0)."""
    order: dict[int, None] = {}
    geo: dict[int, tuple] = {}
    for x in expanded:
        order.setdefault(x["source"])
        order.setdefault(x["target"])
        if len(x["geom"]) >= 2:
            geo.setdefault(x["source"], x["geom"][0])
            geo.setdefault(x["target"], x["geom"][-1])
    rows = []
    for v in order:
        lon, lat = geo.get(v, (0.0, 0.0))
        rows.append(f"{v};0;0;POINT({lon:.6f} {lat:.6f})")
    return rows


def row_digests(rows: list[str]) -> np.ndarray:
    """(n, 32) uint8 — the sha256 of every CSV row."""
    buf = b"".join(hashlib.sha256(r.encode()).digest() for r in rows)
    return np.frombuffer(buf, dtype=np.uint8).reshape(-1, 32)


def pagerank(src: np.ndarray, dst: np.ndarray, iters: int, damping: float = 0.85):
    """Fixed-iteration PageRank, graph_oracle.pagerank_oracle semantics
    (uniform start, dangling mass spread uniformly).  Returns (vertices
    sorted, ranks)."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    n = len(verts)
    out = np.bincount(s, minlength=n).astype(np.float64)
    dangling = out == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(d, weights=r[s] / out[s], minlength=n)
        r = (1.0 - damping) / n + damping * (contrib + r[dangling].sum() / n)
    return verts, r


def as_arrays(d: dict) -> tuple[np.ndarray, np.ndarray]:
    """{vertex: value} -> (vertices sorted, values)."""
    keys = np.array(sorted(d), dtype=np.int64)
    return keys, np.array([d[k] for k in keys.tolist()], dtype=np.int64)


def _graph_oracles(src: np.ndarray, dst: np.ndarray, params: dict) -> dict:
    from tests import graph_oracle as G

    edges = list(zip(src.tolist(), dst.tolist()))
    out = {}
    if params:
        out["pr_vertex"], out["pr_rank"] = pagerank(src, dst, params["pagerank_iters"])
        out["cc_vertex"], out["cc_component"] = as_arrays(G.cc_oracle(edges))
        out["lpa_vertex"], out["lpa_label"] = as_arrays(
            G.lpa_oracle(edges, max_iter=params["lpa_iters"]))
        out["triangles"] = np.array([G.triangles_oracle(edges)], dtype=np.int64)
    return out


def build(workload: str, seed: int, size: dict, params: dict, processes: int = 1) -> dict:
    """Every oracle of one (workload, seed, size) input."""
    expanded, pairs, block_edges, block_rows = expanded_blockwise(workload, seed, size, processes)
    vertices = vertex_csv_rows(expanded)
    # vertices are block-local and listed block by block, so the vertex
    # rows of blocks 0..b are a prefix: those with id <= block_edges[b]
    block_vertices = np.searchsorted(
        np.sort(np.array([int(v.split(";", 1)[0]) for v in vertices], dtype=np.int64)),
        np.array(block_edges, dtype=np.int64), side="right")
    out = {
        "edges_sha": row_digests(_reference().expanded_csv_rows(expanded)),
        "vertices_sha": row_digests(vertices),
        "src": np.array([x["source"] for x in expanded], dtype=np.int64),
        "dst": np.array([x["target"] for x in expanded], dtype=np.int64),
        "weight": np.array([x["cost"] for x in expanded], dtype=np.float64),
        "one_way": np.array([x["oneway"] for x in expanded], dtype=bool),
        "pairs": np.array([pairs], dtype=np.int64),
        "block_edges": np.array(block_edges, dtype=np.int64),
        "block_rows": np.array(block_rows, dtype=np.int64),
        "block_vertices": block_vertices.astype(np.int64),
    }
    out.update(_graph_oracles(out["src"], out["dst"], params))
    return out


def cached(root: str, workload: str, seed: int, size: dict, params: dict,
           processes: int = 1) -> dict:
    key = hashlib.sha256(json.dumps(
        [gen.GEN_VERSION, workload, seed, size, params], sort_keys=True).encode()
    ).hexdigest()[:20]
    path = os.path.join(root, CACHE_DIR, f"{workload}-{seed}-{key}.npz")
    if os.path.exists(path):
        with np.load(path, allow_pickle=False) as z:
            return {k: z[k] for k in z.files}
    out = build(workload, seed, size, params, processes)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp.npz"
    np.savez(tmp, **out)
    os.replace(tmp, path)
    return out
