#!/usr/bin/env python3
"""Benchmark of the link-graph engine (``osm2ch_spark``).

Run from the repository root:

    python3 perfbench/run.py --workload osm_ingest --seed 1 --seconds 20 --trace 0

One process drives the engine's public functions on ``local[cores]``,
one call at a time (a closed loop with a single client).  The run

1. generates the workload's source table from ``--seed`` (gen.py) and
   builds or loads its oracles (oracle.py), outside every timed region;
2. starts the session and runs the workload's own calls once on a
   reduced input of the same shape (``setup_s`` = both);
3. repeats the workload's job until ``--seconds`` have passed (at least
   three times), dropping the previous repetition's DataFrames, forcing
   a JVM GC and waiting for the context cleaner before each, and checks
   every output against the oracle after each;
4. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
   metrics -- the end-to-end ones with ``--trace 0``, the per-layer ones
   (from a traced repetition, see workloads.py) with ``--trace 1``.

Every file the run writes -- shuffle files, checkpoints, CSV outputs,
temporary files -- lives under ``.perfbench-scratch/run-<pid>/`` in the
checkout, which the run deletes before it exits, after it has stopped
the JVM and waited for every Python worker.  The JVM heap, the core
count and PYTHONHASHSEED are pinned by flags (see BENCHMARK.json).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH_ROOT = os.path.join(ROOT, ".perfbench-scratch")
MIN_FREE_BYTES = 2 << 30
MIN_REPS = 3
MAX_REPS = 50
# engine knobs that select alternative behaviours: unset, so every run
# measures the engine's defaults
UNSET_ENV = ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "OSM2CH_AQE",
             "OSM2CH_CKPT_LEVEL", "OSM2CH_CC_DEDUP_EVERY", "SPARK_CONF_DIR")

END_TO_END = {"job_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}


def _layer(name: str, gc: bool = True) -> dict:
    """Busy time, Spark jobs and tasks, and (where a layer does enough
    work to see a collection) JVM GC time of one layer's spans."""
    out = {f"{name}.s": "s", f"{name}.jobs": "count", f"{name}.tasks": "count"}
    if gc:
        out[f"{name}.gc_s"] = "s"
    return out


PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    **_layer("sources.parse", gc=False),
    "sources.parse.records": "count",
    "sources.parse.records_per_s": "1/s",
    **_layer("pipeline.split"),
    "pipeline.split.ways_in": "count",
    "pipeline.split.edges_out": "count",
    "geom.ns_per_point": "ns",
    **_layer("pipeline.expand"),
    "pipeline.expand.pairs_out": "count",
    "pipeline.expand.max_pairs_per_node": "count",
    **_layer("pipeline.restrict"),
    "pipeline.restrict.kept_ratio": "ratio",
    **_layer("pipeline.splice", gc=False),
    **_layer("sinks"),
    "sinks.rows": "count",
    "sinks.bytes_written": "bytes",
    **_layer("graph.adjacency", gc=False),
    "graph.adjacency.rows": "count",
    "graph.adjacency.max_degree": "count",
    **_layer("graph.pagerank"),
    "graph.pagerank.iters": "count",
    "graph.pagerank.s_per_iter": "s",
    "graph.pagerank.edge_visits_per_s": "1/s",
    **_layer("graph.checkpoint", gc=False),
    "graph.checkpoint.written_mb": "MB",
    "graph.checkpoint.files": "count",
    "graph.checkpoint.lineage_rows": "count",
    "graph.checkpoint.resume_s": "s",
    **_layer("graph.components"),
    "graph.components.components": "count",
    **_layer("graph.triangles"),
    "graph.triangles.triangles": "count",
    **_layer("graph.label_propagation"),
    "graph.label_propagation.labels": "count",
    "scratch.written_mb": "MB",
    "scratch.peak_mb": "MB",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    import workloads
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="measuring time")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--heap-mb", type=int, default=2048, help="JVM heap, -Xms = -Xmx")
    p.add_argument("--cores", type=int, default=4, help="local[cores]")
    p.add_argument("--hashseed", type=int, default=0, help="PYTHONHASHSEED")
    return p.parse_args(argv)


def engine_present() -> bool:
    need = ("osm2ch_spark/__init__.py", "tests/reference_impl.py", "tests/graph_oracle.py")
    return all(os.path.isfile(os.path.join(ROOT, f)) for f in need)


def pin_env(args, scratch: str) -> None:
    for k in UNSET_ENV:
        os.environ.pop(k, None)
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    heap = f"{args.heap_mb}m"
    os.environ.update(
        TMPDIR=tmp,
        OSM2CH_LOCAL_DIR=local,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(args.cores),
        SPARK_DRIVER_MEMORY=heap,
        # the engine's default JVM flags with the heap pinned, temporary
        # files kept in the scratch directory, no hsperfdata under /tmp,
        # and transparent huge pages off: whether the kernel hands a JVM
        # huge pages varies from launch to launch, and with them on, the
        # median repetition of ten runs of identical code spread 21%
        # (quartiles 7.0-8.7 s on osm_ingest)
        SPARK_DRIVER_JAVA_OPTS=(f"-Xms{heap} -XX:+UseParallelGC -XX:-UseTransparentHugePages "
                                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONHASHSEED=str(args.hashseed),
    )
    import tempfile
    tempfile.tempdir = None


class Ctx:
    """State of one run, shared with the workload."""

    def __init__(self, scratch: str, rows, oracle):
        self.scratch = scratch
        self.rows = rows
        self.oracle = oracle
        self.spark = None
        self.attempted = 0
        self.failed = 0

    def path(self, name: str) -> str:
        return os.path.join(self.scratch, name)

    def count_call(self, name: str, fn) -> bool:
        """Run an untimed, checked engine call and count it."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception:  # noqa: BLE001 -- every engine failure is counted and logged
            self.failed += 1
            log(f"call {name} failed:\n{traceback.format_exc()}")
            return False


def start_session(args, scratch: str):
    from osm2ch_spark import get_spark
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{args.cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.executorEnv.PYTHONHASHSEED": str(args.hashseed),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 -- escalate, reap() waits for it
                proc.kill()
    SparkContext._gateway = None
    SparkContext._jvm = None


def settle(spark, local_dir: str) -> None:
    """Drop what the last repetition left: Python references, every RDD
    still persisted (the engine's local checkpoints stay persisted until
    the JVM collects their DataFrames), then a JVM GC, then wait until
    the context cleaner stops deleting shuffle files."""
    import gc

    import procs
    gc.collect()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark._jvm.System.gc()
    deadline = time.monotonic() + 5
    prev = procs.dir_bytes(local_dir)
    while time.monotonic() < deadline:
        time.sleep(0.1)
        cur = procs.dir_bytes(local_dir)
        if cur >= prev:
            break
        prev = cur


def one_rep(ctx, wl, inp: str, rep_dir: str, sampler, check: bool = True) -> dict:
    """One timed repetition; outputs checked afterwards."""
    import procs
    os.makedirs(rep_dir)
    calls = wl.calls(inp, rep_dir)
    sampler.reset()
    c0 = procs.cpu_seconds(procs.tree())
    t0 = time.perf_counter()
    outs, err, call_s = [], None, []
    for name, fn in calls:
        try:
            t = time.perf_counter()
            outs.append((name, fn()))
            call_s.append(time.perf_counter() - t)
        except Exception:  # noqa: BLE001 -- an engine call that raises is a failure
            err = (name, traceback.format_exc())
            break
    dt = time.perf_counter() - t0
    c1 = procs.cpu_seconds(procs.tree())
    rss = sampler.peaks()[0]
    ok = err is None
    if check:
        ctx.attempted += len(outs) + (err is not None)
        if err:
            ctx.failed += 1
            log(f"call {err[0]} raised:\n{err[1]}")
        for name, out in outs:
            try:
                wl.check(name, out)
            except Exception:  # noqa: BLE001 -- a mismatch is a failure
                ok = False
                ctx.failed += 1
                log(f"call {name} mismatched the oracle:\n{traceback.format_exc()}")
    elif err:
        raise RuntimeError(f"warm-up call {err[0]} raised:\n{err[1]}")
    del outs, calls
    shutil.rmtree(rep_dir)
    return {"s": dt, "cpu_s": c1 - c0, "rss": rss, "ok": ok, "calls_s": call_s}


def run_checks(ctx, checks, what: str) -> None:
    for i, fn in enumerate(checks):
        ctx.count_call(f"{what}[{i}]", fn)


def run(args, scratch: str) -> tuple[dict, dict, int, int]:
    """Returns (run info, metrics, engine calls attempted, failed);
    metrics are empty when every repetition failed."""
    import gen
    import oracle
    import procs
    import workloads as W
    from spans import Tracer

    name = args.workload
    size, params = W.SIZES[name]["full"], W.PARAMS[name]
    t0 = time.perf_counter()
    rows = gen.source_rows(name, args.seed, size)
    orc = oracle.cached(ROOT, name, args.seed, size, params, processes=args.cores)
    info = {
        "workload": name, "seed": args.seed, "gen_version": gen.GEN_VERSION,
        "source_sha256": gen.table_sha256(rows), "source_rows": len(rows),
        "source_bytes": sum(len(r[4]) for r in rows),
        "line_graph_edges": len(orc["src"]), "oracle_s": time.perf_counter() - t0,
    }
    ctx = Ctx(scratch, rows, orc)
    local_dir = os.path.join(scratch, "local")
    sampler = procs.Sampler(scratch).start()
    try:
        t0 = time.perf_counter()
        ctx.spark = spark = start_session(args, scratch)
        start_s = time.perf_counter() - t0
        info["shuffle_partitions"] = int(spark.conf.get("spark.sql.shuffle.partitions"))
        wl = W.WORKLOADS[name](ctx)
        wl.prepare()
        settle(spark, local_dir)
        warm = one_rep(ctx, wl, wl.inputs["warm"], ctx.path("warm"), sampler, check=False)
        setup_s = start_s + warm["s"]
        info.update(start_s=start_s, warmup_s=warm["s"])

        if not args.trace:
            reps = []
            t_end = time.monotonic() + args.seconds
            while (len(reps) < MIN_REPS or time.monotonic() < t_end) and len(reps) < MAX_REPS:
                settle(spark, local_dir)
                reps.append(one_rep(ctx, wl, wl.inputs["full"], ctx.path(f"rep-{len(reps)}"),
                                    sampler))
            good = [r for r in reps if r["ok"]]
            info["reps_s"] = [r["s"] for r in reps]
            info["reps_cpu_s"] = [r["cpu_s"] for r in reps]
            info["reps_calls_s"] = [r["calls_s"] for r in reps]
            if not good:
                return info, {}, ctx.attempted, ctx.failed
            metrics = {
                "job_s": statistics.median(r["s"] for r in good),
                "cpu_s": statistics.median(r["cpu_s"] for r in good),
                "peak_rss_mb": max(r["rss"] for r in good) / 2**20,
                "setup_s": setup_s,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
            return info, metrics, ctx.attempted, ctx.failed

        # --trace 1: one untraced repetition, the same repetition traced,
        # then every layer the workload does not use, on its warm-up
        # input, so every layer has a measured span
        tracer = Tracer(spark, f"{name}-{args.seed}")
        settle(spark, local_dir)
        untraced = one_rep(ctx, wl, wl.inputs["full"], ctx.path("rep-untraced"), sampler)
        settle(spark, local_dir)
        rep_dir = ctx.path("rep-traced")
        os.makedirs(rep_dir)
        sampler.reset()
        wb0 = procs.write_bytes(procs.tree())
        with tracer.span("trace.rep") as root:
            checks = wl.traced(tracer, rep_dir)
        wb1 = procs.write_bytes(procs.tree())
        scratch_peak = sampler.peaks()[1]
        run_checks(ctx, checks, "traced")
        shutil.rmtree(rep_dir)

        spanned = {s["name"] for s in tracer.spans}
        cov_dir = ctx.path("coverage")
        os.makedirs(cov_dir)
        with tracer.span("trace.coverage"):
            if "sources.parse" not in spanned:
                src = spark.read.parquet(wl.source_parquet(wl.warm_blocks))
                run_checks(ctx, W.pipeline_traced(tracer, src, cov_dir, orc, wl.warm_blocks),
                           "coverage")
            missing = [l for l in W.GRAPH_LAYERS if l not in spanned]
            if missing:
                edges = spark.read.parquet(wl.edge_parquet(wl.warm_blocks))
                run_checks(ctx, W.graph_traced(tracer, edges, cov_dir, missing, W.GRAPH_PARAMS,
                                               orc, wl.warm_blocks), "coverage")
        with tracer.span("geom") as s:
            _, ns = W.geom_ns_per_point(args.seed)
        s["counts"]["ns_per_point"] = ns

        layer = tracer.layer_metrics()
        layer.update({
            "session.start_s": start_s,
            "session.warmup_s": warm["s"],
            "scratch.written_mb": (wb1 - wb0) / 1e6,
            "scratch.peak_mb": scratch_peak / 1e6,
            "trace.overhead_s": (root["end"] - root["start"]) - untraced["s"],
        })
        absent = [k for k in PER_LAYER if k not in layer]
        if absent:
            raise RuntimeError(f"trace produced no value for {absent}")
        info["spans"] = tracer.dump()
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        return info, metrics, ctx.attempted, ctx.failed
    finally:
        sampler.stop()
        stop_session(ctx.spark)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not engine_present():
        log(f"the engine sources (osm2ch_spark/, tests/) are not under {ROOT}")
        return 2
    sys.path[:0] = [HERE, ROOT]
    args = parse_args(argv)
    if os.environ.get("PYTHONHASHSEED") != str(args.hashseed):
        # this process itself runs with the pinned hash seed
        env = dict(os.environ, PYTHONHASHSEED=str(args.hashseed))
        os.execve(sys.executable, [sys.executable, os.path.abspath(__file__), *argv], env)

    import procs
    procs.become_subreaper()
    st = os.statvfs(ROOT)
    free = st.f_bavail * st.f_frsize
    if free < MIN_FREE_BYTES:
        # a run without room for its scratch fails, and says so
        log(f"{free >> 20} MiB free under {SCRATCH_ROOT}, need {MIN_FREE_BYTES >> 20} MiB")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    scratch = os.path.join(SCRATCH_ROOT, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))  # also creates SCRATCH_ROOT
    pin_env(args, scratch)
    affinity = len(os.sched_getaffinity(0))
    if affinity < args.cores:
        log(f"warning: {affinity} cores available, running local[{args.cores}]")
    info, metrics, attempted, failed = {}, {}, 0, 0
    code = 0
    try:
        info, metrics, attempted, failed = run(args, scratch)
    except Exception:  # noqa: BLE001 -- harness failure: report, clean up, exit non-zero
        log(f"run failed:\n{traceback.format_exc()}")
        code = 1
    finally:
        # the oracle's process pool started multiprocessing's resource
        # tracker, which otherwise lives until this process exits
        import gc
        from multiprocessing import resource_tracker
        gc.collect()
        resource_tracker._resource_tracker._stop()
        left = {p: procs.cmdline(p) for p in procs.descendants()}
        if left:
            log(f"after stop: {left}")
        killed = procs.reap(timeout=30)
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_ROOT)
        except OSError:
            pass
    info.update(wall_s=time.perf_counter() - T_START, cores=args.cores, affinity=affinity,
                heap_mb=args.heap_mb, hashseed=args.hashseed, free_bytes=free,
                killed_pids=killed)
    spans = info.pop("spans", None)
    log("env " + json.dumps(info, sort_keys=True))
    if spans:
        log("spans " + json.dumps(spans))
    if code:
        return code
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if not metrics:
        log("every repetition failed")
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
