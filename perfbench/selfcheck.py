#!/usr/bin/env python3
"""The benchmark's own checks.  Run from the repository root:

    python3 perfbench/selfcheck.py [--skip-run]

1. The generator is byte-stable: the same (workload, seed, sizes) gives
   the same source table sha256, another seed another one.
2. On a small seed, the block-wise CSV oracle (oracle.py) equals one
   whole-input run of ``tests/reference_impl``, for the edge and the
   vertex CSV, and the prefix bookkeeping matches a shorter input.
3. The vectorized PageRank oracle is allclose 1e-6 to
   ``tests/graph_oracle.pagerank_oracle`` at the same iteration count.
4. Unless ``--skip-run``: one benchmark run ends with no process left
   that it started and no scratch directory left behind; and in a
   directory holding only BENCHMARK.json and perfbench/, the command
   exits non-zero without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import uuid

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import workloads as W  # noqa: E402


class CheckFailed(Exception):
    pass


def expect(cond, msg) -> None:
    if not cond:
        raise CheckFailed(msg)


SMALL = {
    "osm_ingest": dict(W.SIZES["osm_ingest"]["full"], blocks=3),
    "hub_city_resume": dict(W.SIZES["hub_city_resume"]["full"], blocks=2),
}


def check_generator() -> None:
    for name, size in SMALL.items():
        a = gen.table_sha256(gen.source_rows(name, 7, size))
        b = gen.table_sha256(gen.source_rows(name, 7, size))
        c = gen.table_sha256(gen.source_rows(name, 8, size))
        expect(a == b, f"{name}: same seed, different tables")
        expect(a != c, f"{name}: different seeds, same table")


def check_blockwise() -> None:
    from tests import reference_impl as R
    for name, size in SMALL.items():
        records = [r for i in range(size["blocks"])
                   for r in gen.block_records(name, 7, i, size)]
        whole = R.run(records)["expanded"]
        blocks, _, block_edges, block_rows = oracle.expanded_blockwise(name, 7, size)
        expect(R.expanded_csv_rows(blocks) == R.expanded_csv_rows(whole),
               f"{name}: block-wise edge CSV differs from the whole-input run")
        expect(oracle.vertex_csv_rows(blocks) == oracle.vertex_csv_rows(whole),
               f"{name}: block-wise vertex CSV differs from the whole-input run")
        full = oracle.build(name, 7, size, {})
        short = oracle.build(name, 7, dict(size, blocks=size["blocks"] - 1), {})
        n = size["blocks"] - 2
        expect(np.array_equal(full["edges_sha"][:full["block_rows"][n]], short["edges_sha"])
               and np.array_equal(full["vertices_sha"][:full["block_vertices"][n]],
                                  short["vertices_sha"])
               and full["block_edges"][n] == short["block_edges"][-1],
               f"{name}: the oracle of the first blocks is not a prefix of the full oracle")


def check_pagerank() -> None:
    from tests import graph_oracle as G
    size = SMALL["hub_city_resume"]
    o = oracle.build("hub_city_resume", 7, size, {})
    iters = W.GRAPH_PARAMS["pagerank_iters"]
    v, r = oracle.pagerank(o["src"], o["dst"], iters)
    ref = G.pagerank_oracle(list(zip(o["src"].tolist(), o["dst"].tolist())), tol=0.0,
                            max_iter=iters)
    expect(v.tolist() == sorted(ref), "pagerank oracles disagree on the vertex set")
    expect(np.allclose(r, [ref[k] for k in v.tolist()], rtol=0, atol=1e-6),
           "vectorized pagerank is not allclose 1e-6 to graph_oracle.pagerank_oracle")


def _processes_with(token: str) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if token.encode() in f.read():
                    out.append(int(name))
        except OSError:
            pass
    return out


def check_run_cleanup() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    token = f"perfbench-selfcheck-{uuid.uuid4().hex}"
    env = dict(os.environ, PERFBENCH_SELFCHECK=token)
    proc = subprocess.run([*command, "--workload", "osm_ingest", "--seed", "1", "--seconds", "1",
                           "--trace", "0"], cwd=ROOT, env=env, capture_output=True, text=True,
                          timeout=600)
    expect(proc.returncode == 0, proc.stderr[-3000:])
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    expect(result["correct"] and result["failed"] == 0, result)
    left = _processes_with(token)
    expect(not left, f"processes left behind: {left}")
    scratch = os.path.join(ROOT, ".perfbench-scratch")
    expect(not os.path.exists(scratch), f"scratch directory {scratch} left behind")


def check_without_engine() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        command = json.load(f)["command"]
    bare = os.path.join(ROOT, ".perfbench-scratch", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = subprocess.run([*command, "--workload", "osm_ingest", "--seed", "1",
                               "--seconds", "1", "--trace", "0"], cwd=bare,
                              capture_output=True, text=True, timeout=180)
        expect(proc.returncode != 0, "the command succeeded without the engine")
        expect(not proc.stdout.strip(), f"printed a result: {proc.stdout[-500:]}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--skip-run", action="store_true")
    args = p.parse_args(argv)
    checks = [check_generator, check_blockwise, check_pagerank]
    if not args.skip_run:
        checks += [check_without_engine, check_run_cleanup]
    failed = 0
    for check in checks:
        try:
            check()
            print(f"ok   {check.__name__}", flush=True)
        except CheckFailed as e:
            failed += 1
            print(f"FAIL {check.__name__}: {e}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
