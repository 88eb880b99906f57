#!/usr/bin/env python
"""N→4N scaling-efficiency evidence: the one ladder runner.

No multi-executor cluster exists in this sandbox, so the north rule's
"N to 4N executors ≥ 0.8 efficiency" criterion is evidenced by running
the identical job at two local parallelism levels (local[8] = N,
local[32] = 4N) on the same seed-42 power-law input, reporting
throughput at both plus efficiency = (T_8 / T_32) / 4 ... expressed as
speedup/4 where speedup = wall_8 / wall_32.

Usage:  python BENCH/run_scaling.py [--edges 1000000] [--reps 3]
Appends: raw JSON lines to BENCH/scaling_raw.jsonl.  An slm row
carries SLM's run record (slm.LAST_RUN_STATS: per-level sweep jobs and
per-phase seconds) next to its wall time.
BENCH/write_baseline.py builds BENCH/BASELINE.md from selected rows.

Run each parallelism level in a separate process (a JVM can't change
master); this script orchestrates via subprocess.  BENCH/decompose.py
runs its matched pair through `run_level` too.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["SLMPY_REPO"])
from slmpy_spark.util import local_session

cpus = int(sys.argv[1])
n_nodes = int(sys.argv[2])
m_target = int(sys.argv[3])
op = sys.argv[4]
cache_path = sys.argv[5] if len(sys.argv) > 5 else ""

spark = local_session(cpus, os.environ.get("SLMPY_DRIVER_MEM", "24g"))

from tests.genfixtures import g_powerlaw_arrays
from slmpy_spark import engine
import pandas as pd

if cache_path:
    # pre-generated by the parent (one single-threaded generation per
    # ladder instead of one per worker — at 40M+ edges generation costs
    # ~25 min/worker, dwarfing the measured job)
    edges = spark.read.parquet(cache_path).repartition(max(cpus, 8)).persist()
else:
    gsrc, gdst, gw = g_powerlaw_arrays(n=n_nodes, m_target=m_target, seed=42)
    pdf = pd.DataFrame({"src": gsrc, "dst": gdst, "weight": gw})
    edges = (
        spark.createDataFrame(pdf)  # Arrow path
        .repartition(max(cpus, 8))
        .persist()
    )
m = edges.count()

# warm-up: one cheap action through the whole stack
engine.degrees(engine.symmetrize(edges)).count()

t0 = time.time()
if op == "slm":
    from slmpy_spark.graph.slm import LAST_RUN_STATS as stats
    # generous sweep budget — the per-level Q_TOL stopping rule exits
    # early once a level's Q gain flattens, so levels converge properly
    # and the hierarchy collapses in few levels
    assign, q = engine.slm(edges, seed=42, mode="scale", max_sweeps=16,
                           exact_threshold=200_000)
    dt = time.time() - t0
    out = {"op": op, "cpus": cpus, "edges": m, "secs": dt, "q": q,
           "sweeps": stats["sweeps"],
           "work": stats["edge_entries_swept"],
           "throughput": stats["edge_entries_swept"] / dt,
           "sweep_jobs": stats["sweep_jobs"],
           "phases": stats["phases"]}
elif op == "pagerank":
    iters = 8
    engine.pagerank(edges, tol=0.0, max_iter=iters).count()
    dt = time.time() - t0
    out = {"op": op, "cpus": cpus, "edges": m, "secs": dt,
           "work": m * iters,
           "throughput": m * iters / dt}
print("RESULT " + json.dumps(out))
spark.stop()
"""


def _loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _wait_for_quiet(threshold: float, max_wait: float, poll: float = 15.0) -> float:
    """Per-leg refuse-to-measure-under-load guard, ported from bench.py
    (VERDICT r5 'do this' #1): the r5 100M 32c leg started at loadavg
    7.06 — the 8c leg's residue — because the ladder only *recorded*
    loadavg.  Wait (bounded) for the 1-minute load to drop below
    `threshold` before launching the leg; if it never does, proceed —
    the recorded loadavg_1m_start keeps the row self-indicting."""
    t0 = time.time()
    load = _loadavg_1m()
    while load > threshold and time.time() - t0 < max_wait:
        print(
            f"[scaling] host busy (loadavg {load:.2f} > {threshold:g}); "
            f"waiting up to {int(max_wait - (time.time() - t0))}s...",
            flush=True,
        )
        time.sleep(poll)
        load = _loadavg_1m()
    return load


def graph_cache(path: str, nodes: int, edges: int) -> None:
    """Make `path` hold the seed-42 power-law graph of this size: reuse
    it when its sidecar metadata matches, generate it (numpy → pyarrow,
    no Spark) when it is absent, and exit otherwise.  The sidecar
    guards against silently benchmarking a stale cache from a previous
    ladder at a different size/seed (only detectable after the fact via
    recorded n_edges otherwise)."""
    meta_path = path + ".meta.json"
    want = {"nodes": nodes, "edges": edges, "seed": 42}
    if os.path.exists(path):
        if not os.path.exists(meta_path):
            sys.exit(
                f"graph cache {path} has no sidecar {meta_path}; refusing "
                "to reuse an unverifiable cache — delete it or add the sidecar"
            )
        with open(meta_path) as f:
            have = json.load(f)
        if have != want:
            sys.exit(
                f"graph cache mismatch: {meta_path} says {have}, this run "
                f"wants {want} — delete the cache or fix the flags"
            )
        return
    sys.path.insert(0, REPO)
    from tests.genfixtures import g_powerlaw_arrays
    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = time.time()
    gsrc, gdst, gw = g_powerlaw_arrays(n=nodes, m_target=edges, seed=42)
    pq.write_table(pa.table({"src": gsrc, "dst": gdst, "weight": gw}), path)
    with open(meta_path, "w") as f:
        json.dump(want, f)
    print(f"graph cache written: {path} "
          f"({len(gsrc):,} rows, {time.time() - t0:.0f}s)", flush=True)


def run_level(
    cpus: int, n_nodes: int, m_target: int, op: str, timeout: int = 3600,
    cache_path: str = "",
) -> dict:
    """One quiet-gated worker process; returns its RESULT row plus the
    host's 1-minute loadavg at the leg's start and end."""
    env = dict(os.environ, SLMPY_REPO=REPO)
    load0 = _wait_for_quiet(
        float(os.environ.get("SPARK_GRAFT_LOAD_MAX", "4.0")),
        float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "600")),
    )
    proc = subprocess.run(
        [sys.executable, "-c", WORKER, str(cpus), str(n_nodes), str(m_target),
         op, cache_path],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=timeout,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            rec = json.loads(line[len("RESULT "):])
            # contention self-calibration (same idea as bench.py's
            # loadavg fields): start load is pre-worker host pressure;
            # end load includes the worker's own threads
            rec["loadavg_1m_start"] = load0
            rec["loadavg_1m_end"] = _loadavg_1m()
            return rec
    raise RuntimeError(f"no RESULT (cpus={cpus} op={op}):\n{proc.stdout[-2000:]}\n{proc.stderr[-2000:]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--nodes", type=int, default=200_000)
    ap.add_argument("--edges", type=int, default=1_000_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--ops", default="pagerank,slm")
    ap.add_argument(
        "--timeout", type=int, default=3600,
        help="per-worker wall cap, seconds (the ~100M-edge point needs >3600 at 8 cores)",
    )
    ap.add_argument(
        "--graph-cache", default="",
        help="parquet path for the input graph: generated ONCE by this "
        "process (numpy → pyarrow, no Spark) and read by every worker — "
        "saves one ~25-min single-threaded generation per worker at 40M+ "
        "edges.  The file is left in place for reuse across invocations.",
    )
    ap.add_argument(
        "--cpus", default="8,32",
        help="comma-separated core counts to run (default '8,32'); a "
        "single value runs one leg only — used to add extra reps of "
        "the noisier 32c leg without paying the 8c wall each time "
        "(wall evidence; efficiency is only quoted from matched pairs)",
    )
    args = ap.parse_args()
    cpu_levels = tuple(int(c) for c in args.cpus.split(","))

    if args.graph_cache:
        graph_cache(args.graph_cache, args.nodes, args.edges)

    raw_path = os.path.join(HERE, "scaling_raw.jsonl")
    with open(raw_path, "a") as raw:
        for op in args.ops.split(","):
            secs = {c: [] for c in cpu_levels}
            # MATCHED PHASES: each rep runs the 8-core and 32-core
            # levels back-to-back before the next rep, so a drifting
            # host-load phase hits both levels of a pair equally
            # (r2's official table mixed phases and understated
            # efficiency by up to 2x vs a quiet-window probe)
            for rep in range(args.reps):
                for cpus in cpu_levels:
                    rec = run_level(cpus, args.nodes, args.edges, op,
                                    args.timeout, args.graph_cache)
                    rec["rep"] = rep
                    raw.write(json.dumps(rec) + "\n")
                    raw.flush()
                    secs[cpus].append(rec["secs"])
                    print(f"{op} local[{cpus}] rep {rep}: {rec['secs']:.1f}s",
                          flush=True)
            for cpus in cpu_levels:
                print(f"{op} local[{cpus}]: median "
                      f"{statistics.median(secs[cpus]):.1f}s", flush=True)
    print(f"raw rows appended to {raw_path}; "
          "BENCH/write_baseline.py builds BASELINE.md from them")


if __name__ == "__main__":
    main()
