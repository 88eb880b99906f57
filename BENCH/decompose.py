#!/usr/bin/env python
"""Serial-floor decomposition for the scaling ladder (VERDICT r2 #3).

Runs ONE instrumented slm ladder rep at local[8] and local[32]
back-to-back (SLMPY_DEBUG=1), parses the per-sweep/per-phase trace, and
attributes wall time with the two-point model

    t_c = s + p / c        (s = serial seconds, p = parallel work)

solved per phase from the matched pair:  s = (4·t32 − t8) / 3.

Prints a breakdown table and appends it to BENCH/NOTES.md, so a <0.8
efficiency number is attributable (driver job submit + planning vs
actual parallel compute), not vague.

Usage: python BENCH/decompose.py [--nodes 2000000] [--edges 10000000]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, os.environ["SLMPY_REPO"])
from slmpy_spark.util import local_session
cpus = int(sys.argv[1]); n_nodes = int(sys.argv[2]); m_target = int(sys.argv[3])
cache = sys.argv[4] if len(sys.argv) > 4 else ""
spark = local_session(cpus, "24g")
import pandas as pd
from tests.genfixtures import g_powerlaw_arrays
from slmpy_spark import engine
from slmpy_spark.graph.slm import LAST_RUN_STATS
if cache:
    edges = spark.read.parquet(cache).repartition(max(cpus, 8)).persist()
else:
    s, d, w = g_powerlaw_arrays(n=n_nodes, m_target=m_target, seed=42)
    edges = (spark.createDataFrame(pd.DataFrame({"src": s, "dst": d, "weight": w}))
             .repartition(max(cpus, 8)).persist())
edges.count()
engine.degrees(engine.symmetrize(edges)).count()  # warm-up
t0 = time.time()
assign, q = engine.slm(edges, seed=42, mode="scale", max_sweeps=16,
                       exact_threshold=200_000)
print("TOTAL " + json.dumps({"cpus": cpus, "secs": time.time() - t0, "q": q,
                             "sweeps": LAST_RUN_STATS["sweeps"]}))
spark.stop()
"""

SWEEP_RE = re.compile(
    r"level (\d+) sweep (\d+) frac=[\d.]+ q\(pre\)=[-\d.]+ moves=\d+ job=([\d.]+)s"
)
# non-sweep phase lines emitted by slm._phase (r5): attribute the
# opaque "non-sweep" bucket per phase
PHASE_RE = re.compile(r"phase level=(-?\d+) name=(\S+) secs=([\d.]+)")


def _wait_for_quiet(threshold: float = 4.0, max_wait: float = 600.0,
                    poll: float = 15.0) -> float:
    """Same refuse-to-measure-under-load guard as run_scaling.py (r6):
    the two-point model's serial estimate s = (4*t32 - t8)/3 amplifies
    any contamination of the 32c leg by 4/3, so both legs must start
    quiet."""
    t0 = time.time()
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    while load > threshold and time.time() - t0 < max_wait:
        time.sleep(poll)
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
    return load


def run(cpus: int, nodes: int, edges: int, cache: str = ""):
    env = dict(os.environ, SLMPY_REPO=REPO, SLMPY_DEBUG="1")
    load0 = _wait_for_quiet()
    argv = [sys.executable, "-c", WORKER, str(cpus), str(nodes), str(edges)]
    if cache:
        argv.append(cache)
    proc = subprocess.run(
        argv,
        capture_output=True, text=True, env=env, cwd=REPO, timeout=7200,
    )
    total = None
    for line in proc.stdout.splitlines():
        if line.startswith("TOTAL "):
            total = json.loads(line[len("TOTAL "):])
    sweep_secs = defaultdict(float)
    sweep_n = defaultdict(int)
    for m in SWEEP_RE.finditer(proc.stderr):
        lvl = int(m.group(1))
        sweep_secs[lvl] += float(m.group(3))
        sweep_n[lvl] += 1
    phase_secs = defaultdict(float)
    for m in PHASE_RE.finditer(proc.stderr):
        phase_secs[m.group(2)] += float(m.group(3))
    if total is None:
        raise RuntimeError(proc.stdout[-2000:] + proc.stderr[-2000:])
    return total, dict(sweep_secs), dict(sweep_n), dict(phase_secs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--nodes", type=int, default=2_000_000)
    ap.add_argument("--edges", type=int, default=10_000_000)
    ap.add_argument("--graph-cache", default="",
                    help="pre-generated parquet graph (see run_scaling.py)")
    args = ap.parse_args()

    t8, s8, n8, p8 = run(8, args.nodes, args.edges, args.graph_cache)
    t32, s32, n32, p32 = run(32, args.nodes, args.edges, args.graph_cache)

    lines = [
        "",
        "## Serial-floor decomposition (BENCH/decompose.py, matched pair, 1 rep each)",
        "",
        f"Input {args.nodes:,} nodes / ~{args.edges:,} edges, seed 42. "
        f"Totals: local[8] {t8['secs']:.1f}s ({t8['sweeps']} sweeps), "
        f"local[32] {t32['secs']:.1f}s ({t32['sweeps']} sweeps); "
        f"Q8={t8['q']!r} Q32={t32['q']!r} "
        f"({'bit-identical' if t8['q'] == t32['q'] else 'DIFFER'}).",
        "",
        "Two-point model t_c = s + p/c per component "
        "(s = serial seconds = (4*t32 - t8)/3):",
        "",
        "| component | t@8c | t@32c | serial s | parallel p | s share of t32 |",
        "| --- | --- | --- | --- | --- | --- |",
    ]

    def row(name, a, b):
        s = max(0.0, (4 * b - a) / 3)
        p = max(0.0, (a - s) * 8)
        share = 100 * s / b if b else 0
        lines.append(
            f"| {name} | {a:.1f} | {b:.1f} | {s:.1f} | {p:.0f} | {share:.0f}% |"
        )

    sweeps8 = sum(s8.values())
    sweeps32 = sum(s32.values())
    row("LM sweep jobs (all levels)", sweeps8, sweeps32)
    for lvl in sorted(set(s8) | set(s32)):
        row(
            f"  level {lvl} ({n8.get(lvl, 0)}/{n32.get(lvl, 0)} sweeps)",
            s8.get(lvl, 0.0), s32.get(lvl, 0.0),
        )
    row("non-sweep (split+aggregate+exact finish+driver)",
        t8["secs"] - sweeps8, t32["secs"] - sweeps32)
    # per-phase attribution of the non-sweep bucket (slm._phase lines,
    # summed over levels/passes).  Note: split_distributed (giant-path
    # split) CONTAINS nested LM sweep jobs already counted above —
    # it is zero on graphs where the kernel split path runs.
    for name in sorted(set(p8) | set(p32)):
        row(f"  phase {name}", p8.get(name, 0.0), p32.get(name, 0.0))
    instr8 = sum(p8.values()) + sweeps8
    instr32 = sum(p32.values()) + sweeps32
    row("  uninstrumented driver glue",
        max(0.0, t8["secs"] - instr8), max(0.0, t32["secs"] - instr32))
    row("TOTAL", t8["secs"], t32["secs"])
    lines += [
        "",
        f"Efficiency this pair: {(t8['secs'] / t32['secs']) / 4:.2f}. "
        "Per-sweep serial floor ≈ s(LM)/sweeps = "
        f"{max(0.0, (4 * sweeps32 - sweeps8) / 3) / max(1, t32['sweeps']):.2f}s "
        "(driver job submission + Catalyst/AQE planning + stage scheduling "
        "waves — constant per sweep, independent of cores).",
        "",
    ]
    text = "\n".join(lines)
    print(text)
    with open(os.path.join(HERE, "NOTES.md"), "a") as f:
        f.write(text)
    print("appended to BENCH/NOTES.md")


if __name__ == "__main__":
    main()
