#!/usr/bin/env python
"""Serial-floor decomposition for the scaling ladder (VERDICT r2 #3).

Runs ONE slm ladder rep at local[8] and local[32] back-to-back through
run_scaling.run_level (same worker, quiet gate and graph cache), reads
the per-sweep/per-phase seconds from each row's SLM run record, and
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
import os
from collections import defaultdict

from run_scaling import HERE, graph_cache, run_level


def _by_level(rec: dict):
    """(level → summed sweep secs, level → sweep count, phase name →
    secs summed over levels/passes) from one RESULT row."""
    secs, n, phases = defaultdict(float), defaultdict(int), defaultdict(float)
    for level, s in rec["sweep_jobs"]:
        secs[level] += s
        n[level] += 1
    for _level, name, s in rec["phases"]:
        phases[name] += s
    return secs, n, phases


def report(nodes: int, edges: int, t8: dict, t32: dict) -> str:
    """The two-point table for a matched pair of slm RESULT rows."""
    s8, n8, p8 = _by_level(t8)
    s32, n32, p32 = _by_level(t32)
    lines = [
        "",
        "## Serial-floor decomposition (BENCH/decompose.py, matched pair, 1 rep each)",
        "",
        f"Input {nodes:,} nodes / ~{edges:,} edges, seed 42. "
        f"Totals: local[8] {t8['secs']:.1f}s ({t8['sweeps']} sweeps), "
        f"local[32] {t32['secs']:.1f}s ({t32['sweeps']} sweeps); "
        f"Q8={t8['q']!r} Q32={t32['q']!r} "
        f"({'bit-identical' if t8['q'] == t32['q'] else 'DIFFER'}). "
        f"loadavg_1m start/end: local[8] {t8['loadavg_1m_start']:.2f}/"
        f"{t8['loadavg_1m_end']:.2f}, local[32] {t32['loadavg_1m_start']:.2f}/"
        f"{t32['loadavg_1m_end']:.2f}.",
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
    # per-phase attribution of the non-sweep bucket (summed over
    # levels/passes; phases and sweep jobs do not overlap)
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
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--nodes", type=int, default=2_000_000)
    ap.add_argument("--edges", type=int, default=10_000_000)
    ap.add_argument("--graph-cache", default="",
                    help="pre-generated parquet graph (see run_scaling.py)")
    args = ap.parse_args()

    if args.graph_cache:
        graph_cache(args.graph_cache, args.nodes, args.edges)
    t8 = run_level(8, args.nodes, args.edges, "slm", 7200, args.graph_cache)
    t32 = run_level(32, args.nodes, args.edges, "slm", 7200, args.graph_cache)
    text = report(args.nodes, args.edges, t8, t32)
    print(text)
    with open(os.path.join(HERE, "NOTES.md"), "a") as f:
        f.write(text)
    print("appended to BENCH/NOTES.md")


if __name__ == "__main__":
    main()
