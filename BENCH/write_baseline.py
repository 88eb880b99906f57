#!/usr/bin/env python
"""Rebuild BENCH/BASELINE.md from selected raw ladder rows.

Usage: python BENCH/write_baseline.py --since-line N [--raw PATH]

Takes the raw jsonl rows from line N onward (1-based; use the first
line produced by the code version being reported), groups by
(op, cpus), writes medians + efficiency.  The one BASELINE.md writer:
BENCH/run_scaling.py only appends raw rows, and ladder passes for
different ops may be (re)run in separate invocations when the code for
one op changed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--since-line", type=int, required=True)
    ap.add_argument(
        "--exclude-lines",
        default="",
        help="comma-separated 1-based line numbers to drop "
        "(reps of superseded code versions)",
    )
    ap.add_argument("--raw", default=os.path.join(HERE, "scaling_raw.jsonl"))
    ap.add_argument("--out", default=os.path.join(HERE, "BASELINE.md"))
    args = ap.parse_args()

    excl = {int(x) for x in args.exclude_lines.split(",") if x.strip()}
    rows = []
    with open(args.raw) as f:
        for i, line in enumerate(f, 1):
            if i >= args.since_line and i not in excl and line.strip():
                rows.append(json.loads(line))

    groups: dict[tuple[str, int], list[dict]] = {}
    for r in rows:
        groups.setdefault((r["op"], r["cpus"]), []).append(r)

    ops = []
    for op, _ in groups:
        if op not in ops:
            ops.append(op)

    def med(op, cpus, key="secs"):
        return statistics.median(x[key] for x in groups[(op, cpus)])

    nodes = rows[0].get("nodes", 2_000_000)
    m = rows[0]["edges"]
    lines = [
        "# BENCH/BASELINE.md — measured scaling (sandbox N→4N substitution)",
        "",
        f"Input: seed-42 Chung-Lu power-law graph, {nodes:,} nodes, "
        f"{m:,} directed edge rows (tests/genfixtures.g_powerlaw), planted "
        "1% hub. AQE on, shuffle partitions = max(cores, 8). Reps per "
        "cell shown below; medians reported — single runs on this host "
        "vary up to ±40% from external contention (see BENCH/NOTES.md).",
        "",
        "| op | reps/cell | local[8] (N) secs | local[32] (4N) secs | speedup | efficiency (target ≥0.8) |",
        "| --- | --- | --- | --- | --- | --- |",
    ]
    for op in ops:
        t8, t32 = med(op, 8), med(op, 32)
        reps = min(len(groups[(op, 8)]), len(groups[(op, 32)]))
        sp = t8 / t32
        lines.append(
            f"| {op} | {reps} | {t8:.1f} | {t32:.1f} | {sp:.2f}× | {sp / 4:.2f} |"
        )
    lines += [
        "",
        "Throughput (edge-entries processed / sec, from worker-reported",
        "work counters — actual sweeps/iterations, not assumed):",
        "",
        "| op | local[8] | local[32] |",
        "| --- | --- | --- |",
    ]
    for op in ops:
        w = groups[(op, 8)][0]["work"]
        lines.append(f"| {op} | {w / med(op, 8):,.0f} | {w / med(op, 32):,.0f} |")
    lines.append("")
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {args.out} from {len(rows)} rows (ops: {', '.join(ops)})")


if __name__ == "__main__":
    main()
