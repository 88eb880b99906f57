#!/usr/bin/env python
"""Per-operator isolation harness (guide §1.4) — NOT the official bench.

Runs ONE bench operator N times in a fresh session configured exactly
like bench.py, timing each rep, so before/after comparisons of a single
optimization are not drowned by whole-bench noise (the official bench's
per-query spread is up to 2x on cc/triangles).

Usage: python bench_extra.py <op> [reps] [sf_dir]
  op ∈ edges|degrees|pagerank|cc|lpa|triangles|slm|all
Prints one JSON line: {"op": ..., "reps": [...], "median": ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time


def main() -> None:
    op = sys.argv[1] if len(sys.argv) > 1 else "all"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from slmpy_spark.util import local_session

    spark = local_session(cpus, os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))

    from slmpy_spark import engine
    from slmpy_spark.sources.docs import documents_to_edges

    edges = documents_to_edges(spark, sf_dir).persist()
    edges.count()
    # warm the stack once (JVM/codegen), as bench.py's earlier queries do
    engine.degrees(engine.symmetrize(edges)).count()

    ops = {
        "edges": lambda: documents_to_edges(spark, sf_dir).count(),
        "degrees": lambda: engine.degrees(engine.symmetrize(edges)).count(),
        "pagerank": lambda: engine.pagerank(edges, tol=0.0, max_iter=10).count(),
        "cc": lambda: engine.connected_components(edges).count(),
        "lpa": lambda: engine.label_propagation(edges, max_iter=5).count(),
        "triangles": lambda: engine.triangle_count(edges)[0],
        "slm": lambda: engine.slm(
            edges, seed=42, mode="scale", max_sweeps=12, exact_threshold=50_000
        )[1],
    }
    names = list(ops) if op == "all" else [op]
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        times, vals = [], []
        for _ in range(reps):
            t0 = time.time()
            v = ops[name]()
            times.append(round(time.time() - t0, 3))
            vals.append(v)
        print(
            json.dumps(
                {
                    "op": name,
                    "reps": times,
                    "median": round(statistics.median(times), 3),
                    "result": vals[0],
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
