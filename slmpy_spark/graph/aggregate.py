"""Graph aggregation & clustering bookkeeping (SURVEY.md G7–G10).

- aggregate_graph (G7): communities → super-nodes; inter-community
  weights summed, intra-community weight becomes super-node self-weight.
- relabel_by_size (G10): renumber communities 0..k-1 ordered by
  (size desc, old id asc) — canonical form for permutation-invariant
  fixture comparison.

All pure join+groupBy; at scale the G7 groupBy(cs, cd) is the dominant
shuffle of an SLM level and shrinks the data 10–1000× — AQE coalesces
the post-shuffle partitions so later levels don't run thousands of
empty tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def aggregate_graph(sym: DataFrame, assign: DataFrame, bcast: bool = False):
    """Build the reduced network. Returns (super_edges, self_weights):

    super_edges : src, dst, weight   — inter-community, both directions
                                       (still a symmetrized table)
    self_weights: id, self_weight    — Σ intra-community weight per
                                       super-node (each undirected intra
                                       edge counted twice, CSR-style)

    `bcast`: broadcast-hint the two vertex-sided assignment projections
    (callers gate it on the level's vertex count — the SLM level loop's
    broadcast_threshold); the big table then never exchanges before the
    (cs, cd) aggregation.
    """
    hint = F.broadcast if bcast else (lambda f: f)
    a_src = hint(
        assign.select(F.col("id").alias("src"), F.col("community").alias("cs"))
    )
    a_dst = hint(
        assign.select(F.col("id").alias("dst"), F.col("community").alias("cd"))
    )
    # dst joined first: inside the SLM level loop `sym` arrives cached
    # in repartition("dst") layout, so the big side exchanges only once
    # (on src) instead of twice
    j = sym.join(a_dst, "dst").join(a_src, "src")
    grouped = j.groupBy("cs", "cd").agg(F.sum("weight").alias("weight"))
    super_edges = grouped.where(F.col("cs") != F.col("cd")).select(
        F.col("cs").alias("src"), F.col("cd").alias("dst"), "weight"
    )
    self_weights = grouped.where(F.col("cs") == F.col("cd")).select(
        F.col("cs").alias("id"), F.col("weight").alias("self_weight")
    )
    return super_edges, self_weights


def relabel_by_size(assign: DataFrame) -> DataFrame:
    """Canonical renumbering: communities get ids 0..k-1 ordered by
    (member count desc, old community id asc)  (G10)."""
    sizes = assign.groupBy("community").count()
    w = Window.orderBy(F.desc("count"), F.asc("community"))
    mapping = sizes.select(
        "community", (F.row_number().over(w) - F.lit(1)).cast("long").alias("new_c")
    )
    return assign.join(mapping, "community").select(
        "id", F.col("new_c").alias("community")
    )
