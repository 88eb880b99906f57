"""Modularity quality function Q (SURVEY.md §1.1, §3.2 G3).

    Q = Σ_c [ Σin(c)/(2m) − γ · (Σtot(c)/(2m))² ]        (standard)
    Q_CPM = (1/2m) Σ_c [ Σin(c) − γ · n_c² ]             (constant Potts)

over the *symmetrized* table:  Σin(c) = total weight of intra-community
directed-pair entries (each undirected intra edge counted twice, like
the reference's CSR), Σtot(c) = Σ of weighted degrees of members.
Q is always taken on an original (non-aggregated) edge table, so the
self-loop weight graph aggregation accumulates never enters it.
slm_scale scores a pass with it only where the driver holds no final
partition (an empty-supergraph, converged or max_levels exit, and the
louvain_refine pass); a pass that ends in the exact finish is scored
there from the collected supergraph, with no Spark job.

Spark plan: two equi-joins of sym against the assignment (broadcast
when the assignment is small — Catalyst picks it; at web scale assign
is big, so it's a shuffled hash join on src/dst which reuses the edge
table's hash partitioning), one groupBy(community), then a driver-side
fold over one small per-community frame into ``kernels.q_of``, the
final expression every Q in the engine shares.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slmpy_spark.graph.edges import degrees
from slmpy_spark.graph.kernels import q_of


def community_aggregates(sym: DataFrame, assign: DataFrame) -> DataFrame:
    """Per-community (community, sigma_in, sigma_tot, n_nodes).

    sigma_in counts each intra-community undirected edge twice (both
    directed entries), matching the 1/(2m) normalization.
    """
    a_src = assign.select(F.col("id").alias("src"), F.col("community").alias("c_src"))
    a_dst = assign.select(F.col("id").alias("dst"), F.col("community").alias("c_dst"))
    joined = sym.join(a_src, "src").join(a_dst, "dst")
    sigma_in = (
        joined.where(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.sum("weight").alias("sigma_in"))
    )
    deg = degrees(sym)
    sigma_tot = (
        deg.join(assign, "id")
        .groupBy("community")
        .agg(F.sum("w_deg").alias("sigma_tot"), F.count("*").alias("n_nodes"))
    )
    return sigma_tot.join(sigma_in, "community", "left").select(
        "community",
        F.coalesce(F.col("sigma_in"), F.lit(0.0)).alias("sigma_in"),
        "sigma_tot",
        "n_nodes",
    )


def modularity(
    sym: DataFrame,
    assign: DataFrame,
    gamma: float = 1.0,
    quality: str = "modularity",
    two_m: float | None = None,
) -> float:
    """Compute Q for a given assignment (driver-side scalar).

    quality: "modularity" (standard, degree node weights) or "cpm"
    (constant Potts model, unit node weights, unnormalized γ).

    `two_m`: pass the known total weight (Σ weight over `sym`) to skip
    the edge-sized scan that re-derives it — slm_scale's fallback pass
    Q already holds it.
    """
    agg = community_aggregates(sym, assign)
    if two_m is None:
        row = sym.agg(F.sum("weight").alias("tw")).first()
        two_m = float(row["tw"] or 0.0)
    if two_m == 0.0:
        return 0.0
    comm = agg.select(
        F.sum("sigma_in").alias("s_in"),
        F.sum(F.col("sigma_tot") * F.col("sigma_tot")).alias("s_tot2"),
        F.sum(F.col("n_nodes") * F.col("n_nodes")).alias("n2"),
    ).first()
    s2 = comm["n2"] if quality == "cpm" else comm["s_tot2"]
    return q_of(float(comm["s_in"] or 0.0), float(s2), two_m, gamma, quality)
