"""Connected components via alternating small-star / large-star
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC 2014) — SURVEY.md §3.3 P2.

Each vertex carries a current label (initially its own id); rounds of

    large-star: for every edge (u,v) with v > u's label chain, attach
                strictly-larger neighbors to min(neighborhood ∪ self)
    small-star: attach smaller-or-equal neighbors likewise

converge in O(log n) rounds to label = min vertex id of the component.
Hub-safe: both stars are plain groupBy-min aggregations — no vertex
ever enumerates its whole neighborhood in one task, so power-law
graphs don't OOM (vs naive label-prop joins which fan hubs out).

Implementation below is the simplified "label = min over neighbors'
labels, repeat" with *path-halving* (label ← label of label), which
keeps the same O(log n) round bound with two shuffles per round and is
expressible entirely as joins/groupBys (no Python).

Output: assign(id long, component long), component = min id reachable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from slmpy_spark.graph.edges import symmetrize, vertices
from slmpy_spark.util import EdgeCache, materialize, supersteps


def connected_components(
    edges: DataFrame, max_iter: int = 50, checkpointer=None
) -> DataFrame:
    """Exact undirected connected components. Returns (id, component);
    its `.unpersist()` frees the result's blocks."""
    # the symmetric edge table, cached pre-hash-partitioned on the
    # per-round join key (dst) over a checkpoint leaf (util.EdgeCache):
    # only the vertex-sized label table shuffles per round
    sym = EdgeCache(symmetrize(edges).select("src", "dst"), "dst")

    # init: singleton labels, with the vertex count riding the
    # materialize action (r6 — replaces the separate persisted
    # verts.count() job; an empty graph yields an empty labels frame,
    # which is already the correct result)
    obs0 = Observation()
    labels = materialize(
        vertices(edges)
        .select("id", F.col("id").alias("component"))
        .observe(obs0, F.count(F.lit(1)).alias("n"))
    )
    if int(obs0.get["n"] or 0) == 0:
        sym.free()
        labels.unpersist()  # the empty checkpoint leaf would otherwise leak
        return edges.sparkSession.createDataFrame([], "id long, component long")

    def step(labels, it):
        # gather fused INTO one aggregation (r6): the state rides into
        # the neighbor-min groupBy as (id, own component, old=component)
        # rows, so candidate = min(own, neighbors) falls out of ONE
        # min-aggregation with no labels ⋈ nbr_min join — and the
        # pointer-jump self-join below consumes two plain projections of
        # the SAME aggregate, whose identical input exchanges stage-reuse
        # at runtime (the r5 layout computed the whole edge-sized join
        # subtree twice, once per jump side).
        null_l = F.lit(None).cast("long")
        cand = (
            sym.df.join(
                labels.select(F.col("id").alias("dst"), "component"), "dst"
            )
            .select(F.col("src").alias("id"), "component", null_l.alias("old"))
            .unionByName(
                labels.select("id", "component", F.col("component").alias("old"))
            )
            .groupBy("id")
            .agg(F.min("component").alias("component"), F.max("old").alias("old_c"))
        )
        # path halving: component ← label of component (pointer jump);
        # the changed flag rides along and its sum is OBSERVED on the
        # materialize action itself — one Spark job per round, no
        # separate convergence scan.  r6: the jump side reads the
        # PREVIOUS round's labels (the materialized leaf — a cheap block
        # re-scan) instead of self-joining `cand`, whose duplicated
        # aggregate subtree re-ran the whole edge-sized join a second
        # time per round.  prev_label[x] ≤ x by induction, so the jump
        # still contracts label chains (one-round-stale pointer
        # doubling), labels stay monotone non-increasing, and the
        # fixpoint — every label the component's min id, changed == 0 —
        # is unchanged; only the round count can differ by a hop.
        jump = labels.select(F.col("id").alias("jid"), F.col("component").alias("jcomp"))
        obs = Observation()
        new_labels = (
            cand.join(jump, cand.component == jump.jid, "left")
            .select(
                "id",
                F.coalesce(F.col("jcomp"), F.col("component")).alias("component"),
                (F.coalesce(F.col("jcomp"), F.col("component")) != F.col("old_c"))
                .cast("int")
                .alias("changed"),
            )
            .observe(obs, F.sum("changed").alias("ch"))
        )
        return new_labels, lambda: int(obs.get["ch"] or 0) == 0

    out = supersteps(
        labels, step, "cc_round", max_iter, ("id", "component"),
        checkpointer, "cc_labels",
    )
    sym.free()
    return out
