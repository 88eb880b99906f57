"""PageRank on the directed edge table (SURVEY.md §3.3 P1).

Semantics (pinned for the 1e-6 parity gate, BASELINE.json north_rule):

    r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)/outdeg(u)  +  dangling_mass/N )

- outdeg(u) = *count* of distinct out-edges (unweighted contribution
  split, the classic formulation); ``weighted=True`` splits by edge
  weight instead — contribution fraction = weight/out_w — the
  web-graph link-multiplicity variant.
- dangling_mass = Σ r(u) over vertices with no out-edges, redistributed
  uniformly — keeps Σ r = 1 exactly each iteration.
- convergence: max |r' - r| < tol (L∞), observed on the iteration job.

Scale notes (100 TB / 1000 executors):
- the per-iteration plan is `ranks ⋈ edges on src` → groupBy(dst).sum.
  `edges` is cached once, PRE-HASH-PARTITIONED on the join key with the
  contribution factor precomputed — r is the only per-iteration change.
- **the iterated state holds only vertices with ≥1 in-edge.**  A vertex
  with no in-edges receives nothing, so its rank is the closed-form
  `base_t` every iteration; its *outgoing* contributions are a static
  per-dst `unit` (Σ frac over its no-in in-neighbors) scaled by the
  scalar `base_{t-1}`.  r6: `unit` RIDES THE RANK STATE as a column
  (attached once at init), so the flat-source contribution needs no
  per-iteration union branch or separate cached table — the iteration
  computes rank = base + d·(c + r_flat·unit) from the aggregation
  output directly.
- lineage is truncated every iteration via localCheckpoint (or a
  Checkpointer) — without it Catalyst replans a k-join-deep tree at
  iteration k and driver planning time explodes.
- **ONE Spark job, ONE post-scan shuffle per iteration**: the old rank
  state is unioned into the contribution aggregation as
  zero-contribution rows (old_rank/dang/unit non-null exactly once per
  id), so there is no post-aggregation vertex join stage; the
  convergence delta (max |r'−r|) and the NEXT iteration's dynamic
  dangling mass (Σ r' over `dang` vertices) are `DataFrame.observe`
  metrics delivered by the materialize action itself — no separate
  dangling-sum or delta jobs.
- r6 setup fusion: ONE vertex-stats aggregation (union of src/dst
  projections → groupBy(id)) carries out_deg/out_w/has_in per vertex
  and every setup scalar (n, n_dyn, n_out, dynamic dangling count)
  rides its materialize action as observe metrics — the r5 layout ran
  four separate jobs (verts.count, has_in.count, has_out.count, the
  observed ranks init) to learn the same numbers.
- `BROADCAST_THRESHOLD` (slm_scale's default `broadcast_threshold`) gates
  broadcast hints on the ONE-TIME setup joins (edges ⋈ src_info, the
  flat-unit attach) so small inputs skip those shuffle waves.  The
  per-iteration join deliberately does NOT broadcast the rank state:
  measured at sf0.1, an explicit per-iteration broadcast of the
  vertex-sized ranks was 2-4× slower and erratic (9-22s vs a stable
  4.3-4.7s for the cached-layout join, 4 reps each) — the persisted
  contribution cache's known statistics already let Catalyst broadcast
  the small side when the input is small, and at scale the
  pre-partitioned cache is the right layout anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from slmpy_spark.util import EdgeCache, materialize, owned_view, supersteps

BROADCAST_THRESHOLD = 250_000


def pagerank(
    edges: DataFrame,
    d: float = 0.85,
    tol: float = 1e-8,
    max_iter: int = 100,
    checkpoint_interval: int = 5,
    checkpointer=None,
    weighted: bool = False,
) -> DataFrame:
    """Return ranks(id long, rank double), Σ rank = 1; its
    `.unpersist()` frees the result's blocks.

    `weighted=True`: contributions split proportionally to edge weight
    (frac = weight/out_w) instead of uniformly (1/out_deg) — the
    web-graph variant where a page linked twice receives twice the
    mass.

    `checkpointer`: optional slmpy_spark.checkpoint.Checkpointer; when
    given, per-iteration state is persisted (resumable); otherwise
    localCheckpoint truncates lineage in-memory.

    When the vertex count fits under BROADCAST_THRESHOLD, the one-time
    setup joins take broadcast hints (see module docstring —
    per-iteration joins are NOT affected).
    """
    spark = edges.sparkSession

    # ONE vertex-stats aggregation replaces the r5 verts/has_in/has_out
    # distinct+count jobs: per id — directed out-degree (count, weight)
    # and the has-in flag; every setup scalar rides the materialize
    # action as an observe metric.  Weights are integral on web link
    # graphs, so the +0.0 rows from the dst projection leave out_w
    # bit-exact.
    obs0 = Observation()
    vstats = materialize(
        edges.select(
            F.col("src").alias("id"), F.lit(1).alias("o"), F.col("weight").alias("w"),
            F.lit(0).alias("i"),
        )
        .unionByName(
            edges.select(
                F.col("dst").alias("id"), F.lit(0).alias("o"), F.lit(0.0).alias("w"),
                F.lit(1).alias("i"),
            )
        )
        .groupBy("id")
        .agg(
            F.sum("o").alias("out_deg"),
            F.sum("w").alias("out_w"),
            F.max("i").alias("has_in"),
        )
        .observe(
            obs0,
            F.count(F.lit(1)).alias("n"),
            F.sum("has_in").alias("n_dyn"),
            F.sum((F.col("out_deg") > 0).cast("int")).alias("n_out"),
            F.sum(
                ((F.col("has_in") == 1) & (F.col("out_deg") == 0)).cast("int")
            ).alias("n_dang_dyn"),
        )
    )
    v0 = obs0.get
    n = int(v0["n"] or 0)
    if n == 0:
        vstats.unpersist()
        return spark.createDataFrame([], "id long, rank double")
    n_dyn = int(v0["n_dyn"] or 0)
    n_out = int(v0["n_out"] or 0)
    n_dangling_dyn = int(v0["n_dang_dyn"] or 0)
    n_flat = n - n_dyn
    n_dangling_flat = (n - n_out) - n_dangling_dyn
    hint = F.broadcast if n <= BROADCAST_THRESHOLD else (lambda f: f)

    # out-edge contribution fraction, fixed across iterations: per-edge
    # weight share (weighted) or the uniform 1/out_deg split.  The dyn
    # flag marks edges whose SOURCE is in the iterated state.
    frac_expr = (
        (F.col("weight") / F.col("out_w")) if weighted
        else (F.lit(1.0) / F.col("out_deg"))
    ).alias("frac")
    src_info = vstats.select(
        F.col("id").alias("src"), "out_deg", "out_w",
        (F.col("has_in") == 1).alias("dyn"),
    )
    # the dyn edges, persisted PRE-HASH-PARTITIONED on the join key over
    # a checkpoint leaf (util.EdgeCache): the cached relation's
    # outputPartitioning satisfies the per-iteration join's requirement,
    # so the edge-sized side is shuffled ONCE for the whole run and only
    # the (vertex-sized) ranks side moves per iteration; at small inputs
    # the cache's known statistics let Catalyst broadcast it instead.
    # The leaf also feeds the one-time flat-unit aggregation below.
    contrib = EdgeCache(
        edges.join(hint(src_info), "src").select("src", "dst", frac_expr, "dyn"),
        int(spark.conf.get("spark.sql.shuffle.partitions")), "src",
        view=lambda leaf: leaf.where("dyn").select("src", "dst", "frac"),
        eager=True,
    )

    r_flat = 1.0 / n  # current rank of every no-in vertex

    # rank state: (id, rank, dang, unit) over has-in vertices only.
    # `dang` (dynamic vertex with no out-edges) lets each iteration's
    # materialize job OBSERVE the next iteration's dynamic dangling
    # mass; `unit` is the static flat-source contribution Σ frac from
    # no-in in-neighbors, attached ONCE here and carried through every
    # iteration's aggregation (max(unit) — constant per id).
    ranks0 = vstats.where(F.col("has_in") == 1).select(
        "id",
        F.lit(1.0 / n).alias("rank"),
        ((F.col("out_deg") == 0).cast("int")).alias("dang"),
    )
    if n_flat:
        flat_unit = (
            contrib.leaf.where(~F.col("dyn"))
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("frac").alias("u"))
        )
        ranks0 = ranks0.join(hint(flat_unit), "id", "left").select(
            "id", "rank", "dang", F.coalesce(F.col("u"), F.lit(0.0)).alias("unit")
        )
    else:
        ranks0 = ranks0.select("id", "rank", "dang", F.lit(0.0).alias("unit"))
    ranks = materialize(ranks0)
    dmass_dyn = n_dangling_dyn / n

    n_iter = 0
    null_d = F.lit(None).cast("double")
    null_i = F.lit(None).cast("int")

    def step(ranks, it):
        nonlocal n_iter
        n_iter = it + 1
        dmass = n_dangling_flat * r_flat + dmass_dyn
        base = (1.0 - d) / n + d * dmass / n
        contribs = contrib.df.join(
            ranks.select(F.col("id").alias("src"), "rank"), "src", "inner"
        ).select(
            F.col("dst").alias("id"),
            (F.col("rank") * F.col("frac")).alias("c"),
            null_d.alias("old_rank"),
            null_i.alias("dang"),
            null_d.alias("unit"),
        )
        # the old state rides INTO the aggregation as zero-contribution
        # rows (old_rank/dang/unit are each non-null exactly once per
        # id), so the per-iteration plan is ONE shuffle into the groupBy
        # — vertex-sized partial sums in broadcast mode, the edge-sized
        # contribution rows otherwise — with no post-aggregation vertex
        # join stage; every has-in vertex receives ≥1 row by
        # construction, so the aggregation output IS the new rank set.
        # The convergence delta and the next iteration's dynamic
        # dangling mass ride the SAME job as observed metrics.
        with_old = contribs.unionByName(
            ranks.select(
                "id",
                F.lit(0.0).alias("c"),
                F.col("rank").alias("old_rank"),
                F.col("dang"),
                F.col("unit"),
            )
        )
        agg = with_old.groupBy("id").agg(
            F.sum("c").alias("c"),
            F.max("old_rank").alias("old_rank"),
            F.max("dang").alias("dang"),
            F.max("unit").alias("unit"),
        )
        obs = Observation()
        new_state = agg.select(
            "id",
            (
                F.lit(base)
                + F.lit(d) * (F.col("c") + F.lit(r_flat) * F.col("unit"))
            ).alias("rank"),
            "dang",
            "unit",
            "old_rank",
        )
        new_ranks = new_state.observe(
            obs,
            F.max(F.abs(F.col("rank") - F.col("old_rank"))).alias("delta"),
            F.sum(
                F.when(F.col("dang") == 1, F.col("rank")).otherwise(F.lit(0.0))
            ).alias("dmass"),
        ).select("id", "rank", "dang", "unit")

        def stop():
            nonlocal dmass_dyn, r_flat
            vals = obs.get
            delta = max(float(vals["delta"] or 0.0), abs(base - r_flat))
            dmass_dyn = float(vals["dmass"] or 0.0)
            r_flat = base
            return tol > 0.0 and delta < tol

        # the plan audit keeps dumping the pre-observe projection
        return new_ranks, stop, new_state

    out = supersteps(
        ranks, step, "pagerank_iter", max_iter, ("id", "rank"),
        checkpointer, "pagerank_ranks", every=checkpoint_interval,
    )
    if checkpointer is not None:
        checkpointer.log_metric(op="pagerank", iters=n_iter, n=n)
    if n_flat:
        # flat vertices re-derive LAZILY from the caller's edge table
        # (distinct src ∪ dst minus distinct dst) — pure lineage, no
        # pinned blocks, exactly the r5 consumption shape: the caller's
        # terminal action recomputes this tiny branch once.  Building it
        # from the vstats leaf instead would require the leaf's blocks
        # to outlive the returned frame (a per-call leak).
        all_ids = (
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        has_in_ids = edges.select(F.col("dst").alias("id")).distinct()
        out = owned_view(
            out.unionByName(
                all_ids.join(has_in_ids, "id", "left_anti").select(
                    "id", F.lit(r_flat).alias("rank")
                )
            ),
            out,
        )
    contrib.free()
    vstats.unpersist()
    return out
