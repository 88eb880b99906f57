"""Smart Local Moving / Louvain over the edge table (SURVEY.md G4–G16).

Two execution modes (SURVEY.md §5.3):

- **exact**: the whole (small) symmetrized graph is collected to the
  driver, which runs the sequential reference algorithm
  (kernels.run_slm) on it — the same hand-off as scale mode's exact
  finish; bitwise-deterministic given a seed; used for the
  golden-fixture parity gate.

- **scale**: the distributed path for web-scale graphs.  An input of
  at most ``exact_threshold`` rows runs on the driver: ONE bounded
  collect (one Spark job, one task, at most ``exact_threshold + 1``
  rows) brings it there as arrays (``_driver_graph``), and every pass is
  one level loop over them (``_driver_pass``) with one rule per level,
  its symmetrized entry count: a level of at most ``exact_threshold``
  entries is the exact finish (``_finish_core``, no collect), a bigger
  one is *held* — steps 1–3 below, the canonical labels and the
  merge-down run in numpy over the arrays (step 1 is
  ``kernels.sync_sweep`` under the same guard loop, step 2 the same
  per-community kernel), so a driver run makes no Spark job after the
  probe.  The result relation is built once, after every pass.
  Otherwise (``_scale_pass``), per outer level:
    1. *distributed local moving*: a fully JVM-side synchronous sweep.
       Each sweep computes k_{i,c} (weight from every vertex i to every
       neighboring community c) as ``groupBy(src, cand).sum(weight)`` —
       Spark's hash aggregation does map-side partial combine, so a
       hub page's 10^8 adjacency rows reduce to (hub × #neighbor
       communities) partials *before* the shuffle: this IS the
       "salting + partial k_{i,c} re-aggregation" hub-skew plan of
       SURVEY §5.3, provided by the engine (no single reducer ever
       sees a hub's full adjacency).  The move decision (argmax gain,
       tie → lowest community label) is a struct-max aggregation —
       zero Python in the sweep, whole-stage codegen end to end.
       Vertex-sided tables (assign / node_w / Σtot) are broadcast when
       the level's vertex count fits under ``broadcast_threshold``, so
       the edge table never shuffles for the joins.  A monotone-Q
       guard with adaptive mover-fraction damping rejects sweeps that
       lower Q (synchronous-update oscillation protection).  Because
       decisions depend only on the previous sweep's snapshot — never
       on partition boundaries — the result is *independent of
       parallelism* (same labels at local[8] and local[32], modulo FP
       summation order on non-integer weights).
    2. *subnetwork splitting* (G6): intra-community edges grouped by
       community; ``applyInPandas`` runs LM-from-singletons per
       community (``kernels.split_community``) — embarrassingly
       parallel.
    3. *aggregation* (G7/G8): join+groupBy builds the super-graph;
       subcommunities start the next level grouped by their parent.
    4. recurse until the super-graph stops shrinking; once it fits
       under ``exact_threshold`` edges it is collected and the remaining
       levels run on the driver (the exact finish; the graph has shrunk
       100–10000× by then).
  Every outer level, held or not, checkpoints assign + supergraph +
  metrics through the Checkpointer (resumable mid-convergence).

Scale-mode results match the reference's *Q-class* (same modularity to
1e-6 on graphs with stable optima), not its exact label sequence — the
sequential visit order is inherently unparallelizable (SURVEY §8-H1);
exact mode is the label-parity path.  A held level's numpy sweep is
bit-identical to the Spark sweep on integral weights (labels, observed
Q and move counts, so the whole run); on non-integral weights the two
sum k_{i,c} and Σtot in different orders and agree only in Q class.

Scale mode labels an escaped singleton ``-(id+1)`` during sweeps, which
must not collide with any real vertex id, so ``slm_scale`` requires
every vertex id to be non-negative: the minimum id is read from the
bounded collect (driver runs), or rides the Spark setup's checkpoint
job as an observe metric, and a negative one raises
``ValueError`` before any sweep.  (An id of 2^63-1 would overflow
``id+1``; Spark's ANSI mode raises on that.)  The ingest layer's hashed
ids satisfy the condition: ``pages_to_edges`` and ``url_ids`` mask
``xxhash64`` to its low 62 bits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from slmpy_spark.graph import kernels
from slmpy_spark.graph.aggregate import aggregate_graph
from slmpy_spark.graph.edges import degrees, symmetrize, vertices
from slmpy_spark.graph.modularity import modularity
from slmpy_spark.util import EdgeCache, Frames, explain_to, materialize, owned_view

ASSIGN_SCHEMA = "id long, community long"
SYM_SCHEMA = "src long, dst long, weight double"
NODE_W_SCHEMA = "id long, node_w double"

import os as _os
import sys as _sys
import time as _time

def _new_run_stats() -> dict:
    return {
        "sweeps": 0, "levels": 0, "passes": 0, "edge_entries_swept": 0,
        "sweep_jobs": [], "phases": [],
    }


#: the one record of the most recent slm_scale() run on this driver
#: (single-threaded driver assumption), reset by every call:
#:
#: - ``sweeps``/``levels``/``passes``/``edge_entries_swept``: actual
#:   counts — bench.py, perfbench and BENCH/run_scaling.py compute real
#:   edges-per-sweep throughput from them instead of assuming
#:   max_sweeps ran;
#: - ``sweep_jobs``: one ``[level, secs]`` per LM sweep — a Spark job
#:   at a Spark level, the numpy sweep's seconds at a held level;
#: - ``phases``: one ``[level, name, secs]`` per non-sweep phase
#:   (``_phase``; level -1 = outside the level loop).  Phases do not
#:   overlap, and no sweep job falls inside a phase.  A name means the
#:   same work on every path: ``setup`` (level -1) is the level-0
#:   ingest (the bounded probe or ``_spark_setup``); ``edge_cache`` and
#:   ``lm_state_init`` build a Spark level's sweep inputs (a held level
#:   needs none and records neither); ``exact_collect``
#:   is the exact finish's Spark collect (``_exact_finish`` only);
#:   ``exact_kernel`` is ``_finish_core`` at the finish level;
#:   ``exact_emit`` turns labels into the result relation — at the
#:   finish level in the Spark loop, at level -1 for a driver run's one
#:   result; ``pass_q`` scores a pass that no finish scored.
#:
#: Scripts read this dict (BENCH/run_scaling.py copies it into every
#: ladder row); the SLMPY_DEBUG stderr lines are for people only.
LAST_RUN_STATS: dict = _new_run_stats()

#: every phase name ``_phase`` accepts, on every path (meanings above)
PHASES = frozenset((
    "setup", "edge_cache", "lm_state_init", "lm_final_eval", "lm_canonical", "split_kernel",
    "split_parent_map", "merge_down", "node_w_next", "aggregate", "exact_collect",
    "exact_kernel", "exact_emit", "pass_q"))


def _dbg(msg: str) -> None:
    if _os.environ.get("SLMPY_DEBUG"):
        print(f"[slm {_time.strftime('%H:%M:%S')}] {msg}", file=_sys.stderr, flush=True)


def _phase(level, name: str, t0: float) -> float:
    """Record a non-sweep phase's seconds since `t0` in
    LAST_RUN_STATS["phases"] (BENCH/decompose.py attributes the
    non-sweep serial floor per phase from them) and return a fresh t0.
    `name` must be one of PHASES."""
    assert name in PHASES, name
    now = _time.time()
    LAST_RUN_STATS["phases"].append([level, name, now - t0])
    _dbg(f"phase level={level} name={name} secs={now - t0:.3f}")
    return now


# ------------------------------------------------------------- helpers


def _canonical_labels(assign: DataFrame, bcast: bool = False) -> DataFrame:
    """community → min member vertex id (stable, collision-free labels
    across sweeps; also the scale-mode community id convention).
    `bcast`: broadcast-hint the (community-count-sized) mapping side."""
    m = assign.groupBy("community").agg(F.min("id").alias("rep"))
    m = F.broadcast(m) if bcast else m
    return assign.join(m, "community").select("id", F.col("rep").alias("community"))


def _ident(df: DataFrame) -> DataFrame:
    return df


# ---------------------------------------------------------- exact mode


def slm_exact(
    edges: DataFrame,
    gamma: float = 1.0,
    quality: str = "modularity",
    n_random_starts: int = 1,
    n_iterations: int = 1,
    seed: int = 0,
    variant: str = "slm",
):
    """Sequential SLM/Louvain on the driver: collect the symmetrized
    graph, run kernels.run_slm over it.  Returns (assign, q); `assign`
    is a local relation that pins no storage."""
    pdf = symmetrize(edges).toPandas()
    ids, lsrc, ldst = kernels.dense_ids(
        pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
    )
    cluster, q = kernels.run_slm(
        len(ids),
        lsrc,
        ldst,
        pdf["weight"].to_numpy(np.float64),
        gamma=gamma,
        quality=quality,
        n_random_starts=n_random_starts,
        n_iterations=n_iterations,
        seed=seed,
        variant=variant,
    )
    return _assign_frame(edges.sparkSession, ids, cluster), q


# ------------------------------------------------- scale mode: LM sweep


def _attach_sigma(state: DataFrame, bcast: bool) -> DataFrame:
    """Sigma (community Σtot) carriage strategy per mode (r4; re-measured
    and KEPT in r6).

    - **bcast levels** (vertex count under ``broadcast_threshold``):
      sigma rides ON the state as a column, maintained by an unordered
      window sum — one exchange, and at this size even a community
      holding every vertex fits one task comfortably.  (r6 negative
      result, reverted: deriving sigma lazily with a per-sweep
      aggregate + broadcast join instead made sweeps 0.2-1s SLOWER each
      at sf0.1 — the extra broadcast builds cost more than the window's
      in-job exchange+sort at this size.)

    - **shuffle levels**: identity — sigma does NOT ride the state.
      ``Window.partitionBy("community")`` buffers an ENTIRE community's
      rows in one task, and late sweeps are exactly when communities
      grow toward O(n): the window serializes the sweeps the scaling
      gate measures.  Maintaining sigma by aggregate+join at the sweep's
      OUTPUT instead double-computes the whole sweep subtree (the sig
      branch's exchange is column-pruned differently from the probe's,
      so exchange reuse cannot fire — measured: two full argmax
      pipelines in the plan).  So shuffle-mode sweeps derive sigma
      LAZILY from the materialized state leaf (see _lazy_sigma_state) —
      a cheap re-scan of checkpoint blocks, not a recompute.
    """
    if bcast:
        w = Window.partitionBy("community")
        return state.withColumn("sigma", F.sum("node_w").over(w))
    return state


def _lazy_sigma_state(state: DataFrame) -> DataFrame:
    """(id, community, sigma) view of a *materialized* shuffle-level
    state, deriving sigma on the fly: a partial-combining
    groupBy(community).sum (map-side combine → a hub community's rows
    reduce before the shuffle; the exchange moves per-task partials,
    not vertices) hash-joined back.  ``shuffle_hash``: build the tiny
    one-row-per-community side and STREAM the probe partition — a
    sort-merge join would sort the giant community's partition, and a
    window would buffer it, both single-task stragglers at scale.  (The
    sweep's bcast levels carry sigma on the state instead.)

    The sweep references this frame exactly twice (the dst-side
    candidate projection and the zero-weight self rows), both pruned to
    the same (id, community, sigma) columns — the join's two input
    exchanges canonicalize identically across the references, so
    exchange reuse computes them once.  `state` must be a materialize()
    leaf: re-scanning it is reading checkpoint blocks, not recomputing
    a plan."""
    sig = state.groupBy("community").agg(F.sum("node_w").alias("sigma")).hint("shuffle_hash")
    return state.select("id", "community").join(sig, "community")


def _propose_moves(
    sym: DataFrame,
    state: DataFrame,
    resolution2: float,
    seed: int,
    sweep: int,
    move_frac: float,
    bcast: bool,
) -> DataFrame:
    """One synchronous local-moving sweep, entirely JVM-side.

    `state`: the current assignment with node weights — (id, community,
    node_w), plus the community Σtot as a `sigma` column at bcast levels
    (carried on the state by _attach_sigma's window).  At shuffle levels
    Σtot is derived lazily from the materialized state leaf per sweep
    (_lazy_sigma_state — cheap block re-scan, skew-safe partial-combine
    aggregation, no giant-community window).

    Semantics (mirrors kernels.local_moving against a snapshot):
    for every eligible vertex i with candidates C = {communities of
    i's neighbors}:

        gain(i→c) = k_{i,c} − w_i · (Σtot(c) − w_i·[c == c_i]) · γ'

    i moves to argmax-gain (ties → lowest community label) when the
    best gain is strictly positive; with no positive gain it escapes to
    a fresh singleton ``-(i+1)`` — unless it is already alone
    (Σtot(c_i) == w_i), in which case it keeps its label (avoids
    pointless relabel churn that would inflate the move count).

    `move_frac` < 1 gates eligibility by a deterministic per-(id,
    sweep) hash — the damping knob for synchronous-update oscillation.

    Returns (id, community, node_w, c_old, sigma_o, kic_cur, moved)
    for EVERY vertex (ineligible / isolated vertices keep their
    label).  The extra columns make the *pre-sweep* quality free as
    FLAT sums (deliverable via DataFrame.observe on the materialize
    action — zero extra jobs): Σ_i kic_cur(i) is exactly the
    intra-community weight of the input assignment, and
    Σ_i node_w_i·sigma_o(i) = Σ_c Σtot(c)² (sigma_o = the Σtot of i's
    pre-sweep community), so the caller's Q guard needs NO aggregation
    job at all (see _distributed_local_moving).

    Physical shape (r4 — pagerank's union-into-agg pattern): the state
    is unioned into the k_{i,c} aggregation as one zero-weight
    (id, own-community) row per vertex.  Adding 0.0 to a float sum is
    bit-exact, so no k_{i,c} value changes — but every vertex is now
    guaranteed a (src, c_src) group, which makes the argmax aggregation
    COMPLETE over the vertex set: its output IS the next state.  The r3
    layout instead joined the argmax output back onto the old state
    (state ⋈ moves) to fill in vertices absent from kic — one whole
    vertex-sided join stage per sweep, now gone.

    Scale notes: the k_{i,c} aggregation is a hash groupBy(src, cand)
    with map-side partial combine — hub-degree skew never concentrates
    on one reducer (SURVEY §5.3 salting, engine-provided).  With
    `bcast` every vertex-side input joins map-side; the edge table is
    scanned once with zero shuffle.  Without `bcast` (vertex table too
    big to broadcast), Σtot enters the plan at exactly ONE place — the
    dst-side candidate projection plus the self rows, both reading the
    same lazily-derived (id, community, sigma) view (`sigma_cand` is
    constant per cand, so `first()` carries it through the k_{i,c}
    aggregation, and the argmax recovers sigma_src from the self row)
    — the kic-sized intermediate is shuffled exactly ONCE (the join on
    src, whose hash(src) layout the argmax groupBy then reuses),
    instead of once per side table.

    One deliberate semantic refinement vs r3: a vertex with NO edges at
    this level (an all-self-loop supernode) that shares its warm-start
    community with others now escapes to its own singleton when that
    strictly improves Q (it pays the Σtot penalty while contributing
    zero intra weight), instead of silently keeping its label — this
    matches the sweep's own no-positive-gain escape semantics; a vertex
    already alone keeps its label exactly as before.
    """
    hint = F.broadcast if bcast else _ident
    # sigma source: rides the state at bcast levels; derived lazily
    # from the materialized leaf at shuffle levels (see _lazy_sigma_state)
    sws = state if bcast else _lazy_sigma_state(state)

    base = sym.join(
        hint(
            sws.select(
                F.col("id").alias("dst"),
                F.col("community").alias("cand"),
                F.col("sigma").alias("sigma_cand"),
            )
        ),
        "dst",
    ).select("src", "cand", "weight", "sigma_cand")
    # zero-weight self rows: every vertex appears in its own current
    # community's group (same sigma_cand the dst-side join would carry)
    selfrows = sws.select(
        F.col("id").alias("src"),
        F.col("community").alias("cand"),
        F.lit(0.0).alias("weight"),
        F.col("sigma").alias("sigma_cand"),
    )
    kic = (
        base.unionByName(selfrows)
        .groupBy("src", "cand")
        .agg(F.sum("weight").alias("kic"), F.first("sigma_cand").alias("sigma_cand"))
    )
    cand = (
        kic.join(
            hint(
                state.select(
                    F.col("id").alias("src"),
                    F.col("community").alias("c_src"),
                    F.col("node_w").alias("w_src"),
                )
            ),
            "src",
        )
        .withColumn(
            "gain",
            F.col("kic")
            - F.col("w_src")
            * (
                F.col("sigma_cand")
                - F.col("w_src")
                * F.when(F.col("cand") == F.col("c_src"), F.lit(1.0)).otherwise(F.lit(0.0))
            )
            * F.lit(resolution2),
        )
    )
    if move_frac < 1.0:
        # deterministic per-(id, sweep) eligibility hash in [0, 2^20)
        elig = F.pmod(
            F.xxhash64(F.col("src"), F.lit(seed * 97 + sweep)), F.lit(1 << 20)
        ) < F.lit(int(move_frac * (1 << 20)))
    else:
        elig = F.lit(True)
    # argmax gain per src; tie-break lowest community label via
    # max(struct(gain, -cand)); c_src/w_src are constant per src;
    # kic_cur = weight into the CURRENT community and sigma_src = the
    # current community's Σtot (exactly 1 row matches — the self row
    # guarantees it exists; its gain to c_src is ≤ 0 when the vertex
    # has no intra edges, so it never wins a move).  Every vertex has a
    # group here, so this aggregation's output IS the complete next
    # state — no join back onto the old state.
    best = cand.groupBy("src").agg(
        F.max(F.struct(F.col("gain").alias("g"), (-F.col("cand")).alias("nc"))).alias("b"),
        F.max(F.when(F.col("cand") == F.col("c_src"), F.col("kic"))).alias("kic_cur"),
        F.max(F.when(F.col("cand") == F.col("c_src"), F.col("sigma_cand"))).alias("sigma_src"),
        F.first("c_src").alias("c_src"),
        F.first("w_src").alias("w_src"),
    )
    out = best.select(
        F.col("src").alias("id"),
        F.when(~elig, F.col("c_src"))
        .when(F.col("b.g") > F.lit(0.0), -F.col("b.nc"))
        .when(F.col("sigma_src") > F.col("w_src"), -(F.col("src") + F.lit(1)))
        .otherwise(F.col("c_src"))
        .alias("community"),
        F.col("w_src").alias("node_w"),
        F.col("c_src").alias("c_old"),
        F.col("sigma_src").alias("sigma_o"),
        F.coalesce(F.col("kic_cur"), F.lit(0.0)).alias("kic_cur"),
    ).withColumn(
        "moved",
        F.when(F.col("community") != F.col("c_old"), F.lit(1)).otherwise(F.lit(0)),
    )
    # bcast levels: maintain the NEW assignment's Σtot on the state
    # (window, trivially small); shuffle levels: identity — the next
    # sweep derives sigma lazily from the materialized leaf
    return _attach_sigma(out, bcast)


def _assign_quality(
    sym: DataFrame,
    state: DataFrame,
    two_m: float,
    gamma: float,
    quality: str,
    bcast: bool = False,
) -> float:
    """Exact Q of a (id, community, node_w) state — one edge-side agg
    plus one vertex agg, cross-joined into ONE single-row action (both
    inputs are one-row aggregates, so the cross join is trivial and the
    two subtrees run inside the same Spark job instead of paying two
    driver submission/planning floors).  Used once per level at most
    (final-proposal evaluation); sweeps get their Q from observe-riding
    stats for free."""
    hint = F.broadcast if bcast else _ident
    a_src = hint(state.select(F.col("id").alias("src"), F.col("community").alias("cs")))
    a_dst = hint(state.select(F.col("id").alias("dst"), F.col("community").alias("cd")))
    intra_df = (
        sym.join(a_dst, "dst")
        .join(a_src, "src")
        .agg(
            F.sum(F.when(F.col("cs") == F.col("cd"), F.col("weight")).otherwise(0.0))
            .alias("intra")
        )
    )
    s2_df = (
        state.groupBy("community")
        .agg(F.sum("node_w").alias("sigma"))
        .agg(F.sum(F.col("sigma") * F.col("sigma")).alias("s2"))
    )
    row = intra_df.crossJoin(s2_df).first()
    return kernels.q_of(
        float(row["intra"] or 0.0), float(row["s2"] or 0.0), two_m, gamma, quality
    )


#: the first sweep's mover fraction.  A full (1.0) synchronous sweep
#: from a fresh state always overshoots (every boundary vertex jumps
#: simultaneously — measured: the full-frac opening sweep was rejected
#: at EVERY level of the 10M-edge ladder), so starting at 0.5 saves two
#: wasted edge scans per level; the fraction relaxes as sweeps are
#: accepted.
INIT_FRAC = 0.5
#: convergence tolerance — stop sweeping when an accepted sweep
#: improved Q by less than this (the level's remaining gain belongs to
#: cheaper, smaller levels above).  Generous `max_sweeps` budgets are
#: safe with it.
Q_TOL = 1e-4


def _distributed_local_moving(
    sym: DataFrame,
    node_w: DataFrame,
    assign: DataFrame,
    resolution2: float,
    seed: int,
    max_sweeps: int,
    gamma: float,
    quality: str,
    two_m: float,
    checkpointer=None,
    level: int = 0,
    bcast: bool = False,
    m_l: int = 0,
):
    """Local moving at a Spark level: `_guarded_moves` over
    `_propose_moves` sweeps, with `_assign_quality` as the final
    evaluation.

    Per-sweep cost: ONE Spark job — the decision job (one edge scan
    into the (src, cand) partial-agg + argmax, checkpointed); the
    pre-sweep Q / move-count stats ride on that job as
    `DataFrame.observe` flat sums (delivered by the localCheckpoint
    action inside `materialize`, see util.materialize) — no separate
    stats aggregation job.  Rejection wastes exactly one speculative
    decision job (same cost as the old retry).

    At shuffle levels (`bcast=False`) `sym` must be the caller's
    dst-partitioned edge cache (util.EdgeCache): every sweep's first
    join (dst → candidate community) then reuses the cached layout and
    only the vertex-sized state shuffles per sweep.

    Returns the best state's canonical (min-member id) labels as a
    materialized (id, community) frame."""
    tp = _time.time()
    # state init — when the caller starts from singletons (assign=None)
    # the frame is a plain projection of the node-weight leaf: no
    # vertex join at all (r6), and sigma == node_w exactly (every
    # community is its one member), skipping the init window too.
    if assign is None:
        state0 = node_w.select(
            "id", F.col("id").alias("community"), "node_w"
        )
        if bcast:
            state0 = state0.withColumn("sigma", F.col("node_w"))
    else:
        state0 = _attach_sigma(
            assign.select("id", "community")
            .join(node_w, "id")
            .select("id", "community", "node_w"),
            bcast,
        )
    frames = Frames()
    state = frames.own(materialize(state0))
    tp = _phase(level, "lm_state_init", tp)

    # Unpersist hygiene (`keep`): the guard can only ever revert to the
    # best state, so any sweep state that is neither it nor the current
    # state is dead and its checkpoint blocks are freed IMMEDIATELY,
    # before the next sweep's job.  Keeping them until level end (the
    # old `owned` list) let ~16 vertex-sized row-format block sets pile
    # up in storage memory and evict the level's cached edge table —
    # measured on the 10M-edge ladder as intermittent 3–4× propose-time
    # spikes (cache rebuild) from sweep ~8 onward.
    best_state = _guarded_moves(
        state, _spark_sweep(frames, sym, resolution2, seed, bcast),
        lambda s: _assign_quality(sym, s, two_m, gamma, quality, bcast=bcast),
        max_sweeps, two_m, gamma, quality, checkpointer=checkpointer,
        level=level, m_l=m_l, keep=frames.retain,
    )
    tp = _time.time()
    assign_out = _canonical_labels(
        best_state.select("id", "community"), bcast=bcast
    ).transform(materialize)
    _phase(level, "lm_canonical", tp)
    frames.retain()
    return assign_out


def _spark_sweep(frames: Frames, sym: DataFrame, resolution2: float, seed: int, bcast: bool):
    """The Spark level's `propose` for `_guarded_moves`: one
    `_propose_moves` sweep over `sym`, materialized and owned by
    `frames`, with the pre-sweep state's intra, s2 and this sweep's move
    count observed on the materialize action itself — one Spark job per
    sweep, total."""

    def propose(state, sweep, move_frac):
        obs = Observation()
        prop = _propose_moves(sym, state, resolution2, seed, sweep, move_frac, bcast)
        if sweep == 0:
            explain_to(prop, f"slm_sweep_{'bcast' if bcast else 'shuffle'}")
        prop = frames.own(
            prop.observe(
                obs,
                F.sum("kic_cur").alias("intra"),
                F.sum(F.col("node_w") * F.col("sigma_o")).alias("s2"),
                F.sum("moved").alias("moves"),
            )
            .transform(materialize)
        )
        v = obs.get
        return prop, float(v["intra"] or 0.0), float(v["s2"] or 0.0), int(v["moves"] or 0)

    return propose


def _guarded_moves(
    state, propose, evaluate, max_sweeps, two_m, gamma, quality,
    checkpointer=None, level=0, m_l=0, keep=lambda best, state: None,
):
    """Superstep local moving with adaptive damping (starting at
    INIT_FRAC, stopping at Q_TOL) and a *deferred* monotone-Q guard —
    the one loop both sweeps run: the Spark sweep of a Spark level
    (`_distributed_local_moving`) and the numpy sweep of a held level
    (`_driver_pass`).  Returns the best state.

    `propose(state, sweep, move_frac)` runs sweep `sweep` from `state`
    and returns (proposal, intra, s2, moves): the proposed state, plus
    the intra weight and Σ_c Σtot(c)² of `state` itself and the move
    count.  So the guard runs one sweep late: when sweep t reveals that
    state S_t does not beat the best Q seen, S_t's proposal is
    discarded, the loop reverts to the best state and retries with a
    halved mover fraction; when it does beat it, S_t becomes the best
    and the (already computed) proposal is adopted.  The final adopted
    proposal — whose Q no sweep has revealed — gets one `evaluate(state)`
    (its Q) per level.  Convergence: damping shrinks the
    simultaneous-move set toward the sequential regime; stops at
    n_moves == 0, `max_sweeps`, or `patience` consecutive rejections.

    `keep(best, state)` runs after every sweep with the only two states
    the guard can still return to."""
    best_state = state
    best_q = None
    move_frac = INIT_FRAC
    patience = 4
    stall = 0
    pending = False  # does `state` hold an adopted-but-unevaluated proposal?
    for sweep in range(max_sweeps):
        t0 = _time.time()
        prop, intra, s2, n_moves = propose(state, sweep, move_frac)
        t1 = _time.time()
        LAST_RUN_STATS["sweeps"] += 1
        LAST_RUN_STATS["edge_entries_swept"] += m_l
        LAST_RUN_STATS["sweep_jobs"].append([level, t1 - t0])
        q_prev = kernels.q_of(intra, s2, two_m, gamma, quality)
        _dbg(
            f"level {level} sweep {sweep} frac={move_frac} "
            f"q(pre)={q_prev:.6f} moves={n_moves} "
            f"job={t1 - t0:.1f}s"
        )
        if checkpointer is not None:
            checkpointer.log_metric(
                op="slm_sweep", level=level, sweep=sweep, q=q_prev,
                n_moves=n_moves, move_frac=move_frac,
            )
        stop = n_moves == 0
        adopt = True
        if best_q is None:
            best_q = q_prev  # q of the initial assignment
        elif pending and q_prev <= best_q + 1e-12:
            # the state sweep t built on was NOT an improvement: discard
            # it and its speculative proposal, damp, retry from best
            stall += 1
            move_frac = max(0.125, move_frac / 2)
            state, adopt = best_state, False
            stop = stall >= patience
        elif pending:
            gained = q_prev - best_q
            best_q, best_state, stall = q_prev, state, 0
            # relax damping on acceptance, but cap at 0.75: measured on
            # the 10M-edge ladder, full (1.0) sweeps gain ~0 Q and get
            # rejected while 0.5-fraction sweeps gain +0.03 each — the
            # synchronous overshoot needs a permanent minority of holdouts
            move_frac = min(0.75, move_frac * 1.5)
            # converged to tolerance: the pending proposal can only
            # chase diminishing returns — stop here, keep the best
            stop = stop or gained < Q_TOL
        pending = adopt and not stop
        if pending:
            state = prop
        keep(best_state, state)
        if stop:
            break

    tp = _time.time()
    if pending:
        # last adopted proposal was never revealed by a later sweep —
        # evaluate it once; keep it only if it beats the best
        q_final = evaluate(state)
        _dbg(f"level {level} final-eval q={q_final:.6f} (best {best_q:.6f})")
        if best_q is None or q_final > best_q + 1e-12:
            best_state = state
        _phase(level, "lm_final_eval", tp)
    return best_state


def _sweep_edges(frames: Frames, sym: DataFrame, bcast: bool) -> DataFrame:
    """The edge table a level's sweeps read: `sym` without its self-loop
    rows — at bcast levels as a filter over `sym`, at shuffle levels as
    ONE repartition("dst") + persist of that view (util.EdgeCache, owned
    by `frames`) that every sweep's kic join reuses — and, in the level
    loop, the split's intra join and the aggregation too — so the edge
    table is shuffled into this layout exactly once.

    A self-loop weighs the same on every candidate of its vertex, so it
    never decides a move (the sequential LM loops skip it too); summed
    into k_{i,c} of the vertex's own community it would bias the vertex
    toward staying.  Dropping it here keeps the sweeps' observed Q and
    ``_assign_quality`` on the same table (both then miss the same
    constant self-loop weight, so the Q guard compares like with like);
    node weights and the pass Q still count it.  The aggregation drops
    self-loops anyway, so only level 0 can hold any."""

    def loop_free(df):
        return df.where(F.col("src") != F.col("dst"))

    if bcast:
        return loop_free(sym)
    return frames.own(EdgeCache(sym, "dst", view=loop_free, eager=True)).df


# ----------------------------------------- scale mode: community split


def _split_kernel_factory(resolution2: float, seed: int):
    """The ``applyInPandas`` wrapper of ``kernels.split_community``:
    input rows are one community's intra edges (src, dst, weight,
    w_src), output (id, sub)."""

    # unannotated on purpose: partial hints make applyInPandas' eval-type
    # inference raise and warn on every split; grouped-map is the default
    def kernel(key, pdf):
        ids, sub = kernels.split_community(
            key[0], pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64),
            pdf["weight"].to_numpy(np.float64), pdf["w_src"].to_numpy(np.float64),
            resolution2, seed,
        )
        return pd.DataFrame({"id": ids, "sub": sub})

    return kernel


def _split_communities(
    sym: DataFrame,
    node_w: DataFrame,
    assign: DataFrame,
    resolution2: float,
    seed: int,
    bcast: bool = False,
    level: int = -1,
) -> DataFrame:
    """Re-cluster every community from singletons (may split it).
    New community labels = min member vertex id per subcommunity.
    Members without intra-community edges become singletons (exactly
    the sequential semantics: no neighbors in subnetwork → no positive
    gain → stays alone).

    Communities are embarrassingly parallel ``applyInPandas`` groups
    over the intra-community edge table, each running LM to local
    convergence in the per-community Arrow kernel.  A community of any
    size is safe there: ``kernels._lm_auto`` switches to the chunked
    vectorized kernel above 4096 nodes (BENCH/NOTES.md, "split_kernel
    straggler A/B", on why there is no second strategy).
    """
    hint = F.broadcast if bcast else _ident
    a_dst = hint(assign.select(F.col("id").alias("dst"), F.col("community").alias("c_dst")))
    # src side: labels and node weights in ONE vertex-sized pre-join, so
    # the edge table is joined on src once; joining dst FIRST reuses the
    # level's repartition("dst") cache layout (zero exchange on the big
    # side), leaving exactly one big-table shuffle (by src)
    src_side = hint(
        assign.join(node_w, "id").select(
            F.col("id").alias("src"),
            F.col("community").alias("c_src"),
            F.col("node_w").alias("w_src"),
        )
    )
    tp = _time.time()
    # read once, by the applyInPandas group below: no persist needed
    intra = (
        sym.join(a_dst, "dst")
        .join(src_side, "src")
        .where(F.col("c_src") == F.col("c_dst"))
        .select("src", "dst", "weight", "w_src", F.col("c_src").alias("community"))
    )
    # the kernel already emits globally-unique min-member-id labels
    # (members are disjoint across parent communities), so the only
    # remaining join fills in intra-edge-less vertices as singletons
    # of their own id.  The step-a parent community rides along as a
    # third column on the SAME materialized leaf (it is exactly the
    # left side's `community`), so the warm-start parent map below
    # is a distinct over checkpoint blocks — no second vertex-sized
    # join per level (the r4 layout re-joined `out` against `assign`
    # to recover the parent it had just projected away).
    sub = intra.groupBy("community").applyInPandas(
        _split_kernel_factory(resolution2, seed), "id long, sub long"
    )
    out_full = (
        assign.alias("o")
        .join(sub.alias("r"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("r.sub"), F.col("id")).alias("community"),
            F.col("o.community").alias("parent"),
        )
        .transform(materialize)
    )
    # a projection view over out_full's checkpoint leaf whose
    # unpersist frees the leaf's blocks
    out = owned_view(out_full.select("id", "community"), out_full)
    tp = _phase(level, "split_kernel", tp)
    # parent map (subcommunity → step-a parent community) — the SLM
    # §1.2(4c) warm start for the next level's initial clustering.
    # Materialized HERE, before the caller unpersists `assign` (the
    # LM output): materialize()'s unpersist frees real checkpoint
    # blocks now, so lazily holding a reference to `assign` past its
    # free would be a use-after-free.
    parent_map = (
        out_full.select(
            F.col("community").alias("id"), F.col("parent").alias("community")
        )
        .distinct()
        .transform(materialize)
    )
    tp = _phase(level, "split_parent_map", tp)
    return out, parent_map


# ---------------------------------------------------------- scale mode


def slm_scale(
    edges: DataFrame,
    gamma: float = 1.0,
    quality: str = "modularity",
    seed: int = 0,
    max_levels: int = 12,
    max_sweeps: int = 12,
    exact_threshold: int = 200_000,
    checkpointer=None,
    variant: str = "slm",
    resume: bool = False,
    n_iterations: int = 1,
    n_random_starts: int = 1,
    broadcast_threshold: int = 250_000,
):
    """Distributed SLM (variant="slm") / Louvain (variant="louvain").
    Returns (assign, q) — q computed on the original graph.

    An input of at most `exact_threshold` rows runs on the driver: the
    bounded probe (`_driver_graph`) collects it once — the run's one
    Spark job — every pass is `_driver_pass` over those arrays (a level
    that fits under `exact_threshold` entries is the exact finish, a
    bigger one is held and sweeps in numpy), and `assign` is one local
    relation, built after the last pass, that pins no storage.
    Otherwise — more rows than `exact_threshold`,
    `variant="louvain_refine"`, or a resume that finds snapshots — every
    pass is the Spark level loop (`_scale_pass`).

    `n_iterations`: iterated SLM (G14) — each pass restarts the level
    hierarchy from the previous pass's flat assignment (never from
    singletons), monotonically refining Q; stops early when a pass
    stops improving (the best pass's assignment is returned, so the
    reported q always matches the returned labels).

    `n_random_starts`: G14's other axis — each start reruns the whole
    pass chain from singletons under a start-specific seed offset; the
    argmax-Q assignment over all starts/passes is returned (mirrors
    exact mode's best-of-N restarts).

    `broadcast_threshold`: Spark levels whose vertex count fits under it
    run every vertex-side join map-side (broadcast) — the edge table is
    scanned without shuffling during sweeps.

    With a `checkpointer`, every completed level persists the snapshot
    (slm_assign flat labels, slm_supergraph, slm_node_w, and
    slm_next_assign — the next level's warm-start clustering); passing
    `resume=True` with a checkpointer holding the same run_id restarts
    the level loop after the last completed level from that warm
    start (a driver run's held levels write the same snapshots; the
    resume runs on the Spark path).  Per-level seeds are `seed + level`,
    so the remaining levels replay as the uninterrupted run would
    (modulo sweeps' snapshot timing)."""
    LAST_RUN_STATS.update(_new_run_stats())
    tp = _time.time()
    frames = Frames()
    g = None
    # louvain_refine sweeps the original graph in Spark after every
    # pass; a resume restarts from its snapshots
    if variant != "louvain_refine" and not (
        resume and checkpointer is not None
        and checkpointer.latest_step("slm_supergraph") is not None
    ):
        g = _driver_graph(edges, exact_threshold)
    if g is not None:
        ids, lsrc, _, w = g
        two_m = float(w.sum())
        if quality == "cpm":
            node_w = np.ones(ids.size)
        else:
            node_w = np.bincount(lsrc, weights=w, minlength=ids.size)
        sym0 = nw0 = None
    else:
        sym0, nw0, two_m, m0, nv0 = _spark_setup(frames, edges, quality)
    _phase(-1, "setup", tp)
    resolution2 = kernels.resolution2_of(gamma, quality, two_m)

    best_q = None
    best_flat = None
    n_starts = max(1, n_random_starts)
    n_iters = max(1, n_iterations)
    for start in range(n_starts):
        flat = None  # each start rebuilds the hierarchy from singletons
        for it in range(n_iters):
            LAST_RUN_STATS["passes"] += 1
            pass_seed = seed + 7919 * it + 104_729 * start
            prev = flat
            if g is not None:
                flat, q = _driver_pass(
                    edges.sparkSession, g, node_w, two_m, resolution2, gamma,
                    quality, pass_seed, max_levels, max_sweeps, exact_threshold,
                    variant, checkpointer,
                    step_offset=(start * n_iters + it) * max_levels,
                    init_flat=prev,
                )
            else:
                flat, q = _scale_pass(
                    sym0, nw0, two_m, resolution2, gamma, quality,
                    pass_seed, max_levels, max_sweeps,
                    exact_threshold, variant, checkpointer,
                    step_offset=(start * n_iters + it) * max_levels,
                    init_flat=prev,
                    resume=(resume and it == 0 and start == 0),
                    broadcast_threshold=broadcast_threshold,
                    m0=m0, nv0=nv0,
                )
                frames.own(flat)
                if variant == "louvain_refine":
                    # multilevel refinement (§1.2(3)): one more LM pass on
                    # the ORIGINAL graph from the merged-down labels; the
                    # guard keeps it monotone, so it can only improve Q
                    bcast0 = nv0 <= broadcast_threshold
                    flat = frames.own(_distributed_local_moving(
                        _sweep_edges(frames, sym0, bcast0), nw0, flat, resolution2,
                        pass_seed + max_levels, max_sweeps, gamma, quality,
                        two_m, checkpointer=checkpointer,
                        level=max_levels, bcast=bcast0,
                    ))
                    # frees the refine cache and the merged-down labels —
                    # unless an empty-graph pass returned `prev` unchanged
                    frames.retain(sym0, nw0, prev, best_flat, flat)
                    q = None  # the refinement moved labels after the finish
                if q is None:
                    # the pass ended where the driver holds no final
                    # partition: one recompute over the original graph
                    tq = _time.time()
                    q = modularity(sym0, flat, gamma=gamma, quality=quality, two_m=two_m)
                    _phase(-1, "pass_q", tq)
            _dbg(f"start {start} pass {it}: q={q:.6f} (best {best_q})")
            improved = best_q is None or q > best_q + 1e-9
            if improved:
                best_q, best_flat = q, flat
            # only the best pass's labels outlive the pass; one that did
            # not improve the global best also stops this start (further
            # passes chase a local optimum the best already beat).  A
            # driver run owns no frames.
            frames.retain(sym0, nw0, best_flat)
            if not improved:
                break

    if g is not None:
        tp = _time.time()
        out = _assign_frame(edges.sparkSession, ids, best_flat)
        _phase(-1, "exact_emit", tp)
        return out, best_q
    frames.retain(best_flat)
    return owned_view(best_flat.select("id", "community"), best_flat), best_q


def _driver_graph(edges: DataFrame, exact_threshold: int):
    """The symmetrized edge table as driver arrays (ids, lsrc, ldst, w)
    — sorted distinct vertex ids, then each entry's endpoints as indices
    into them and its weight — when the input has at most
    `exact_threshold` rows; else None.  `_driver_pass` then applies the
    level loop's own rule to every level, starting with these arrays:
    at most `exact_threshold` entries, and the level is the exact
    finish; more, and it is held.

    ONE Spark job with ONE task: ``coalesce(1).limit(k)`` stops reading
    after k = exact_threshold + 1 rows, so at most k rows reach the
    driver (``limit(k)`` alone runs a task per input partition, and
    ``head(k)`` converts every row to a Python Row).  Fewer than k rows
    is the whole table; it is symmetrized here as ``symmetrize`` does
    (reciprocal weights summed, a self-loop entry doubled).  A negative
    vertex id raises ``ValueError``, as the Spark setup does."""
    if not 0 <= exact_threshold < 2**31 - 1:  # Dataset.limit takes an int32
        return None
    pdf = (
        edges.select("src", "dst", "weight")
        .coalesce(1).limit(exact_threshold + 1).toPandas()
    )
    if len(pdf) > exact_threshold:
        return None
    src, dst = pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
    ids, s, d = kernels.dense_ids(np.concatenate([src, dst]), np.concatenate([dst, src]))
    if ids.size and ids[0] < 0:
        raise ValueError(f"slm_scale needs non-negative vertex ids, got {ids[0]}")
    key, inv = np.unique(s * ids.size + d, return_inverse=True)
    w = pdf["weight"].to_numpy(np.float64)
    return ids, key // ids.size, key % ids.size, np.bincount(inv, weights=np.concatenate([w, w]))


def _assign_frame(spark, *cols, schema: str = ASSIGN_SCHEMA) -> DataFrame:
    """A frame over driver arrays (`cols`, in `schema`'s column order;
    by default an (id, community) result): one local relation that pins
    no storage and runs no job."""
    names = [c.split()[0] for c in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(dict(zip(names, cols))), schema)


def _spark_setup(frames: Frames, edges: DataFrame, quality: str):
    """Level 0 of the Spark path: (sym0, nw0, two_m, m0, nv0) — the
    symmetrized edge table and the node weights as checkpoint leaves
    owned by `frames`, the total weight and both row counts.

    materialize (checkpoint leaf), NOT persist: every level-0 sweep's
    plan embeds the edge cache's lineage at each reference, and
    CacheManager.useCachedData + AQE replanning canonicalize those
    embedded trees per sweep — measured ~1.0s/sweep of driver-side
    'optimization' phase against ~26ms of actual rule execution when
    sym0 carries the caller's full lineage (BENCH/NOTES.md, "The
    planning floor localized": 1.06s → 0.085s with a leaf).  A leaf
    costs one checkpoint job up front (same price as persist+count)
    and collapses every downstream cache's embedded plan to
    scan-over-LogicalRDD.
    The edge-entry count and 2m ride the checkpoint action as observe
    metrics (weights are integral on web link graphs, so the sum is
    exact regardless of accumulation order) — no separate count /
    total_weight jobs."""
    obs0 = Observation()
    sym0 = frames.own(materialize(
        symmetrize(edges).observe(
            obs0,
            F.count(F.lit(1)).alias("m"),
            F.sum("weight").alias("tw"),
            F.min("src").alias("min_id"),
        )
    ))
    v0 = obs0.get
    if (v0["min_id"] or 0) < 0:
        frames.retain()
        raise ValueError(f"slm_scale needs non-negative vertex ids, got {v0['min_id']}")
    obs_n = Observation()
    if quality == "cpm":
        nw0 = vertices(edges).select("id", F.lit(1.0).alias("node_w"))
    else:
        nw0 = degrees(sym0).select("id", F.col("w_deg").alias("node_w"))
    nw0 = frames.own(materialize(nw0.observe(obs_n, F.count(F.lit(1)).alias("n"))))
    return sym0, nw0, float(v0["tw"] or 0.0), int(v0["m"] or 0), int(obs_n.get["n"] or 0)


def _scale_pass(
    sym0, nw0, two_m, resolution2, gamma, quality, seed, max_levels,
    max_sweeps, exact_threshold, variant,
    checkpointer, step_offset, init_flat, resume,
    broadcast_threshold=250_000,
    m0: int | None = None, nv0: int | None = None,
):
    """One full SLM/Louvain hierarchy pass (level loop). Returns (flat,
    q): the flat original-vertex → community assignment and its Q on the
    original graph as the exact finish scored it on the driver — None
    on the exits that hold no final partition there (empty supergraph,
    converged, `max_levels`).

    `m0`/`nv0`: the level-0 edge-entry and vertex counts when the caller
    already knows them (observe-ridden on sym0/nw0's checkpoint jobs);
    levels > 0 carry both counts forward from the aggregation step's own
    observe metrics, so the steady-state level loop runs ZERO standalone
    count jobs.

    Lifetimes: one Frames scope owns every frame the pass creates (and
    the re-read snapshots of a resume); `sym0`, `nw0` and `init_flat`
    are borrowed and never freed.  Each level ends by keeping only what
    the next level reads, and every exit keeps only `flat`."""
    frames = Frames()
    sym_l = sym0
    node_w_l = nw0
    # carried sizes: edge entries of sym_l / rows of node_w_l (None →
    # unknown, fall back to a count job — the resume path)
    m_known = m0
    nv_known = nv0
    # level-0 initial clustering: previous pass's result, or singletons
    # (assign_l=None means singletons throughout this loop — the LM
    # state init then skips the vertex join entirely, r6)
    assign_l = init_flat
    flat = None  # original-vertex → current-level community
    q = None  # the pass's Q, when the exact finish scored it
    level_start = 0

    if resume and checkpointer is not None:
        k = checkpointer.latest_step("slm_supergraph")
        if k is not None and k >= step_offset:
            level_start = k + 1 - step_offset
            sym_l = frames.own(checkpointer.load_state("slm_supergraph", k).persist())
            node_w_l = frames.own(checkpointer.load_state("slm_node_w", k))
            flat = frames.own(checkpointer.load_state("slm_assign", k))
            assign_l = frames.own(checkpointer.load_state("slm_next_assign", k))
            m_known = None
            nv_known = None

    for level in range(level_start, max_levels):
        tl = _time.time()
        m_l = m_known if m_known is not None else sym_l.count()
        _dbg(f"level {level}: m={m_l}")
        if m_l <= exact_threshold:
            _dbg(f"level {level}: exact finish (m={m_l})")
            # returns its INPUT unchanged when the level's supergraph is
            # empty (every community absorbed all its edges → aggregate
            # dropped them as self-loops)
            assign_l, q = _exact_finish(
                sym_l,
                node_w_l,
                assign_l
                if assign_l is not None
                else node_w_l.select("id", F.col("id").alias("community")),
                resolution2,
                seed + level,
                variant,
                two_m, gamma, quality,
                level=level,
            )
            # (_exact_finish records its own exact_* phases)
            _dbg(f"level {level}: exact finish done")
            if flat is None:
                flat = assign_l
            else:
                tl = _time.time()
                flat = frames.own(_merge_down(
                    flat,
                    assign_l,
                    bcast=(nv_known is not None and nv_known <= broadcast_threshold),
                ))
                _phase(level, "merge_down", tl)
            break

        nv = nv_known if nv_known is not None else node_w_l.count()
        bcast = nv <= broadcast_threshold
        LAST_RUN_STATS["levels"] += 1
        # level-owned edge cache at shuffle levels (sym_l is already a
        # leaf, so the cache builds no second one)
        sym_j = _sweep_edges(frames, sym_l, bcast)
        if not bcast:
            tl = _phase(level, "edge_cache", tl)
        assign_l = frames.own(_distributed_local_moving(
            sym_j, node_w_l, assign_l, resolution2, seed + level, max_sweeps,
            gamma, quality, two_m,
            checkpointer=checkpointer, level=level, bcast=bcast, m_l=m_l,
        ))
        _dbg(f"level {level}: LM done (bcast={bcast}), splitting")
        if checkpointer is not None:
            # per-partition lineage (north star / SURVEY §2.1): which
            # physical partition processed how many edge entries, how
            # long — once per level, over the level's input edge table
            checkpointer.log_partition_metrics(
                sym_j, op="slm_lm_input", level=level, step=step_offset + level
            )
        parent_map = None
        if variant == "slm":
            assign_l, parent_map = map(frames.own, _split_communities(
                sym_j, node_w_l, assign_l, resolution2, seed + level,
                bcast=bcast, level=level,
            ))
        # after the split, which records its own phases
        tl = _time.time()
        flat = assign_l if flat is None else frames.own(_merge_down(flat, assign_l, bcast=bcast))
        tl = _phase(level, "merge_down", tl)

        _dbg(f"level {level}: split done, aggregating")
        # next level's node weights double as the convergence check:
        # its row count IS the community count (saves the separate
        # count-distinct job per level) and rides the materialize action
        # as an observe metric — no standalone count job; it also
        # becomes the carried vertex count of the next level
        obs_nw = Observation()
        node_w_next = frames.own(materialize(
            node_w_l.join(
                F.broadcast(assign_l) if bcast else assign_l, "id"
            )
            .groupBy("community")
            .agg(F.sum("node_w").alias("node_w"))
            .select(F.col("community").alias("id"), "node_w")
            .observe(obs_nw, F.count(F.lit(1)).alias("n"))
        ))
        n_vertices, n_comms = nv, int(obs_nw.get["n"] or 0)
        tl = _phase(level, "node_w_next", tl)
        if n_comms >= n_vertices:
            break  # nothing merged at this level → converged

        super_edges, _sw = aggregate_graph(sym_j, assign_l, bcast=bcast)
        explain_to(super_edges, "slm_aggregate")
        # next level's edge-entry count rides the aggregation's own
        # checkpoint action (steady-state: zero standalone count jobs
        # per level)
        obs_m = Observation()
        sym_l = frames.own(materialize(
            super_edges.observe(obs_m, F.count(F.lit(1)).alias("m"))
        ))
        m_known = int(obs_m.get["m"] or 0)
        nv_known = n_comms
        tl = _phase(level, "aggregate", tl)
        node_w_l = node_w_next
        _dbg(f"level {level}: aggregated, nv/nc={n_vertices}/{n_comms}")
        # next level's initial clustering: SLM groups subcommunities by
        # their step-a parent (§1.2(4c) warm start, already materialized
        # by the split); Louvain starts from singletons (None)
        assign_l = parent_map
        if checkpointer is not None:
            # complete level snapshot: (flat labels, supergraph, node
            # weights, next level's warm-start clustering) — everything
            # `resume` needs to restart here
            step = step_offset + level
            flat = frames.own(checkpointer.save_state("slm_assign", step, flat))
            checkpointer.save_state("slm_node_w", step, node_w_l)
            checkpointer.save_state("slm_supergraph", step, sym_l)
            if assign_l is not None:  # None = singletons (louvain)
                checkpointer.save_state("slm_next_assign", step, assign_l)
            checkpointer.log_metric(
                op="slm", level=level, step=step, edges=m_l, communities=n_comms
            )
        # the level's assignment, edge cache, supergraph and node
        # weights are consumed: everything that read them (merge-down,
        # node_w_next, the aggregation, the snapshot) is materialized
        frames.retain(sym_l, node_w_l, assign_l, flat)

    # every exit (exact-finish break, converged break, max_levels
    # exhaustion) keeps only the result
    frames.retain(flat)
    return flat, q


def _driver_pass(
    spark, graph, node_w, two_m, resolution2, gamma, quality, seed, max_levels,
    max_sweeps, exact_threshold, variant, checkpointer, step_offset, init_flat,
):
    """One hierarchy pass (the `_scale_pass` level loop) over the graph
    the bounded probe collected: `graph` arrays (ids, lsrc, ldst, w),
    `node_w` per vertex, `init_flat` labels per vertex (None: singletons).
    One rule, the level's entry count, picks where each level runs: a
    level of at most `exact_threshold` entries is the exact finish
    (`_finish_core`, no collect); a bigger one is *held* and runs no
    Spark job: its sweeps are ``kernels.sync_sweep`` under the guard
    loop (`_guarded_moves`) with a numpy final evaluation, and the
    canonical labels, the split (``kernels.split_community``, the kernel
    of the ``applyInPandas`` split), the parent map, node weights,
    aggregation and merge-down are numpy too.  A held level records no
    ``edge_cache`` or ``lm_state_init`` phase.

    Returns (flat, q): the labels per vertex of `graph` and the pass's Q
    on the original graph.  With a `checkpointer`, every held level
    logs its sweeps and one ``slm_lm_input`` row (the level's entries,
    as partition 0) and writes the `_scale_pass` snapshots from its
    arrays, so a resume restarts from them on the Spark path."""
    ids0, lsrc0, ldst0, w0 = ids, lsrc, ldst, w = graph
    nw = node_w
    labels = init_flat  # this level's warm start; None = singletons
    flat = None  # per original vertex, its community (an id of this level)
    q = None
    for level in range(max_levels):
        tl = _time.time()
        m_l = lsrc.size
        _dbg(f"driver level {level}: m={m_l}")
        if m_l <= exact_threshold:
            labels = ids if labels is None else labels
            if m_l:  # an empty supergraph keeps its warm start
                labels, q = _finish_core(
                    ids, lsrc, ldst, w, nw, labels, resolution2, seed + level,
                    variant, two_m, gamma, quality, level,
                )
            if flat is not None:
                tl = _time.time()
                labels = labels[np.searchsorted(ids, flat)]
                _phase(level, "merge_down", tl)
            flat = labels
            break
        LAST_RUN_STATS["levels"] += 1
        loop_free = lsrc != ldst
        ls, ld, lw = lsrc[loop_free], ldst[loop_free], w[loop_free]

        def evaluate(lab):  # `_assign_quality` over the level's arrays
            c = np.unique(lab, return_inverse=True)[1]
            s2 = (np.bincount(c, weights=nw) ** 2).sum()
            return kernels.q_of(float(lw[c[ls] == c[ld]].sum()), float(s2), two_m, gamma, quality)

        best = _guarded_moves(
            ids if labels is None else labels,
            lambda lab, sweep, frac: kernels.sync_sweep(
                ids, lsrc, ldst, w, nw, lab, resolution2, seed + level, sweep, frac
            ),
            evaluate, max_sweeps, two_m, gamma, quality,
            checkpointer=checkpointer, level=level, m_l=m_l,
        )
        tl = _time.time()
        comm = kernels.min_member(ids, np.unique(best, return_inverse=True)[1])
        _phase(level, "lm_canonical", tl)
        if checkpointer is not None:
            checkpointer.log_metric(
                op="slm_lm_input", level=level, step=step_offset + level,
                partition_id=0, edges_processed=m_l,
            )
        tl = _time.time()
        sub = comm
        if variant == "slm":
            sub = _split_on_driver(ids, lsrc, ldst, w, nw, comm, resolution2, seed + level)
            tl = _phase(level, "split_kernel", tl)
        flat = sub if flat is None else sub[np.searchsorted(ids, flat)]
        tl = _phase(level, "merge_down", tl)
        cids, cidx = np.unique(sub, return_inverse=True)
        nw_next = np.bincount(cidx, weights=nw, minlength=cids.size)
        tl = _phase(level, "node_w_next", tl)
        if cids.size >= ids.size:
            break  # nothing merged at this level → converged
        lsrc, ldst, w = kernels.supergraph_entries(cidx[lsrc], cidx[ldst], w, cids.size)
        # next level's warm start: SLM groups subcommunities by their LM
        # community (§1.2(4c)); Louvain starts from singletons
        labels = None
        if variant == "slm":
            labels = np.empty(cids.size, dtype=np.int64)
            labels[cidx] = comm
        ids, nw = cids, nw_next
        tl = _phase(level, "aggregate", tl)
        if checkpointer is not None:
            step = step_offset + level
            checkpointer.save_state("slm_assign", step, _assign_frame(spark, ids0, flat))
            checkpointer.save_state(
                "slm_node_w", step, _assign_frame(spark, ids, nw, schema=NODE_W_SCHEMA)
            )
            checkpointer.save_state(
                "slm_supergraph", step,
                _assign_frame(spark, ids[lsrc], ids[ldst], w, schema=SYM_SCHEMA),
            )
            if labels is not None:
                checkpointer.save_state("slm_next_assign", step, _assign_frame(spark, ids, labels))
            checkpointer.log_metric(
                op="slm", level=level, step=step, edges=m_l, communities=cids.size
            )
    if q is None:
        # no finish scored the pass (converged, max_levels, or an empty
        # supergraph): score `flat` on the original graph
        tq = _time.time()
        q = _partition_q(
            lsrc0, ldst0, w0, node_w, np.unique(flat, return_inverse=True)[1],
            two_m, gamma, quality,
        )
        _phase(-1, "pass_q", tq)
    return flat, q


def _split_on_driver(ids, lsrc, ldst, w, node_w, comm, resolution2, seed):
    """`_split_communities` on a held level: `comm` (canonical labels per
    vertex) re-clustered from singletons per community by the same
    kernel over the same intra entries (self-loops dropped, as the
    sweep table drops them, see _sweep_edges).  Returns the subcommunity
    label per vertex; a vertex without intra entries stays a singleton
    of its own id."""
    cs = comm[lsrc]
    intra = np.flatnonzero((cs == comm[ldst]) & (lsrc != ldst))
    intra = intra[np.argsort(cs[intra], kind="stable")]
    sub = ids.copy()
    for part in np.split(intra, np.flatnonzero(np.diff(cs[intra])) + 1):
        if part.size:
            s = lsrc[part]
            gids, gsub = kernels.split_community(
                cs[part[0]], ids[s], ids[ldst[part]], w[part], node_w[s],
                resolution2, seed,
            )
            sub[np.searchsorted(ids, gids)] = gsub
    return sub


def _merge_down(
    flat: DataFrame, level_assign: DataFrame, bcast: bool = False
) -> DataFrame:
    """Label merge-down (G9) — flat: orig_id → comm_k;  level_assign:
    comm_k → comm_{k+1}.
    `bcast`: broadcast-hint the (level-vertex-sized) mapping so the
    original-vertex-sized `flat` never exchanges — gated on the level's
    carried vertex count by the caller."""
    r = level_assign.select(
        F.col("id").alias("community"), F.col("community").alias("new_c")
    )
    r = F.broadcast(r) if bcast else r
    out = flat.join(r, "community").select("id", F.col("new_c").alias("community"))
    return out.transform(materialize)


def _exact_finish(
    sym_l, node_w_l, assign_l, resolution2, seed, variant, two_m, gamma, quality, level=-1
):
    """Collect the (now small) super-graph and run the sequential kernel
    to convergence, starting from the current assignment (the numpy part
    is `_finish_core`).  Returns (assign, q): q is the pass's Q on the
    ORIGINAL graph, scored from the collected arrays with no Spark job —
    or None when the supergraph is empty and `assign_l` comes back
    unchanged (the caller recomputes)."""
    tp = _time.time()
    # ONE tagged-union collect instead of three separate toPandas
    # actions (r6) — the exact finish runs once per pass and each
    # driver action costs a full job submission
    unioned = (
        sym_l.select(
            F.lit(0).alias("t"), F.col("src").alias("a"),
            F.col("dst").alias("b"), F.col("weight").alias("w"),
        )
        .unionByName(
            node_w_l.select(
                F.lit(1).alias("t"), F.col("id").alias("a"),
                F.lit(0).cast("long").alias("b"), F.col("node_w").alias("w"),
            )
        )
        .unionByName(
            assign_l.select(
                F.lit(2).alias("t"), F.col("id").alias("a"),
                F.col("community").alias("b"), F.lit(0.0).alias("w"),
            )
        )
    )
    all_pdf = unioned.toPandas()
    pdf = all_pdf[all_pdf["t"] == 0].rename(
        columns={"a": "src", "b": "dst", "w": "weight"}
    )
    nw = all_pdf[all_pdf["t"] == 1].rename(columns={"a": "id", "w": "node_w"})
    a = all_pdf[all_pdf["t"] == 2].rename(columns={"a": "id", "b": "community"})
    _phase(level, "exact_collect", tp)
    if pdf.empty:
        return assign_l, None

    ids, lsrc, ldst, la = kernels.dense_ids(
        pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64),
        a["id"].to_numpy(np.int64),
    )
    node_w = np.zeros(len(ids))
    node_w[np.searchsorted(ids, nw["id"].to_numpy(np.int64))] = nw["node_w"].to_numpy(np.float64)
    labels = np.empty(len(ids), dtype=np.int64)
    labels[la] = a["community"].to_numpy(np.int64)
    labels, q = _finish_core(
        ids, lsrc, ldst, pdf["weight"].to_numpy(np.float64), node_w, labels,
        resolution2, seed, variant, two_m, gamma, quality, level,
    )
    tp = _time.time()
    res = _assign_frame(sym_l.sparkSession, ids, labels)
    _phase(level, "exact_emit", tp)
    return res, q


def _finish_core(
    ids, lsrc, ldst, w, node_w, labels, resolution2, seed, variant, two_m, gamma,
    quality, level,
):
    """The exact finish's numpy part, shared by `_exact_finish` (the
    Spark level loop) and `_driver_pass` (a driver run's finish level),
    which records its seconds as the ``exact_kernel`` phase: the level's
    graph as sorted vertex `ids` and symmetrized entries (`lsrc`, `ldst`
    index into `ids`; `w` their weights), with `node_w` per vertex and
    `labels` (any int64 community labels, one per vertex) as the start.
    Runs the level step to convergence (at most 32 passes) and returns
    (min-member labels, q), q the Q on the ORIGINAL graph.

    ``s_in = two_m − w_cross`` holds at any level, with w_cross the
    weight of entries whose endpoints end in different final
    communities: an original entry that crosses final communities
    survives every aggregation inside such a crossing supergraph entry,
    and every other original entry's weight was either dropped as a
    supernode self-loop or sits in an intra supergraph entry.  Σtot² is
    Σ_c (Σ node_w)² over the level's node weights (aggregated vertex
    counts for CPM, so Σ n_c²).  On integral weights every sum is exact,
    so q equals ``modularity()`` bit for bit."""
    tp = _time.time()
    indptr, nbr, wgt = kernels.build_csr(len(ids), lsrc, ldst, w)
    # dense community labels in ascending label order; np.unique, not an
    # array indexed by label: labels are vertex ids, up to 2^62
    cluster = np.unique(labels, return_inverse=True)[1]
    rng = np.random.Generator(np.random.PCG64(seed))
    # fast=True: the graph can hold up to exact_threshold edges (~10^5
    # nodes) — above 4096 nodes the chunked vectorized LM (same Q-class)
    # runs instead of the sequential visit loop, which takes every
    # smaller (sub)network (exact label parity is slm_exact's job, not
    # the scale-mode finisher's)
    step = kernels.level_step(variant, fast=True)
    for _ in range(32):
        if not step(indptr, nbr, wgt, node_w, cluster, resolution2, rng):
            break
    q = _partition_q(lsrc, ldst, w, node_w, cluster, two_m, gamma, quality)
    # canonical min-member-id labels to stay in the global convention
    labels = kernels.min_member(ids, cluster)
    _phase(level, "exact_kernel", tp)
    return labels, q


def _partition_q(lsrc, ldst, w, node_w, cluster, two_m, gamma, quality):
    """The Q on the ORIGINAL graph of a final partition `cluster` (dense
    indices) of a level's vertices; see `_finish_core`."""
    s_in = two_m - w[cluster[lsrc] != cluster[ldst]].sum()
    s2 = (np.bincount(cluster, weights=node_w) ** 2).sum()
    return kernels.q_of(float(s_in), float(s2), two_m, gamma, quality)


# -------------------------------------------------------------- facade


def slm(
    edges: DataFrame,
    gamma: float = 1.0,
    quality: str = "modularity",
    n_random_starts: int = 1,
    n_iterations: int = 1,
    seed: int = 0,
    mode: str = "auto",
    variant: str = "slm",
    exact_threshold: int = 200_000,
    checkpointer=None,
    **scale_kw,
):
    """Community detection entry point. Returns (assign_df, q).

    mode: "exact" | "scale" | "auto" (exact when the graph is under
    `exact_threshold` directed-pair entries).

    `n_iterations` and `n_random_starts` apply to both modes: scale
    mode reruns the full pass chain per start under a per-start seed
    offset and returns the argmax-Q assignment (G14)."""
    if mode == "auto":
        m = edges.count()
        mode = "exact" if 2 * m <= exact_threshold else "scale"
    if mode == "exact":
        return slm_exact(
            edges,
            gamma=gamma,
            quality=quality,
            n_random_starts=n_random_starts,
            n_iterations=n_iterations,
            seed=seed,
            variant=variant,
        )
    return slm_scale(
        edges,
        gamma=gamma,
        quality=quality,
        seed=seed,
        exact_threshold=exact_threshold,
        checkpointer=checkpointer,
        variant=variant,
        n_iterations=n_iterations,
        n_random_starts=n_random_starts,
        **scale_kw,
    )
