"""Smart Local Moving / Louvain over the edge table (SURVEY.md G4–G16).

Two execution modes (SURVEY.md §5.3):

- **exact**: the whole (small) graph flows into ONE ``applyInPandas``
  kernel that runs the sequential reference algorithm
  (kernels.run_slm) — bitwise-deterministic given a seed; used for the
  golden-fixture parity gate.

- **scale**: the distributed path for web-scale graphs.
  Per outer level:
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
       community — embarrassingly parallel.
    3. *aggregation* (G7/G8): join+groupBy builds the super-graph;
       subcommunities start the next level grouped by their parent.
    4. recurse until the super-graph stops shrinking; once it fits
       under ``exact_threshold`` edges the remaining levels run in the
       exact kernel (the graph has shrunk 100–10000× by then).
  Every outer level checkpoints assign + supergraph + metrics through
  the Checkpointer (resumable mid-convergence).

Scale-mode results match the reference's *Q-class* (same modularity to
1e-6 on graphs with stable optima), not its exact label sequence — the
sequential visit order is inherently unparallelizable (SURVEY §8-H1);
exact mode is the label-parity path.

Vertex ids are assumed non-negative (the ingest layer guarantees it):
scale mode labels an escaped singleton ``-(id+1)`` during sweeps, which
must not collide with any real vertex id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from slmpy_spark.graph import kernels
from slmpy_spark.graph.aggregate import aggregate_graph
from slmpy_spark.graph.edges import degrees, symmetrize, total_weight, vertices
from slmpy_spark.graph.modularity import modularity
from slmpy_spark.util import EdgeCache, explain_to, materialize, owned_view

ASSIGN_SCHEMA = "id long, community long"

import os as _os
import sys as _sys
import time as _time

#: diagnostics from the most recent slm_scale() run on this driver
#: (single-threaded driver assumption): actual sweep/level/pass counts,
#: consumed by bench.py / BENCH/run_scaling.py to compute real
#: edges-per-sweep throughput instead of assuming max_sweeps ran.
LAST_RUN_STATS: dict = {"sweeps": 0, "levels": 0, "passes": 0, "edge_entries_swept": 0}


def _dbg(msg: str) -> None:
    if _os.environ.get("SLMPY_DEBUG"):
        print(f"[slm {_time.strftime('%H:%M:%S')}] {msg}", file=_sys.stderr, flush=True)


def _phase(level, name: str, t0: float) -> float:
    """Emit a parseable non-sweep phase timing line (SLMPY_DEBUG) and
    return a fresh t0 — BENCH/decompose.py aggregates these to attribute
    the non-sweep serial floor per phase instead of one opaque bucket."""
    now = _time.time()
    _dbg(f"phase level={level} name={name} secs={now - t0:.3f}")
    return now


# ------------------------------------------------------------- helpers


def _dense_run(pdf: pd.DataFrame, fn, **kw):
    """Remap arbitrary long ids to dense 0..n-1, run a kernels.* entry
    point, map back. Returns (ids, cluster, extra)."""
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    w = pdf["weight"].to_numpy(dtype=np.float64)
    ids = np.unique(np.concatenate([src, dst]))
    lsrc = np.searchsorted(ids, src)
    ldst = np.searchsorted(ids, dst)
    return ids, fn(len(ids), lsrc, ldst, w, **kw)


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
    """Sequential SLM/Louvain in one Arrow kernel. Returns (assign, q)."""
    sym = symmetrize(edges)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, (cluster, q) = _dense_run(
            pdf,
            kernels.run_slm,
            gamma=gamma,
            quality=quality,
            n_random_starts=n_random_starts,
            n_iterations=n_iterations,
            seed=seed,
            variant=variant,
        )
        return pd.DataFrame({"id": ids, "community": cluster, "q": q})

    out = (
        sym.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(kernel, "id long, community long, q double")
        .persist()
    )
    first = out.select("q").first()
    q = float(first["q"]) if first else 0.0
    assign = out.select("id", "community")
    return assign, q


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


def _lazy_sigma_state(state: DataFrame, bcast: bool = False) -> DataFrame:
    """(id, community, sigma) view of a *materialized* shuffle-level
    state, deriving sigma on the fly: a partial-combining
    groupBy(community).sum (map-side combine → a hub community's rows
    reduce before the shuffle; the exchange moves per-task partials,
    not vertices) hash-joined back.  ``shuffle_hash``: build the tiny
    one-row-per-community side and STREAM the probe partition — a
    sort-merge join would sort the giant community's partition, and a
    window would buffer it, both single-task stragglers at scale.
    (`bcast=True` broadcast-joins the tiny side instead — used only by
    tests/probes; the sweep's bcast levels carry sigma on the state.)

    The sweep references this frame exactly twice (the dst-side
    candidate projection and the zero-weight self rows), both pruned to
    the same (id, community, sigma) columns — the join's two input
    exchanges canonicalize identically across the references, so
    exchange reuse computes them once.  `state` must be a materialize()
    leaf: re-scanning it is reading checkpoint blocks, not recomputing
    a plan."""
    sig = state.groupBy("community").agg(F.sum("node_w").alias("sigma"))
    sig = F.broadcast(sig) if bcast else sig.hint("shuffle_hash")
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


def _q_of(intra: float, s2: float, two_m: float, gamma: float, quality: str) -> float:
    if two_m == 0:
        return 0.0
    if quality == "cpm":
        return (intra - gamma * s2) / two_m
    return intra / two_m - gamma * s2 / (two_m * two_m)


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
    intra = float(row["intra"] or 0.0)
    s2 = float(row["s2"] or 0.0)
    if two_m == 0:
        return 0.0
    if quality == "cpm":
        return (intra - gamma * s2) / two_m
    return intra / two_m - gamma * s2 / (two_m * two_m)


def _distributed_local_moving(
    sym: DataFrame,
    node_w: DataFrame,
    assign: DataFrame,
    resolution2: float,
    seed: int,
    max_sweeps: int,
    gamma: float,
    quality: str,
    q_guard: bool,
    two_m: float,
    checkpointer=None,
    level: int = 0,
    bcast: bool = False,
    m_l: int = 0,
    init_frac: float = 0.5,
    q_tol: float = 1e-4,
) -> DataFrame:
    """Superstep local moving with adaptive damping and a *deferred*
    monotone-Q guard.

    `init_frac`: the first sweep's mover fraction.  A full (1.0)
    synchronous sweep from a fresh state always overshoots (every
    boundary vertex jumps simultaneously — measured: the full-frac
    opening sweep was rejected at EVERY level of the 10M-edge ladder),
    so starting at 0.5 saves two wasted edge scans per level; the
    fraction relaxes to 1.0 as sweeps are accepted.

    `q_tol`: convergence tolerance — stop sweeping when an accepted
    sweep improved Q by less than this (the level's remaining gain
    belongs to cheaper, smaller levels above).  Generous `max_sweeps`
    budgets are safe with it.

    Sweep t's decision job also yields (for free, see _propose_moves)
    the exact Q of the assignment it was proposed FROM.  So the guard
    runs one sweep late: when sweep t reveals that state S_t does not
    beat the best Q seen, S_t's proposal is discarded, the loop reverts
    to the best state and retries with a halved mover fraction; when it
    does beat it, S_t becomes the best and the (already computed)
    proposal is adopted.  The final adopted proposal — whose Q no sweep
    has revealed — gets one explicit _assign_quality evaluation per
    level.  Convergence: damping shrinks the simultaneous-move set
    toward the sequential regime; stops at n_moves == 0, `max_sweeps`,
    or `patience` consecutive rejections.

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
    only the vertex-sized state shuffles per sweep."""
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
    state = materialize(state0)
    tp = _phase(level, "lm_state_init", tp)
    best_state = state
    best_q = None
    move_frac = init_frac
    patience = 4
    stall = 0
    pending = False  # does `state` hold an adopted-but-unevaluated proposal?

    # Unpersist hygiene: the guard can only ever revert to `best_state`,
    # so any sweep state that is neither `best_state` nor the current
    # `state` is dead and its checkpoint blocks are freed IMMEDIATELY.
    # Keeping them until level end (the old `owned` list) let ~16
    # vertex-sized row-format block sets pile up in storage memory and
    # evict the level's cached edge table — measured on the 10M-edge
    # ladder as intermittent 3–4× propose-time spikes (cache rebuild)
    # from sweep ~8 onward.

    for sweep in range(max_sweeps):
        t0 = _time.time()
        obs = Observation()
        if sweep == 0:
            explain_to(
                _propose_moves(sym, state, resolution2, seed, sweep, move_frac, bcast),
                f"slm_sweep_{'bcast' if bcast else 'shuffle'}",
            )
        prop = (
            _propose_moves(sym, state, resolution2, seed, sweep, move_frac, bcast)
            .observe(
                obs,
                F.sum("kic_cur").alias("intra"),
                F.sum(F.col("node_w") * F.col("sigma_o")).alias("s2"),
                F.sum("moved").alias("moves"),
            )
            .transform(materialize)
        )
        t1 = _time.time()
        LAST_RUN_STATS["sweeps"] += 1
        LAST_RUN_STATS["edge_entries_swept"] += m_l
        # pre-sweep state's Q + this sweep's move count, observed on the
        # materialize action itself — one Spark job per sweep, total
        vals = obs.get
        q_prev = _q_of(
            float(vals["intra"] or 0.0), float(vals["s2"] or 0.0),
            two_m, gamma, quality,
        )
        n_moves = int(vals["moves"] or 0)
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
        if best_q is None:
            best_q = q_prev  # q of the initial assignment
        elif state is not best_state:
            if q_guard and q_prev <= best_q + 1e-12:
                # the state sweep t built on was NOT an improvement:
                # discard its speculative proposal, damp, retry from best
                stall += 1
                move_frac = max(0.125, move_frac / 2)
                prop.unpersist()
                doomed = state
                state = best_state
                doomed.unpersist()  # rejected state: never needed again
                pending = False
                if stall >= patience:
                    break
                continue
            gained = q_prev - best_q
            best_q = q_prev
            old_best = best_state
            best_state = state
            old_best.unpersist()  # superseded best: free its blocks now
            stall = 0
            # relax damping on acceptance, but cap at 0.75: measured on
            # the 10M-edge ladder, full (1.0) sweeps gain ~0 Q and get
            # rejected while 0.5-fraction sweeps gain +0.03 each — the
            # synchronous overshoot needs a permanent minority of holdouts
            move_frac = min(0.75, move_frac * 1.5)
            if q_guard and gained < q_tol:
                # converged to tolerance: the pending proposal can only
                # chase diminishing returns — stop here, keep the best
                prop.unpersist()
                pending = False
                break
        if n_moves == 0:
            prop.unpersist()
            pending = False
            break
        state = prop
        pending = True

    tp = _time.time()
    if pending and q_guard:
        # last adopted proposal was never revealed by a later sweep —
        # evaluate it once; keep it only if it beats the best
        q_final = _assign_quality(sym, state, two_m, gamma, quality, bcast=bcast)
        _dbg(f"level {level} final-eval q={q_final:.6f} (best {best_q:.6f})")
        if best_q is None or q_final > best_q + 1e-12:
            best_state = state
        tp = _phase(level, "lm_final_eval", tp)
    elif pending:
        best_state = state

    assign_out = _canonical_labels(
        best_state.select("id", "community"), bcast=bcast
    ).transform(materialize)
    tp = _phase(level, "lm_canonical", tp)
    if state is not best_state:
        state.unpersist()
    best_state.unpersist()
    return assign_out


# ----------------------------------------- scale mode: community split


def _split_kernel_factory(resolution2: float, seed: int):
    """LM-from-singletons inside one community (G6). Input rows: the
    community's intra edges (src, dst, weight, w_src). Output:
    (id, sub) with sub = the subcommunity's MIN MEMBER VERTEX ID —
    globally unique with zero coordination (members are disjoint across
    communities), so the caller needs no relabel join afterwards."""

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        comm = int(key[0])
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        w = pdf["weight"].to_numpy(np.float64)
        ids = np.unique(np.concatenate([src, dst]))
        lsrc = np.searchsorted(ids, src)
        ldst = np.searchsorted(ids, dst)
        indptr, nbr, wgt = kernels.build_csr(len(ids), lsrc, ldst, w)
        # node weights: every id appears as src (sym table) — gather its
        # w_src from the first row of its CSR-sorted slice (vectorized;
        # ids without src rows keep 0, they have no edges here anyway)
        node_w = np.zeros(len(ids))
        uniq_pos, first_idx = np.unique(lsrc, return_index=True)
        node_w[uniq_pos] = pdf["w_src"].to_numpy(np.float64)[first_idx]
        cluster = np.arange(len(ids), dtype=np.int64)
        rng = np.random.Generator(np.random.PCG64(seed ^ (comm * 2_654_435_761 % (1 << 63))))
        # sequential kernel for small communities (cheap, closest to
        # the reference); chunked vectorized kernel for big ones
        # (a power-law hub community can hold most of the graph — a
        # per-node Python loop there would serialize the whole stage)
        if len(ids) <= 4096:
            kernels.local_moving(indptr, nbr, wgt, node_w, cluster, resolution2, rng)
        else:
            kernels.local_moving_chunked(
                indptr, nbr, wgt, node_w, cluster, resolution2, rng
            )
        # local cluster index → min member vertex id (ids is sorted, so
        # a min-scatter over cluster indices gives it vectorized)
        min_id = np.full(int(cluster.max()) + 1, np.iinfo(np.int64).max)
        np.minimum.at(min_id, cluster, ids)
        return pd.DataFrame({"id": ids, "sub": min_id[cluster]})

    return kernel


def _split_communities(
    sym: DataFrame,
    node_w: DataFrame,
    assign: DataFrame,
    resolution2: float,
    seed: int,
    bcast: bool = False,
    gamma: float = 1.0,
    quality: str = "modularity",
    two_m: float = 0.0,
    max_sweeps: int = 8,
    giant_threshold: int = 1_000_000,
    level: int = -1,
) -> DataFrame:
    """Re-cluster every community from singletons (may split it).
    New community labels = min member vertex id per subcommunity.
    Members without intra-community edges become singletons (exactly
    the sequential semantics: no neighbors in subnetwork → no positive
    gain → stays alone).

    Two physical strategies on the intra-community edge table:

    - **per-community Arrow kernel** (default): communities are
      embarrassingly parallel ``applyInPandas`` groups, each running
      vectorized LM to local convergence — ideal when communities are
      many and bounded.
    - **distributed split**: when the LARGEST community holds more
      intra-edge rows than `giant_threshold`, a single kernel task
      would become the stage's straggler (a power-law giant component
      can hold most of the graph).  Splitting is just LM-from-
      singletons on the intra-edge graph — intra edges never cross
      parents, so the same JVM-side sweep engine re-clusters EVERY
      community at once, fully distributed, with identical semantics.
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
    intra = (
        sym.join(a_dst, "dst")
        .join(src_side, "src")
        .where(F.col("c_src") == F.col("c_dst"))
        .select("src", "dst", "weight", "w_src", F.col("c_src").alias("community"))
        .persist()
    )
    top_row = (
        intra.groupBy("community")
        .count()
        .agg(F.max("count").alias("m"), F.sum("count").alias("tot"))
        .first()
    )
    top = int(top_row["m"] or 0)
    intra_count = int(top_row["tot"] or 0)
    tp = _phase(level, "split_intra", tp)

    if top > giant_threshold:
        _dbg(f"split: giant community ({top} intra rows) → distributed split")
        lm_sym = intra.select("src", "dst", "weight")
        cache = None if bcast else EdgeCache(lm_sym, "dst", eager=True)
        out = _distributed_local_moving(
            lm_sym if bcast else cache.df, node_w, None,
            resolution2, seed ^ 0x5BD1E995, max_sweeps, gamma, quality,
            True, two_m, bcast=bcast, m_l=intra_count,
        )
        if cache is not None:
            cache.free()
        # labels are already canonical min-member ids; vertices with no
        # intra edges kept their singleton id — the kernel semantics
        tp = _phase(level, "split_distributed", tp)
        # parent map (subcommunity → step-a parent community) — the SLM
        # §1.2(4c) warm start for the next level's initial clustering.
        # Materialized HERE, before the caller unpersists `assign` (the
        # LM output): materialize()'s unpersist frees real checkpoint
        # blocks now, so lazily holding a reference to `assign` past its
        # free would be a use-after-free.
        parent_map = (
            out.join(assign.select("id", F.col("community").alias("parent")), "id")
            .select(F.col("community").alias("id"), F.col("parent").alias("community"))
            .distinct()
            .transform(materialize)
        )
    else:
        _dbg(f"split: top community {top} intra rows (≤ {giant_threshold}) → kernel split")
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
        parent_map = (
            out_full.select(
                F.col("community").alias("id"), F.col("parent").alias("community")
            )
            .distinct()
            .transform(materialize)
        )
    tp = _phase(level, "split_parent_map", tp)
    intra.unpersist()
    return out, parent_map


# ---------------------------------------------------------- scale mode


def slm_scale(
    edges: DataFrame,
    gamma: float = 1.0,
    quality: str = "modularity",
    seed: int = 0,
    max_levels: int = 12,
    max_sweeps: int = 12,
    n_parts: int | None = None,
    exact_threshold: int = 200_000,
    q_guard: bool = True,
    checkpointer=None,
    variant: str = "slm",
    resume: bool = False,
    n_iterations: int = 1,
    n_random_starts: int = 1,
    broadcast_threshold: int = 250_000,
    giant_threshold: int = 1_000_000,
):
    """Distributed SLM (variant="slm") / Louvain (variant="louvain").
    Returns (assign, q) — q computed on the original graph.

    `n_iterations`: iterated SLM (G14) — each pass restarts the level
    hierarchy from the previous pass's flat assignment (never from
    singletons), monotonically refining Q; stops early when a pass
    stops improving (the best pass's assignment is returned, so the
    reported q always matches the returned labels).

    `n_random_starts`: G14's other axis — each start reruns the whole
    pass chain from singletons under a start-specific seed offset; the
    argmax-Q assignment over all starts/passes is returned (mirrors
    exact mode's best-of-N restarts).

    `n_parts` is accepted for API compatibility but unused: the sweep
    is a Catalyst aggregation whose parallelism follows
    spark.sql.shuffle.partitions / AQE, not a manual partition count.

    `broadcast_threshold`: levels whose vertex count fits under it run
    every vertex-side join map-side (broadcast) — the edge table is
    scanned without shuffling during sweeps.

    With a `checkpointer`, every completed level persists the snapshot
    (slm_assign flat labels, slm_supergraph, slm_node_w, and
    slm_next_assign — the next level's warm-start clustering); passing
    `resume=True` with a checkpointer holding the same run_id restarts
    the level loop after the last completed level from that warm
    start.  Per-level seeds are `seed + level`, so the remaining
    levels replay as the uninterrupted run would (modulo sweeps'
    snapshot timing)."""
    spark = edges.sparkSession
    LAST_RUN_STATS.update(sweeps=0, levels=0, passes=0, edge_entries_swept=0)

    # materialize (checkpoint leaf), NOT persist: every level-0 sweep's
    # plan embeds the edge cache's lineage at each reference, and
    # CacheManager.useCachedData + AQE replanning canonicalize those
    # embedded trees per sweep — measured ~1.0s/sweep of driver-side
    # 'optimization' phase against ~26ms of actual rule execution when
    # sym0 carries the caller's full lineage (BENCH/qe_stage_probe.py:
    # 1.06s → 0.085s with a leaf).  A leaf costs one checkpoint job up
    # front (same price as persist+count) and collapses every
    # downstream cache's embedded plan to scan-over-LogicalRDD.
    # The edge-entry count and 2m ride the checkpoint action as observe
    # metrics (weights are integral on web link graphs, so the sum is
    # exact regardless of accumulation order) — no separate count /
    # total_weight jobs.
    tp = _time.time()
    obs0 = Observation()
    sym0 = materialize(
        symmetrize(edges).observe(
            obs0,
            F.count(F.lit(1)).alias("m"),
            F.sum("weight").alias("tw"),
        )
    )
    v0 = obs0.get
    m0 = int(v0["m"] or 0)
    two_m = float(v0["tw"] or 0.0)
    obs_n = Observation()
    if quality == "cpm":
        resolution2 = gamma
        nw0 = vertices(edges).select("id", F.lit(1.0).alias("node_w"))
    else:
        resolution2 = gamma / two_m if two_m else 0.0
        nw0 = degrees(sym0).select("id", F.col("w_deg").alias("node_w"))
    nw0 = materialize(nw0.observe(obs_n, F.count(F.lit(1)).alias("n")))
    nv0 = int(obs_n.get["n"] or 0)
    tp = _phase(-1, "setup", tp)

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
            flat = _scale_pass(
                sym0, nw0, two_m, resolution2, gamma, quality,
                pass_seed, max_levels, max_sweeps,
                exact_threshold, q_guard, variant, checkpointer,
                step_offset=(start * n_iters + it) * max_levels,
                init_flat=prev,
                resume=(resume and it == 0 and start == 0),
                broadcast_threshold=broadcast_threshold,
                giant_threshold=giant_threshold,
                m0=m0, nv0=nv0,
            )
            if variant == "louvain_refine":
                # multilevel refinement (§1.2(3)): one more LM pass on
                # the ORIGINAL graph from the merged-down labels; the
                # guard keeps it monotone, so the pass can only improve Q
                nv0 = nw0.count()
                bcast0 = nv0 <= broadcast_threshold
                cache = None if bcast0 else EdgeCache(sym0, "dst", eager=True)
                pre_refine = flat
                flat = _distributed_local_moving(
                    sym0 if bcast0 else cache.df, nw0, flat, resolution2,
                    pass_seed + max_levels, max_sweeps, gamma, quality,
                    q_guard, two_m, checkpointer=checkpointer,
                    level=max_levels, bcast=bcast0,
                )
                if cache is not None:
                    cache.free()
                # identity guards (same rule as the best/prev frees
                # below): an empty-graph _scale_pass can return its
                # init_flat/warm-start unchanged, so pre_refine may BE
                # prev or best_flat — freeing it would drop checkpoint
                # blocks that have no lineage to recompute from
                if (
                    pre_refine is not prev
                    and pre_refine is not best_flat
                    and pre_refine is not flat
                ):
                    pre_refine.unpersist()
            tq = _time.time()
            q = modularity(sym0, flat, gamma=gamma, quality=quality, two_m=two_m)
            tq = _phase(-1, "pass_q", tq)
            _dbg(f"start {start} pass {it}: q={q:.6f} (best {best_q})")
            old_best = best_flat
            if best_q is None or q > best_q + 1e-9:
                best_q, best_flat = q, flat
                if old_best is not None:
                    old_best.unpersist()
                if prev is not None and prev is not old_best:
                    prev.unpersist()
            else:
                # pass didn't improve the global best: free it and stop
                # iterating this start (further passes chase a local
                # optimum the best already beat).  Identity guards: an
                # empty-graph pass can return `prev` itself unchanged —
                # never double-free or free the kept best.
                if prev is not None and prev is not best_flat and prev is not flat:
                    prev.unpersist()
                if flat is not best_flat:
                    flat.unpersist()
                break

    sym0.unpersist()
    nw0.unpersist()
    return best_flat.select("id", "community"), best_q


def _scale_pass(
    sym0, nw0, two_m, resolution2, gamma, quality, seed, max_levels,
    max_sweeps, exact_threshold, q_guard, variant,
    checkpointer, step_offset, init_flat, resume,
    broadcast_threshold=250_000,
    giant_threshold: int = 1_000_000,
    m0: int | None = None, nv0: int | None = None,
):
    """One full SLM/Louvain hierarchy pass (level loop). Returns the
    flat original-vertex → community assignment.

    `m0`/`nv0`: the level-0 edge-entry and vertex counts when the caller
    already knows them (observe-ridden on sym0/nw0's checkpoint jobs);
    levels > 0 carry both counts forward from the aggregation step's own
    observe metrics, so the steady-state level loop runs ZERO standalone
    count jobs."""
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
    level_start = 0

    if resume and checkpointer is not None:
        k = checkpointer.latest_step("slm_supergraph")
        if k is not None and k >= step_offset:
            level_start = k + 1 - step_offset
            sym_l = checkpointer.load_state("slm_supergraph", k).persist()
            node_w_l = checkpointer.load_state("slm_node_w", k)
            flat = checkpointer.load_state("slm_assign", k)
            assign_l = checkpointer.load_state("slm_next_assign", k)
            m_known = None
            nv_known = None

    for level in range(level_start, max_levels):
        tl = _time.time()
        m_l = m_known if m_known is not None else sym_l.count()
        _dbg(f"level {level}: m={m_l}")
        if m_l <= exact_threshold:
            _dbg(f"level {level}: exact finish (m={m_l})")
            warm = assign_l
            assign_l = _exact_finish(
                sym_l,
                node_w_l,
                assign_l
                if assign_l is not None
                else node_w_l.select("id", F.col("id").alias("community")),
                resolution2,
                seed + level,
                variant,
                level=level,
            )
            tl = _phase(level, "exact_finish", tl)
            # _exact_finish returns its INPUT unchanged when the level's
            # supergraph is empty (every community absorbed all its
            # edges → aggregate dropped them as self-loops): freeing
            # `warm` then would free `assign_l` itself — materialize's
            # unpersist frees real checkpoint blocks with no lineage to
            # recompute from, so the merge-down below would abort with
            # CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
            if warm is not None and warm is not init_flat and warm is not assign_l:
                warm.unpersist()
            _dbg(f"level {level}: exact finish done")
            prev_flat = flat
            flat = (
                assign_l
                if flat is None
                else _merge_down(
                    flat,
                    assign_l,
                    bcast=(nv_known is not None and nv_known <= broadcast_threshold),
                )
            )
            if prev_flat is not None and prev_flat is not flat:
                prev_flat.unpersist()
            break

        nv = nv_known if nv_known is not None else node_w_l.count()
        bcast = nv <= broadcast_threshold
        LAST_RUN_STATS["levels"] += 1
        # level-owned edge cache at shuffle levels: ONE
        # repartition("dst") + persist reused by every sweep's kic join,
        # the split's intra join, and the aggregation — the level's edge
        # table is shuffled into this layout exactly once (sym_l is
        # already a leaf, so the cache builds no second one)
        cache = None if bcast else EdgeCache(sym_l, "dst", eager=True)
        sym_j = sym_l if bcast else cache.df
        if not bcast:
            tl = _phase(level, "edge_cache", tl)
        warm = assign_l
        assign_l = _distributed_local_moving(
            sym_j, node_w_l, assign_l, resolution2, seed + level, max_sweeps,
            gamma, quality, q_guard, two_m,
            checkpointer=checkpointer, level=level, bcast=bcast, m_l=m_l,
        )
        if warm is not None and warm is not init_flat:
            # previous level's (materialized) warm-start map is consumed
            # (LM materialized its own state) — free its blocks; never
            # touches the caller's init_flat
            warm.unpersist()
        _dbg(f"level {level}: LM done (bcast={bcast}), splitting")
        if checkpointer is not None:
            # per-partition lineage (north star / SURVEY §2.1): which
            # physical partition processed how many edge entries, how
            # long — once per level, over the level's input edge table
            checkpointer.log_partition_metrics(
                sym_j, op="slm_lm_input", level=level, step=step_offset + level
            )
        parent_map = None
        tl = _time.time()
        if variant == "slm":
            lm_out = assign_l
            assign_l, parent_map = _split_communities(
                sym_j, node_w_l, assign_l, resolution2, seed + level,
                bcast=bcast, gamma=gamma, quality=quality, two_m=two_m,
                max_sweeps=max_sweeps, giant_threshold=giant_threshold,
                level=level,
            )
            lm_out.unpersist()  # split output (materialized) supersedes it

        prev_flat = flat
        flat = assign_l if flat is None else _merge_down(flat, assign_l, bcast=bcast)
        if prev_flat is not None and prev_flat is not flat:
            prev_flat.unpersist()
        tl = _phase(level, "merge_down", tl)

        _dbg(f"level {level}: split done, aggregating")
        # next level's node weights double as the convergence check:
        # its row count IS the community count (saves the separate
        # count-distinct job per level) and rides the materialize action
        # as an observe metric — no standalone count job; it also
        # becomes the carried vertex count of the next level
        obs_nw = Observation()
        node_w_next = materialize(
            node_w_l.join(
                F.broadcast(assign_l) if bcast else assign_l, "id"
            )
            .groupBy("community")
            .agg(F.sum("node_w").alias("node_w"))
            .select(F.col("community").alias("id"), "node_w")
            .observe(obs_nw, F.count(F.lit(1)).alias("n"))
        )
        n_vertices, n_comms = nv, int(obs_nw.get["n"] or 0)
        tl = _phase(level, "node_w_next", tl)
        if n_comms >= n_vertices:
            node_w_next.unpersist()
            if parent_map is not None:
                parent_map.unpersist()  # materialized but never used
            if cache is not None:
                cache.free()
            break  # nothing merged at this level → converged

        super_edges, _sw = aggregate_graph(sym_j, assign_l, bcast=bcast)
        explain_to(super_edges, "slm_aggregate")
        old_sym = sym_l
        # next level's edge-entry count rides the aggregation's own
        # checkpoint action (steady-state: zero standalone count jobs
        # per level)
        obs_m = Observation()
        sym_l = materialize(
            super_edges.observe(obs_m, F.count(F.lit(1)).alias("m"))
        )
        m_known = int(obs_m.get["m"] or 0)
        nv_known = n_comms
        tl = _phase(level, "aggregate", tl)
        # the level's (materialized) assignment is now fully consumed —
        # merge-down, node_w_next, and the aggregation above are all
        # materialized over their own blocks — so its checkpoint blocks
        # are dead weight.  At level 0 it IS `flat` (merge-down returns
        # the first level unchanged): freeing it would free the result.
        if assign_l is not flat and assign_l is not init_flat:
            assign_l.unpersist()
        if cache is not None:
            cache.free()
        if old_sym is not sym0:
            old_sym.unpersist()
        if node_w_l is not nw0:
            node_w_l.unpersist()
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
            old_flat = flat
            flat = checkpointer.save_state("slm_assign", step, flat)
            old_flat.unpersist()
            checkpointer.save_state("slm_node_w", step, node_w_l)
            checkpointer.save_state("slm_supergraph", step, sym_l)
            if assign_l is not None:  # None = singletons (louvain)
                checkpointer.save_state("slm_next_assign", step, assign_l)
            checkpointer.log_metric(
                op="slm", level=level, step=step, edges=m_l, communities=n_comms
            )

    if sym_l is not sym0:
        sym_l.unpersist()
    # every loop exit (exact-finish break, converged break, max_levels
    # exhaustion) lands here still holding the last level's node-weight
    # leaf and possibly a dangling assignment (the converged break's
    # split output, or an exhaustion pass's never-consumed warm-start
    # parent map) — free both; `flat` and the caller's init_flat stay
    if node_w_l is not nw0:
        node_w_l.unpersist()
    if assign_l is not None and assign_l is not flat and assign_l is not init_flat:
        assign_l.unpersist()
    return flat


def _merge_down(
    flat: DataFrame, level_assign: DataFrame, bcast: bool = False
) -> DataFrame:
    """flat: orig_id → comm_k;  level_assign: comm_k → comm_{k+1}.
    `bcast`: broadcast-hint the (level-vertex-sized) mapping so the
    original-vertex-sized `flat` never exchanges — gated on the level's
    carried vertex count by the caller."""
    r = level_assign.select(
        F.col("id").alias("community"), F.col("community").alias("new_c")
    )
    r = F.broadcast(r) if bcast else r
    out = flat.join(r, "community").select("id", F.col("new_c").alias("community"))
    return out.transform(materialize)


def _exact_finish(sym_l, node_w_l, assign_l, resolution2, seed, variant, level=-1):
    """Collect the (now small) super-graph and run the sequential kernel
    to convergence, starting from the current assignment."""
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
    spark = sym_l.sparkSession
    tp = _phase(level, "exact_collect", tp)
    if pdf.empty:
        return assign_l

    ids = np.unique(
        np.concatenate(
            [pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64),
             a["id"].to_numpy(np.int64)]
        )
    )
    lsrc = np.searchsorted(ids, pdf["src"].to_numpy(np.int64))
    ldst = np.searchsorted(ids, pdf["dst"].to_numpy(np.int64))
    indptr, nbr, wgt = kernels.build_csr(len(ids), lsrc, ldst, pdf["weight"].to_numpy(np.float64))

    node_w = np.zeros(len(ids))
    node_w[np.searchsorted(ids, nw["id"].to_numpy(np.int64))] = nw["node_w"].to_numpy(np.float64)

    cluster = np.empty(len(ids), dtype=np.int64)
    cluster[np.searchsorted(ids, a["id"].to_numpy(np.int64))] = a["community"].to_numpy(np.int64)
    # densify community labels
    kernels.compactify(cluster)

    rng = np.random.Generator(np.random.PCG64(seed))
    # fast=True: the collected super-graph can hold up to
    # exact_threshold edges (~10^5 nodes) — the sequential per-node
    # visit loop would take minutes there; the chunked vectorized LM is
    # the same Q-class at ~1000× the visit rate (exact label parity is
    # slm_exact's job, not the scale-mode finisher's)
    step = {
        "slm": lambda *a: kernels.slm_recursive(*a, fast=True),
        "louvain": lambda *a: kernels.louvain_recursive(*a, fast=True),
        "louvain_refine": lambda *a: kernels.louvain_recursive(
            *a, refine=True, fast=True
        ),
    }[variant]
    for _ in range(32):
        if not step(indptr, nbr, wgt, node_w, cluster, resolution2, rng):
            break
    tp = _phase(level, "exact_kernel", tp)
    out = pd.DataFrame({"id": ids, "community": cluster})
    # canonical min-member-id labels to stay in the global convention
    rep = out.groupby("community")["id"].transform("min")
    out["community"] = rep
    res = spark.createDataFrame(out[["id", "community"]], ASSIGN_SCHEMA)
    tp = _phase(level, "exact_emit", tp)
    return res


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
