"""Iteration, frame-ownership and local-session utilities."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def local_session(cpus: int, driver_mem: str) -> SparkSession:
    """The local-mode session the measurement scripts run the engine in:
    local[`cpus`] with a `driver_mem` heap (the 1g default OOMs), AQE on
    with a 4m advisory partition size (the 64m default coalesces inputs
    of a few hundred MB to ~4 tasks per reduce stage and hides
    core-count scaling), Arrow for pandas conversions, no UI,
    ERROR-level logs."""
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("slmpy_spark")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def explain_to(df: DataFrame, name: str) -> None:
    """Debug hook: when $SLMPY_EXPLAIN_DIR is set, dump this frame's
    .explain("formatted") to <dir>/<name>.txt (first call per name per
    process wins).  Lets plan audits capture the REAL per-iteration /
    per-sweep plans the loops execute, instead of reconstructing them
    by hand.  No-op (one getenv) when the env var is unset."""
    d = os.environ.get("SLMPY_EXPLAIN_DIR")
    if not d:
        return
    path = os.path.join(d, f"{name}.txt")
    if os.path.exists(path):
        return
    try:
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        os.makedirs(d, exist_ok=True)
        with open(path, "w") as f:
            f.write(txt)
    except Exception:
        pass


def is_plan_leaf(df: DataFrame) -> bool:
    """True when the frame's analyzed plan is already a single leaf
    (a materialize() LogicalRDD or a plain relation scan) — callers use
    this to skip re-checkpointing an already-materialized input."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        name = plan.getClass().getSimpleName()
        return plan.children().isEmpty() and name in (
            "LogicalRDD",
            "LogicalRelation",
        )
    except Exception:
        return False


def materialize(df: DataFrame) -> DataFrame:
    """Physically truncate an iteration-state DataFrame's lineage AND
    its inherited size statistics.

    Why not plain ``localCheckpoint``: Dataset.checkpoint copies the
    parent plan's *estimated* ``sizeInBytes`` into the LogicalRDD it
    returns.  Iterative loops whose per-step plan joins the state with
    itself (assign ⋈ assign on src/dst) then square the estimate every
    step — sizeInBytes is a BigInt, its bit-length doubles per sweep,
    and after ~20 sweeps Catalyst spends minutes per query multiplying
    million-bit BigIntegers inside SizeInBytesOnlyStatsPlanVisitor
    (observed; join size estimate = product of child estimates, leaves
    start at defaultSizeInBytes = 2^63).

    Why not ``persist()+count``: un-persisting the superseded state
    cascades (CacheManager invalidates dependent entries), evicting the
    *current* state's cache and forcing full-lineage replans.

    Fix: localCheckpoint (physical truncation), then rebuild the
    DataFrame directly over the checkpointed *internal* RDD —
    zero-copy, JVM-only — which resets stats to the constant default.
    AQE picks broadcast/shuffled joins from runtime sizes, so the
    default leaf estimate costs nothing.  Durable truncation across
    restarts is the Checkpointer's job (parquet/Iceberg snapshots).

    ``.unpersist()`` on the returned frame unpersists the checkpointed
    internal RDD itself (``LogicalRDD.rdd`` — Dataset.unpersist only
    consults the CacheManager and would be a no-op on checkpoint
    blocks).  Because the checkpoint truncated lineage, freed blocks
    are NOT recomputable: callers must materialize every frame derived
    from this one before unpersisting it.

    Bonus: ``localCheckpoint(eager=True)`` is a tracked Dataset action
    (``withAction``), so ``DataFrame.observe`` metrics attached below
    this call are delivered by the materialization itself — iteration
    loops fold their convergence/stats aggregations into the
    checkpoint job instead of running a second job per step.
    """
    ck = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    try:
        jdf = ck._jdf
        # the checkpointed RDD that owns the storage blocks
        jrdd = jdf.queryExecution().analyzed().rdd()
        j2 = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(j2, spark)
    except Exception:  # non-classic sessions (connect): keep the ckpt
        return ck

    def _unpersist(blocking: bool = False) -> DataFrame:
        try:
            jrdd.unpersist(bool(blocking))
        except Exception:
            pass
        return out

    out.unpersist = _unpersist  # type: ignore[method-assign]
    return out


class EdgeCache:
    """The one owner of an iterative operator's edge cache.

    Iterative joins read the edge table every round, so each operator
    keeps it ``repartition(*keys).persist()``-ed on the per-round join
    key: the edge-sized side enters that layout once and only the
    vertex-sized state shuffles per round.  The cache sits over a
    checkpoint LEAF (``materialize``; skipped when ``edges`` already is
    a leaf, see ``is_plan_leaf``) so the per-round CacheManager lookup
    and AQE replanning canonicalize a constant-size plan instead of the
    caller's lineage.

    ``view`` reshapes the leaf before partitioning (``self.leaf`` stays
    readable for one-time setup joins); ``eager`` fills the cache with
    one count job instead of on first use.  ``free()`` drops the cache
    and THEN the leaf it recomputes from — the other order would leave
    evicted cache partitions without their checkpoint blocks.  A leaf
    the caller passed in stays the caller's."""

    def __init__(self, edges: DataFrame, *keys, view=None, eager: bool = False):
        self._owns_leaf = not is_plan_leaf(edges)
        self.leaf = materialize(edges) if self._owns_leaf else edges
        base = self.leaf if view is None else view(self.leaf)
        self.df = base.repartition(*keys).persist()
        if eager:
            self.df.count()

    def free(self) -> None:
        self.df.unpersist()
        if self._owns_leaf:
            self.leaf.unpersist()


class Frames:
    """One ownership scope for the frames a loop creates.

    ``own(x)`` registers a materialized, persisted or re-read frame, or
    an ``EdgeCache``, and returns it (registering it again, or ``None``,
    is a no-op).  ``retain(*live)`` frees, newest first, every owned
    object that is not one of `live` by identity, so a cache goes
    before the leaf it was built over.  Callers state only what is
    still live: a frame bound to several names is kept while any of
    them is listed, and borrowed inputs are never owned, so never
    freed.  Freed checkpoint blocks have no lineage to recompute from —
    retain only once every frame derived from a dead one is
    materialized."""

    def __init__(self):
        self._owned: list = []

    def own(self, x):
        if x is not None and not any(x is o for o in self._owned):
            self._owned.append(x)
        return x

    def retain(self, *live) -> None:
        kept = []
        for x in reversed(self._owned):
            if any(x is k for k in live):
                kept.append(x)
            elif isinstance(x, EdgeCache):
                x.free()
            else:
                x.unpersist()
        self._owned = kept[::-1]


def owned_view(view: DataFrame, leaf: DataFrame) -> DataFrame:
    """Return `view` (a projection over the materialize() leaf `leaf`)
    with `.unpersist()` freeing the leaf's blocks: Dataset.unpersist only
    consults the CacheManager, so on a plain view it would be a no-op and
    the leaf would stay pinned after the caller is done."""
    view.unpersist = leaf.unpersist  # type: ignore[method-assign]
    return view


def supersteps(
    state: DataFrame,
    step,
    name: str,
    max_rounds: int,
    cols,
    checkpointer,
    snapshot: str,
    every: int = 1,
) -> DataFrame:
    """Run Pregel-style supersteps over a materialize() leaf `state` —
    the one place that owns the round state's lifetime (Pregelix's
    driver-owned supersteps as a join+groupBy dataflow).

    ``step(state, r)`` builds round r and returns ``(frame, stop)``:
    ``frame`` is the next state with the round's statistics attached via
    ``DataFrame.observe`` (delivered by the materialize job itself — one
    Spark job per round), and ``stop()`` is the stop test, called once
    the frame is materialized.  A third element, when returned, is the
    frame the round-0 plan audit (``explain_to(..., name)``) dumps in
    place of ``frame``.

    Each round the old state is freed only AFTER the new one is
    materialized (its checkpoint blocks have no lineage to recompute
    from); every `every` rounds, a given `checkpointer` writes the state
    as snapshot ``snapshot`` at step r and the loop continues from the
    re-read.  Returns ``state.select(*cols)`` over the final state, whose
    ``.unpersist()`` frees the final state's blocks (see owned_view)."""
    for r in range(max_rounds):
        frame, stop, *audit = step(state, r)
        if r == 0:
            explain_to(audit[0] if audit else frame, name)
        new = materialize(frame)
        done = stop()
        state.unpersist()
        state = new
        if checkpointer is not None and (r + 1) % every == 0:
            reread = checkpointer.save_state(snapshot, r, state)
            state.unpersist()
            state = reread
        if done:
            break
    return owned_view(state.select(*cols), state)
