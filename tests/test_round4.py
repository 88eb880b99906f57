"""Round-4 regressions: scale-mode disjoint components (use-after-free
guard in _scale_pass's exact-finish branch) and skew-safe sigma
maintenance at shuffle levels (no community-partitioned window)."""

import pytest
from pyspark.sql import functions as F

from slmpy_spark import engine
from slmpy_spark.graph.slm import (
    _attach_sigma,
    _lazy_sigma_state,
    _propose_moves,
    slm,
)
from slmpy_spark.util import materialize

from tests.conftest import edges_df


def _triangle(base):
    return [
        (base, base + 1, 1.0),
        (base + 1, base + 2, 1.0),
        (base, base + 2, 1.0),
    ]


def test_slm_scale_disjoint_components_no_use_after_free(spark):
    """ADVICE r3 (high): when a level's communities absorb ALL edges,
    aggregate_graph drops the resulting self-loops and the next level's
    supergraph is EMPTY — _exact_finish then returns its input
    unchanged, and the old code freed that very frame (checkpoint
    blocks have no lineage) before the merge-down read it:
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.  Two disjoint triangles with
    exact_threshold=0 is the minimal repro."""
    edges = edges_df(spark, _triangle(0) + _triangle(10))
    assign, q = slm(edges, mode="scale", exact_threshold=0, seed=3)
    rows = {r["id"]: r["community"] for r in assign.collect()}
    assert len(rows) == 6
    # each triangle is one community, and they differ
    assert rows[0] == rows[1] == rows[2]
    assert rows[10] == rows[11] == rows[12]
    assert rows[0] != rows[10]
    assert q > 0.4


def test_slm_scale_empty_supergraph_multi_start(spark):
    """Same topology through the n_random_starts / n_iterations path —
    exercises the pass-level unpersist identity guards."""
    edges = edges_df(spark, _triangle(0) + _triangle(10) + _triangle(20))
    assign, q = slm(
        edges, mode="scale", exact_threshold=0, seed=7,
        n_random_starts=2, n_iterations=2,
    )
    rows = {r["id"]: r["community"] for r in assign.collect()}
    assert len(rows) == 9
    assert len({rows[0], rows[10], rows[20]}) == 3
    assert q > 0.5


def _state_for(spark, n=300, giant_frac=0.6, seed=1):
    """A vertex state where one community holds `giant_frac` of all
    vertices (the giant-community shape late sweeps converge to)."""
    import random

    rng = random.Random(seed)
    rows = []
    cut = int(n * giant_frac)
    for i in range(n):
        comm = 0 if i < cut else rng.randrange(1, 40)
        rows.append((i, comm, 1.0 + (i % 3)))
    return spark.createDataFrame(rows, "id long, community long, node_w double")


def test_shuffle_sweep_plan_no_window_single_argmax(spark):
    """At shuffle levels: (a) sigma must NOT be a community-partitioned
    window (an O(|giant community|) single-task sort/buffer); (b) the
    sweep subtree must appear ONCE in the plan — exactly one
    partial+final argmax SortAggregate pair (a sigma aggregate+join on
    the sweep OUTPUT would double-compute the whole pipeline); (c) the
    lazily-derived sigma view's exchanges must be reused between its
    two consumers (dst projection + self rows)."""
    import re

    edges = edges_df(
        spark,
        [(i, (i + 1) % 40, 1.0) for i in range(40)]
        + [(i, (i + 7) % 40, 1.0) for i in range(40)],
    )
    sym = engine.symmetrize(edges)
    nw = engine.degrees(sym).select("id", F.col("w_deg").alias("node_w"))
    state = materialize(
        nw.select("id", F.col("id").alias("community"), "node_w")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = _propose_moves(
            sym.repartition("dst"), state, 1e-3,
            seed=0, sweep=0, move_frac=1.0, bcast=False,
        )
        static = spark._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        out.collect()  # AQE reuse is a runtime (stage-cache) decision
        final = spark._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "Window" not in static
    assert len(re.findall(r"\(\d+\) SortAggregate", static)) == 2
    assert final.count("ReusedExchange") >= 2


def test_lazy_sigma_state_values(spark):
    state = materialize(_state_for(spark, n=120))
    exp = {
        r["id"]: r["sigma"]
        for r in state.groupBy("community")
        .agg(F.sum("node_w").alias("sigma"))
        .join(state, "community")
        .select("id", "sigma")
        .collect()
    }
    got = {r["id"]: r["sigma"] for r in _lazy_sigma_state(state).collect()}
    assert got == pytest.approx(exp)
    # bcast window path agrees
    win = {r["id"]: r["sigma"] for r in _attach_sigma(state, True).collect()}
    assert win == pytest.approx(exp)


def test_propose_moves_output_is_complete_state(spark):
    """r4 folds the sweep's output join into the argmax aggregation
    (zero-weight self rows make every vertex a group).  The output must
    still cover EVERY vertex — including one with no edges at this
    level — and keep the Q-guard invariants: Σ kic_cur = intra weight
    of the input assignment, Σ node_w·sigma_o = Σ_c Σtot(c)²."""
    # two cliques {0,1,2} {3,4,5} + vertex 9 with NO edges sharing
    # community with vertex 0, everyone else singleton
    tri = _triangle(0) + _triangle(3)
    edges = edges_df(spark, tri)
    sym = engine.symmetrize(edges)
    nw = engine.degrees(sym).select("id", F.col("w_deg").alias("node_w"))
    # add edge-less vertex 9 (node_w 2.0) into community 0
    nw = nw.unionByName(spark.createDataFrame([(9, 2.0)], "id long, node_w double"))
    assign = nw.select(
        "id", F.when(F.col("id") == 9, F.lit(0)).otherwise(F.col("id")).alias("community")
    )
    state = materialize(
        assign.join(nw, "id").select("id", "community", "node_w")
    )
    out = _propose_moves(
        sym, state, resolution2=1.0 / 12.0, seed=0, sweep=0, move_frac=1.0, bcast=False
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert set(by_id) == {0, 1, 2, 3, 4, 5, 9}
    # invariants for the free Q guard
    intra = sum(r["kic_cur"] for r in out)
    assert intra == pytest.approx(0.0)  # singleton-ish start: no intra edges
    s2 = sum(r["node_w"] * r["sigma_o"] for r in out)
    sig = {}
    for r in state.collect():
        sig[r["community"]] = sig.get(r["community"], 0.0) + r["node_w"]
    assert s2 == pytest.approx(sum(v * v for v in sig.values()))
    # the edge-less vertex shares community 0 with vertex 0 → escaping
    # to its own singleton strictly improves Q (r4 semantics)
    assert by_id[9]["community"] == -(9 + 1)
    assert by_id[9]["moved"] == 1
    # shuffle-mode state does NOT carry sigma (derived lazily per sweep)
    assert "sigma" not in {f.name for f in _propose_moves(
        sym, state, 1.0 / 12.0, seed=0, sweep=0, move_frac=1.0, bcast=False
    ).schema.fields}


def test_propose_moves_isolated_singleton_keeps_label(spark):
    """A vertex alone in its community with no edges keeps its label
    (no churn) — same as r3."""
    edges = edges_df(spark, _triangle(0))
    sym = engine.symmetrize(edges)
    nw = engine.degrees(sym).select("id", F.col("w_deg").alias("node_w"))
    nw = nw.unionByName(spark.createDataFrame([(9, 0.0)], "id long, node_w double"))
    assign = nw.select("id", F.col("id").alias("community"))
    state = materialize(
        _attach_sigma(assign.join(nw, "id").select("id", "community", "node_w"), True)
    )
    out = _propose_moves(
        sym, state, resolution2=1.0 / 6.0, seed=0, sweep=0, move_frac=1.0, bcast=True
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[9]["community"] == 9
    assert by_id[9]["moved"] == 0
