"""Spark-level SLM tests: exact mode vs golden partitions & oracle,
scale mode Q-parity class, Louvain variant (SURVEY.md §6.2-1/2)."""

import threading

import numpy as np
import pytest

from slmpy_spark import engine
from tests import genfixtures as G
from tests import oracle_slm as O
from tests.conftest import edges_df


def canon_df(assign_df):
    rows = assign_df.collect()
    groups = {}
    for r in rows:
        groups.setdefault(r.community, []).append(r.id)
    return sorted(tuple(sorted(g)) for g in groups.values())


def test_slm_exact_two_cliques(spark):
    assign, q = engine.slm(edges_df(spark, G.g_two_cliques()), seed=42, mode="exact")
    assert canon_df(assign) == [tuple(range(6)), tuple(range(6, 12))]
    oq = O.modularity_oracle(
        G.g_two_cliques(), {i: (0 if i < 6 else 1) for i in range(12)}
    )
    assert q == pytest.approx(oq, abs=1e-9)
    # engine-side Q recomputation agrees with the kernel-reported Q
    q2 = engine.modularity(edges_df(spark, G.g_two_cliques()), assign)
    assert q2 == pytest.approx(q, abs=1e-9)


def test_slm_exact_ring_cliques(spark):
    assign, q = engine.slm(
        edges_df(spark, G.g_ring_cliques_4()), seed=42, mode="exact", n_random_starts=4
    )
    assert canon_df(assign) == [
        tuple(range(0, 6)),
        tuple(range(6, 12)),
        tuple(range(12, 18)),
        tuple(range(18, 24)),
    ]


def test_slm_exact_weighted_bridge(spark):
    assign, _ = engine.slm(edges_df(spark, G.g_weighted_pair()), seed=42, mode="exact")
    c = {r.id: r.community for r in assign.collect()}
    assert c[5] == c[6]


def test_slm_exact_deterministic(spark):
    e = edges_df(spark, G.gnp(40, 0.12, seed=8))
    a1, q1 = engine.slm(e, seed=7, mode="exact")
    a2, q2 = engine.slm(e, seed=7, mode="exact")
    assert q1 == q2
    assert canon_df(a1) == canon_df(a2)


def test_louvain_exact(spark):
    assign, q = engine.louvain(
        edges_df(spark, G.g_two_cliques()), seed=42, mode="exact"
    )
    assert canon_df(assign) == [tuple(range(6)), tuple(range(6, 12))]


def _non_integral(und):
    return [(u, v, w * 0.37 + 0.013 * ((u + v) % 7)) for u, v, w in und]


EXACT_SETTINGS = {
    "modularity": dict(seed=42),
    "cpm": dict(seed=7, quality="cpm", gamma=0.5),
    "louvain_refine": dict(
        seed=3, variant="louvain_refine", n_random_starts=2, n_iterations=3
    ),
}


@pytest.mark.parametrize("setting", sorted(EXACT_SETTINGS))
@pytest.mark.parametrize("graph", ["ring_cliques_4", "gnp_non_integral"])
def test_slm_exact_is_run_slm_on_the_collected_graph(spark, graph, setting):
    """Exact mode is kernels.run_slm over the collected symmetrized graph
    with dense ids: the same labels (as dense cluster indices) and the
    same q, bit for bit."""
    from slmpy_spark.graph import kernels

    und = {
        "ring_cliques_4": G.g_ring_cliques_4(),
        "gnp_non_integral": _non_integral(G.gnp(80, 0.08, seed=3)),
    }[graph]
    edges = edges_df(spark, und)
    kw = EXACT_SETTINGS[setting]
    assign, q = engine.slm(edges, mode="exact", **kw)
    pdf = engine.symmetrize(edges).toPandas()
    ids, lsrc, ldst = kernels.dense_ids(
        pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
    )
    cluster, rq = kernels.run_slm(
        len(ids), lsrc, ldst, pdf["weight"].to_numpy(np.float64), **kw
    )
    assert sorted((r.id, r.community) for r in assign.collect()) == list(
        zip(ids.tolist(), cluster.tolist())
    )
    assert q == rq


@pytest.mark.parametrize(
    "name,quality,gamma",
    [
        ("disjoint", "modularity", 1.0),
        ("ring_cliques_4", "modularity", 1.0),
        ("barbell", "modularity", 1.0),
        ("powerlaw", "modularity", 1.0),
        ("gnp", "modularity", 1.0),
        ("disjoint", "cpm", 0.5),
        ("gnp", "cpm", 0.5),
    ],
)
def test_slm_exact_q_is_modularity_of_its_labels(spark, name, quality, gamma):
    """Exact mode's q and engine.modularity go through the same final
    expression (kernels.q_of); on integral weights every sum is exact,
    so the two agree bit for bit."""
    und = {
        "disjoint": G.g_disjoint,
        "ring_cliques_4": G.g_ring_cliques_4,
        "barbell": G.g_barbell,
        "powerlaw": G.g_powerlaw,
        "gnp": lambda: G.gnp(40, 0.12, seed=8),
    }[name]()
    edges = edges_df(spark, und)
    assign, q = engine.slm(edges, mode="exact", seed=42, quality=quality, gamma=gamma)
    assert q == engine.modularity(edges, assign, gamma=gamma, quality=quality)


def test_slm_exact_with_self_loops_returns(spark):
    """Self-loops once let a singleton take back its own just-emptied id
    while the id stayed on the unused stack; this call then never
    returned.  Now it does, and its q counts the self-loop weight as
    engine.modularity does."""
    triples = [
        (0, 3, 3.0), (0, 4, 1.0), (1, 2, 2.0), (1, 6, 1.0), (2, 6, 1.0),
        (4, 6, 1.0), (1, 1, 3.0), (2, 2, 3.0), (5, 5, 3.0),
    ]
    edges = edges_df(spark, triples)
    out = []
    call = threading.Thread(
        target=lambda: out.append(
            engine.slm(edges, mode="exact", quality="cpm", gamma=0.5, seed=0)
        ),
        daemon=True,
    )
    call.start()
    call.join(timeout=120)
    assert not call.is_alive(), "exact-mode SLM did not return within 120 s"
    assign, q = out[0]
    assert assign.count() == 7
    assert q == engine.modularity(edges, assign, gamma=0.5, quality="cpm")


def test_slm_scale_two_cliques_q_class(spark):
    """Scale mode must land in the same Q class as exact on graphs with
    a stable optimum (labels may differ in sequence, Q must match)."""
    e = edges_df(spark, G.g_two_cliques())
    assign, q = engine.slm(
        e, seed=42, mode="scale", exact_threshold=0, max_sweeps=6
    )
    assert canon_df(assign) == [tuple(range(6)), tuple(range(6, 12))]
    oq = O.modularity_oracle(
        G.g_two_cliques(), {i: (0 if i < 6 else 1) for i in range(12)}
    )
    assert q == pytest.approx(oq, abs=1e-6)


def test_slm_scale_ring_cliques(spark):
    e = edges_df(spark, G.g_ring_cliques_4())
    assign, q = engine.slm(
        e, seed=42, mode="scale", exact_threshold=0, max_sweeps=8
    )
    _, oq = O.slm_oracle(G.g_ring_cliques_4(), seed=42)
    assert q == pytest.approx(oq, abs=1e-6)


def test_slm_scale_powerlaw_reasonable_q(spark):
    """On a power-law graph, scale-mode Q should be within a small gap
    of the sequential oracle's Q (heuristics, different visit orders)."""
    und = G.g_powerlaw(n=300, m_target=900, seed=42)
    e = edges_df(spark, und)
    # production path: distributed LM+split at level 0 (graph above the
    # exact threshold), exact kernel for the shrunken super-levels
    assign, q = engine.slm(
        e, seed=42, mode="scale", exact_threshold=600, max_sweeps=8
    )
    _, oq = O.slm_oracle(und, seed=42)
    assert q >= oq - 0.03
    # every vertex assigned exactly once
    n_vertices = engine.vertices(e).count()
    assert assign.count() == n_vertices
    assert assign.select("id").distinct().count() == n_vertices


def test_louvain_refine_scale(spark):
    """G15 refinement in SCALE mode: the extra level-0 LM pass must keep
    Q in the oracle class (and can only improve it — guarded)."""
    und = G.g_ring_cliques_4()
    e = edges_df(spark, und)
    assign, q = engine.louvain(
        e, seed=42, mode="scale", exact_threshold=0, max_sweeps=8,
        variant="louvain_refine",
    )
    _, oq = O.slm_oracle(und, seed=42)
    assert q >= oq - 0.03
    n = engine.vertices(e).count()
    assert assign.count() == n


def test_slm_scale_planted_hub(spark):
    """SURVEY §6.2-6 hub-skew gate: a hub vertex wired into EVERY other
    vertex (degree = n, the 100 TB 'popular page' shape) must neither
    stall nor degrade the distributed sweep — its k_{i,c} rows are
    partially aggregated map-side (the engine-level salting), so no
    single task sees the full adjacency.  Q must stay in the
    sequential oracle's class and the result must be deterministic."""
    und = G.g_ring_cliques_4()
    hub = [(100, v, 1.0) for v in range(24)]
    e = edges_df(spark, und + hub)
    assign, q = engine.slm(e, seed=3, mode="scale", exact_threshold=0, max_sweeps=8)
    _, oq = O.slm_oracle(und + hub, seed=3)
    assert q >= oq - 0.03
    n_vertices = engine.vertices(e).count()
    assert assign.count() == n_vertices
    # deterministic rerun
    assign2, q2 = engine.slm(e, seed=3, mode="scale", exact_threshold=0, max_sweeps=8)
    assert q2 == pytest.approx(q, abs=1e-12)
    assert canon_df(assign2) == canon_df(assign)


def test_slm_auto_picks_exact_for_small(spark):
    assign, q = engine.slm(edges_df(spark, G.g_two_cliques()), seed=42, mode="auto")
    assert canon_df(assign) == [tuple(range(6)), tuple(range(6, 12))]


def test_slm_scale_run_record_filled_and_reset(spark):
    """LAST_RUN_STATS is the one record of an slm_scale run: one
    sweep_jobs entry per sweep, the setup phase, one split_kernel phase
    per level; every call starts from empty lists."""
    from slmpy_spark.graph.slm import LAST_RUN_STATS as stats

    edges = edges_df(spark, G.g_two_cliques())
    engine.slm(edges, seed=1, mode="scale", exact_threshold=0, max_levels=1)
    lengths = {k: len(stats[k]) for k in ("sweep_jobs", "phases")}
    assert stats["sweeps"] > 0
    assert len(stats["sweep_jobs"]) == stats["sweeps"]
    assert all(s >= 0 for _level, s in stats["sweep_jobs"])
    assert stats["phases"][0][:2] == [-1, "setup"]
    splits = sum(name == "split_kernel" for _level, name, _s in stats["phases"])
    assert splits == stats["levels"] > 0

    engine.slm(edges, seed=1, mode="scale", exact_threshold=0, max_levels=1)
    assert len(stats["sweep_jobs"]) == stats["sweeps"]
    assert {k: len(stats[k]) for k in lengths} == lengths


@pytest.mark.parametrize("quality,gamma", [("modularity", 1.0), ("cpm", 0.5)])
def test_slm_scale_split_same_q_both_broadcast_settings(spark, quality, gamma):
    """The community split at both broadcast settings: one split_kernel
    phase per level, same Q, Q equal to the quality recompute (and, for
    CPM, to the independent oracle), every vertex labelled, nothing left
    pinned after unpersist.  Two levels: the second starts from the
    first split's parent map."""
    from slmpy_spark.graph import slm as slm_mod

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    und = G.gnp(40, 0.12, seed=5)
    edges = edges_df(spark, und)
    ids = {v for s, d, _w in und for v in (s, d)}
    before = persistent()
    qs = []
    for bt in (1, 250_000):
        assign, q = engine.slm(
            edges, gamma=gamma, quality=quality, seed=3, mode="scale",
            exact_threshold=0, max_sweeps=3, max_levels=2, broadcast_threshold=bt,
        )
        splits = [
            (level, name) for level, name, _s in slm_mod.LAST_RUN_STATS["phases"]
            if name.startswith("split_") and name != "split_parent_map"
        ]
        assert splits == [(0, "split_kernel"), (1, "split_kernel")]
        rows = assign.collect()
        assert sorted(r.id for r in rows) == sorted(ids)
        assert engine.modularity(
            edges, assign, gamma=gamma, quality=quality
        ) == pytest.approx(q, abs=1e-12)
        if quality == "cpm":
            labels = {r.id: r.community for r in rows}
            assert O.cpm_oracle(und, labels, gamma) == pytest.approx(q, abs=1e-9)
        assign.unpersist()
        assert persistent() - before == set()
        qs.append(q)
    assert qs[0] == qs[1]


def _no_recompute(*_a, **_k):
    raise AssertionError("slm_scale recomputed Q with modularity()")


@pytest.mark.parametrize(
    "exact_threshold,finish_level,spark_level0",
    [
        pytest.param(10_000, 0, False, id="10000-0"),
        pytest.param(120, 2, False, id="120-2"),
        pytest.param(10_000, 0, True, id="10000-0-spark"),
        pytest.param(120, 2, True, id="120-2-spark"),
    ],
)
@pytest.mark.parametrize("quality,gamma", [("modularity", 1.0), ("cpm", 0.5)])
def test_slm_scale_pass_q_scored_at_exact_finish(
    spark, monkeypatch, quality, gamma, exact_threshold, finish_level, spark_level0
):
    """A pass that ends in the exact finish gets its Q from the driver's
    collected arrays: modularity() is never called, no pass_q phase is
    recorded, and on integral weights the Q equals the independent
    recompute bit for bit (and, for CPM, the oracle).  The driver run
    (exact_threshold 10_000: the finish at level 0; 120: levels 0 and 1
    held) and the Spark level loop (`spark_level0`) record the same
    phase vocabulary; only the Spark finish collects."""
    from slmpy_spark.graph import slm as slm_mod

    monkeypatch.setattr(slm_mod, "modularity", _no_recompute)
    if spark_level0:
        monkeypatch.setattr(slm_mod, "_driver_graph", lambda *_a: None)
    und = G.gnp(40, 0.12, seed=5)
    edges = edges_df(spark, und)
    assign, q = engine.slm(
        edges, gamma=gamma, quality=quality, seed=3, mode="scale",
        exact_threshold=exact_threshold, max_sweeps=3,
    )
    phases = slm_mod.LAST_RUN_STATS["phases"]
    assert {p[1] for p in phases} <= slm_mod.PHASES
    assert [lvl for lvl, name, _s in phases if name == "exact_kernel"] == [finish_level]
    assert [lvl for lvl, name, _s in phases if name == "exact_collect"] == (
        [finish_level] if spark_level0 else []
    )
    assert not [p for p in phases if p[1] == "pass_q"]
    # a finish above level 0 merges its labels down onto the original
    # vertices; the Spark finish emits its level's relation before that,
    # a driver run emits its one result last
    merge = [[finish_level, "merge_down"]] if finish_level else []
    if spark_level0:
        tail = [[finish_level, "exact_kernel"], [finish_level, "exact_emit"]] + merge
    else:
        tail = [[finish_level, "exact_kernel"]] + merge + [[-1, "exact_emit"]]
    assert [p[:2] for p in phases[-len(tail):]] == tail
    assert q == engine.modularity(edges, assign, gamma=gamma, quality=quality)
    if quality == "cpm":
        labels = {r.id: r.community for r in assign.collect()}
        assert O.cpm_oracle(und, labels, gamma) == pytest.approx(q, abs=1e-9)
    assign.unpersist()


def test_slm_scale_pass_q_fallback_without_exact_finish(spark):
    """With no exact finish (exact_threshold=0) the pass holds no final
    partition on the driver: exactly one modularity() recompute, timed
    as one pass_q phase."""
    from slmpy_spark.graph import slm as slm_mod

    edges = edges_df(spark, G.gnp(40, 0.12, seed=5))
    assign, q = engine.slm(edges, seed=3, mode="scale", exact_threshold=0, max_sweeps=3)
    phases = slm_mod.LAST_RUN_STATS["phases"]
    assert [p[:2] for p in phases if p[1] == "pass_q"] == [[-1, "pass_q"]]
    assert q == pytest.approx(engine.modularity(edges, assign), abs=1e-12)
    assign.unpersist()


def test_slm_scale_pass_q_non_integral_weights(spark, monkeypatch):
    """Non-integral weights: the driver-side Q sums in a different order
    than the recompute, so the two agree to rounding, not bit for bit."""
    from slmpy_spark.graph import slm as slm_mod

    monkeypatch.setattr(slm_mod, "modularity", _no_recompute)
    und = [(s, d, w * 0.01 + 0.003 * ((s + d) % 7)) for s, d, w in G.gnp(40, 0.12, seed=5)]
    edges = edges_df(spark, und)
    assign, q = engine.slm(edges, seed=3, mode="scale", exact_threshold=120, max_sweeps=3)
    assert q == pytest.approx(engine.modularity(edges, assign), abs=1e-12)
    assign.unpersist()


def test_slm_scale_rejects_negative_ids(spark):
    """A sweep labels an escaped singleton -(id+1), so scale mode
    refuses a negative id up front — from the setup job's observed
    minimum, leaving nothing persisted."""

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    before = persistent()
    edges = edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (-5, 2, 1.0)])
    with pytest.raises(ValueError, match="non-negative"):
        engine.slm(edges, seed=0, mode="scale", exact_threshold=0)
    assert persistent() - before == set()


def test_split_kernel_leaves_eval_type_to_the_default():
    """The split kernel carries no (partial) type hints, so PySpark's
    eval-type inference returns None instead of raising — applyInPandas
    then uses grouped-map without a UserWarning on every split."""
    from pyspark.sql.pandas.typehints import infer_group_pandas_eval_type_from_func

    from slmpy_spark.graph import slm as slm_mod

    kernel = slm_mod._split_kernel_factory(0.01, seed=1)
    assert infer_group_pandas_eval_type_from_func(kernel) is None


# ------------------------------------------- driver-sized scale mode


def _persistent(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _scale_run(edges, spark_level0=False, **kw):
    """engine.slm in scale mode → (sorted (id, community) rows, q, the
    run's phase names).  `spark_level0` switches the driver run off (no
    bounded probe), so every level runs in the Spark level loop
    (`_scale_pass`) — the reference every driver run must equal."""
    from slmpy_spark.graph import slm as slm_mod

    with pytest.MonkeyPatch.context() as mp:
        if spark_level0:
            mp.setattr(slm_mod, "_driver_graph", lambda *_a: None)
        assign, q = engine.slm(edges, mode="scale", **kw)
        rows = sorted((r.id, r.community) for r in assign.collect())
        assign.unpersist()
    return rows, q, [p[1] for p in slm_mod.LAST_RUN_STATS["phases"]]


def _big_sparse():
    src, dst, w = G.g_powerlaw_arrays(6000, 12_000, seed=11)
    assert np.unique(np.concatenate([src, dst])).size > 4096  # the chunked kernel runs
    return list(zip(src.tolist(), dst.tolist(), w.tolist()))


@pytest.mark.parametrize(
    "graph,kw",
    [
        ("gnp", {}),
        ("gnp", dict(quality="cpm", gamma=0.5)),
        ("gnp", dict(n_iterations=2)),
        ("gnp", dict(n_random_starts=2)),
        ("powerlaw", dict(n_iterations=3)),
        ("powerlaw", dict(variant="louvain")),
        ("big", {}),
    ],
)
def test_driver_sized_scale_equals_level0_exact_finish(spark, graph, kw):
    """A graph under exact_threshold runs every pass on the driver with
    the exact finish's numpy core: on integral weights its labels and Q
    equal the Spark path's level-0 exact finish bit for bit (over >4096
    nodes, the chunked kernel's)."""
    und = {
        "gnp": lambda: G.gnp(60, 0.1, seed=7),
        "powerlaw": lambda: G.g_powerlaw(1000, 5000),
        "big": _big_sparse,
    }[graph]()
    edges = edges_df(spark, und)
    from slmpy_spark.graph import slm as slm_mod

    rows, q, phases = _scale_run(edges, seed=3, **kw)
    assert slm_mod.LAST_RUN_STATS["levels"] == 0  # driver-sized, not held
    passes = slm_mod.LAST_RUN_STATS["passes"]
    ref_rows, ref_q, ref_phases = _scale_run(edges, spark_level0=True, seed=3, **kw)
    # no collect for any pass
    assert "exact_collect" in ref_phases and "exact_collect" not in phases
    assert phases.count("exact_kernel") == passes
    assert rows == ref_rows
    assert q == ref_q


def test_driver_sized_scale_runs_one_job_and_pins_nothing(spark, monkeypatch):
    """A driver-sized call makes one bounded collect: one Spark job, no
    localCheckpoint, and a local result relation that pins no storage."""
    import pyspark.sql

    def no_checkpoint(*_a, **_k):
        raise AssertionError("driver-sized slm_scale ran a localCheckpoint")

    monkeypatch.setattr(pyspark.sql.DataFrame, "localCheckpoint", no_checkpoint)
    edges = edges_df(spark, G.gnp(40, 0.12, seed=5))
    edges.count()
    sc = spark.sparkContext
    before = _persistent(spark)
    sc.setJobGroup("slm-driver-sized", "driver-sized slm_scale")
    try:
        assign, q = engine.slm(edges, seed=3, mode="scale")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("slm-driver-sized")) == 1
    assert _persistent(spark) == before
    assert assign.count() == 40
    assert q == engine.modularity(edges, assign)


@pytest.mark.parametrize("threshold_delta,driver", [(0, True), (-1, False)])
def test_driver_sized_probe_boundary(spark, threshold_delta, driver):
    """An input of |E| rows that is already symmetric (m0 = |E|) runs on
    the driver at exact_threshold = |E| and in Spark at |E| − 1."""
    from slmpy_spark.graph import slm as slm_mod

    und = G.gnp(30, 0.15, seed=2)
    sym = G.directed(und)
    _rows, _q, _phases = _scale_run(
        edges_df(spark, sym), seed=1, max_sweeps=3,
        exact_threshold=len(sym) + threshold_delta,
    )
    assert (slm_mod.LAST_RUN_STATS["levels"] == 0) == driver


def test_driver_sized_probe_fits_but_symmetrization_does_not(spark):
    """Every row fits the probe but the symmetrized table does not (one
    direction given, m0 = 2|E| > exact_threshold): level 0 is held, and
    the run record still starts with setup."""
    und = G.gnp(30, 0.15, seed=2)
    _rows, _q, phases = _scale_run(
        edges_df(spark, und), seed=1, max_sweeps=3, exact_threshold=len(und)
    )
    assert phases[0] == "setup"


@pytest.mark.parametrize("exact_threshold", [10_000, 120])
def test_driver_run_builds_one_result_relation(spark, monkeypatch, exact_threshold):
    """A driver run turns its labels into a relation once, after every
    pass: over two passes — driver-sized (10_000) or with levels 0 and 1
    held (120) — one `_assign_frame` call, recorded as the run's one
    exact_emit, its last phase; each pass records one exact_kernel."""
    from slmpy_spark.graph import slm as slm_mod

    calls = []
    assign_frame = slm_mod._assign_frame
    monkeypatch.setattr(
        slm_mod, "_assign_frame", lambda *a: calls.append(a) or assign_frame(*a)
    )
    edges = edges_df(spark, G.gnp(40, 0.12, seed=5))
    _rows, _q, phases = _scale_run(
        edges, seed=3, max_sweeps=3, exact_threshold=exact_threshold, n_iterations=2
    )
    assert slm_mod.LAST_RUN_STATS["passes"] == 2
    assert len(calls) == 1
    assert phases.count("exact_emit") == 1 and phases[-1] == "exact_emit"
    assert phases.count("exact_kernel") == 2


def test_driver_sized_empty_edges(spark):
    """An empty edge table at the default threshold: no rows, q 0.0,
    nothing pinned."""
    before = _persistent(spark)
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    assign, q = engine.slm(empty, mode="scale", seed=1)
    assert assign.count() == 0 and q == 0.0
    assert _persistent(spark) == before


def test_driver_sized_rejects_negative_ids(spark):
    """The driver-sized path refuses a negative id too, before any kernel
    runs and leaving nothing persisted."""
    before = _persistent(spark)
    edges = edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (-5, 2, 1.0)])
    with pytest.raises(ValueError, match="non-negative"):
        engine.slm(edges, seed=0, mode="scale")
    assert _persistent(spark) == before


@pytest.mark.parametrize(
    "kw,finish_level", [(dict(n_iterations=2), 0), (dict(exact_threshold=40), 1)]
)
def test_scale_mode_on_ids_near_2_pow_62(spark, kw, finish_level):
    """Ingested ids are 62-bit hashes: the exact finish densifies raw
    community labels without an array indexed by label.  Ids shifted by
    2^61 give the unshifted run's Q and, shifted back, its labels — at a
    level-0 finish whose second pass starts from raw labels, and at a
    level ≥ 1 finish."""
    from slmpy_spark.graph import slm as slm_mod

    shift = 2**61
    und = G.g_ring_cliques_4()
    runs = []
    for sh in (0, shift):
        e = edges_df(spark, [(s + sh, d + sh, w) for s, d, w in und])
        rows, q, _ = _scale_run(e, seed=3, max_sweeps=3, **kw)
        levels = [p[0] for p in slm_mod.LAST_RUN_STATS["phases"] if p[1] == "exact_kernel"]
        assert levels == [finish_level] * slm_mod.LAST_RUN_STATS["passes"]
        runs.append(([(i - sh, c - sh) for i, c in rows], q))
    assert runs[0] == runs[1]


# --------------------------------------------------- driver-held levels


HELD_CASES = [
    ("powerlaw", {}),
    ("powerlaw", dict(broadcast_threshold=1)),  # shuffle-level sweeps
    ("powerlaw", dict(quality="cpm", gamma=0.5)),
    ("powerlaw", dict(variant="louvain")),
    ("powerlaw", dict(n_iterations=2)),
    ("powerlaw", dict(n_random_starts=2)),
    ("gnp", {}),  # level 1 is held again; the finish runs at level 2
]


def _held_graph(graph):
    """(undirected triples, exact_threshold) with |E| ≤ threshold < 2|E|:
    the probe holds the whole table, its symmetrization does not fit."""
    if graph == "gnp":
        return G.gnp(40, 0.12, seed=5), 120
    return G.g_powerlaw(1000, 5000), 6000


@pytest.mark.parametrize("graph,kw", HELD_CASES)
def test_held_level_equals_spark_level(spark, graph, kw):
    """A graph in the held band runs only its sweeps in Spark: on
    integral weights its labels and Q equal the Spark level loop's bit
    for bit, with the same level count."""
    from slmpy_spark.graph import slm as slm_mod

    und, threshold = _held_graph(graph)
    assert len(und) <= threshold < 2 * len(und)
    edges = edges_df(spark, und)
    kw = dict(seed=3, max_sweeps=3, exact_threshold=threshold, **kw)
    rows, q, phases = _scale_run(edges, **kw)
    levels = slm_mod.LAST_RUN_STATS["levels"]
    finish = {lvl for lvl, name, _s in slm_mod.LAST_RUN_STATS["phases"]
              if name == "exact_kernel"}
    ref_rows, ref_q, ref_phases = _scale_run(edges, spark_level0=True, **kw)
    assert phases[0] == ref_phases[0] == "setup"
    # the Spark path's parent map is a Spark job; the held one is numpy
    assert "split_parent_map" not in phases
    assert rows == ref_rows
    assert q == ref_q
    assert levels == slm_mod.LAST_RUN_STATS["levels"]
    if graph == "gnp":
        assert finish == {2}  # level 1 held again


def test_held_run_calls_no_apply_in_pandas_and_pins_nothing(spark, monkeypatch):
    """A held level splits on the driver (no applyInPandas) and frees
    every frame it made: nothing stays pinned once the result is
    unpersisted."""
    import pyspark.sql

    def no_udf(*_a, **_k):
        raise AssertionError("a held level ran applyInPandas")

    monkeypatch.setattr(pyspark.sql.GroupedData, "applyInPandas", no_udf)
    und, threshold = _held_graph("powerlaw")
    edges = edges_df(spark, und)
    edges.count()
    before = _persistent(spark)
    for bt in (1, 250_000):
        assign, q = engine.slm(
            edges, seed=3, mode="scale", max_sweeps=3, exact_threshold=threshold,
            broadcast_threshold=bt,
        )
        assert assign.count() == len({v for s, d, _w in und for v in (s, d)})
        assert q == engine.modularity(edges, assign)
        assign.unpersist()
        assert _persistent(spark) == before


def test_held_run_checkpoints_and_resumes(spark, tmp_path):
    """A checkpointed held run writes the level snapshots from its
    arrays; a resume finds them, restarts on the Spark path after the
    last completed level and returns the same labels and Q."""
    from slmpy_spark.checkpoint import Checkpointer
    from slmpy_spark.graph import slm as slm_mod

    und, threshold = _held_graph("gnp")
    edges = edges_df(spark, und)
    kw = dict(seed=3, mode="scale", max_sweeps=3, exact_threshold=threshold)
    ck = Checkpointer(spark, str(tmp_path), run_id="held")
    assign, q = engine.slm(edges, checkpointer=ck, **kw)
    final = sorted((r.id, r.community) for r in assign.collect())
    assert ck.latest_step("slm_supergraph") == 1  # levels 0 and 1 held
    for state in ("slm_assign", "slm_node_w", "slm_next_assign"):
        assert ck.latest_step(state) == 1
    ops = {m["op"] for m in ck.metrics()}
    assert {"slm", "slm_sweep", "slm_lm_input"} <= ops

    ck2 = Checkpointer(spark, str(tmp_path), run_id="held")
    assign2, q2 = engine.slm(edges, checkpointer=ck2, resume=True, **kw)
    phases = slm_mod.LAST_RUN_STATS["phases"]
    assert sorted((r.id, r.community) for r in assign2.collect()) == final
    assert q2 == q
    # the resume ran no level: its one level is the exact finish at 2
    assert slm_mod.LAST_RUN_STATS["levels"] == 0
    assert [lvl for lvl, name, _s in phases if name == "exact_collect"] == [2]
    assign2.unpersist()


def test_sweep_ignores_self_loop_rows(spark):
    """A self-loop weighs the same on every candidate community, so one
    synchronous sweep from the same warm-start state with the same node
    weights proposes the same communities with and without the
    self-loop rows (they used to count toward staying)."""
    from slmpy_spark.graph import slm as slm_mod
    from slmpy_spark.util import Frames
    from tests.test_lm_compiled import rand_csr, start, with_self_loops

    seed = 2
    indptr, nbr, wgt = with_self_loops(*rand_csr(seed, n=300), seed)
    n = indptr.size - 1
    src = np.repeat(np.arange(n), np.diff(indptr))
    node_w = np.bincount(src, weights=wgt, minlength=n)
    state = slm_mod._attach_sigma(
        spark.createDataFrame(
            [(i, int(c), float(x)) for i, (c, x) in enumerate(zip(start("warm", n, seed), node_w))],
            "id long, community long, node_w double",
        ),
        True,
    )
    proposals = []
    for keep in (np.ones(src.size, bool), src != nbr):
        sym = spark.createDataFrame(
            [(int(s), int(d), float(x)) for s, d, x in zip(src[keep], nbr[keep], wgt[keep])],
            "src long, dst long, weight double",
        )
        prop = slm_mod._propose_moves(
            slm_mod._sweep_edges(Frames(), sym, True), state, 1.0 / wgt.sum(),
            seed, 0, 1.0, True,
        )
        proposals.append(sorted((r.id, r.community) for r in prop.collect()))
    assert (src == nbr).any()
    assert proposals[0] == proposals[1]


def test_held_band_rejects_negative_ids(spark):
    """An input in the held band (3 rows, 6 entries > 3) refuses a
    negative id before any sweep, leaving nothing persisted."""
    before = _persistent(spark)
    edges = edges_df(spark, [(0, 1, 1.0), (1, 2, 1.0), (-5, 2, 1.0)])
    with pytest.raises(ValueError, match="non-negative"):
        engine.slm(edges, seed=0, mode="scale", exact_threshold=3)
    assert _persistent(spark) == before
