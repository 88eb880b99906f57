"""Checkpointer tests: snapshot/reload, latest-step resume semantics,
metrics, lineage truncation (SURVEY.md S6, §6.2-7)."""

import pytest
from pyspark.sql import functions as F

from slmpy_spark import engine
from slmpy_spark.checkpoint import Checkpointer
from tests import genfixtures as G
from tests.conftest import edges_df


def test_save_load_roundtrip(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path), run_id="t1")
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, community long")
    out = ck.save_state("assign", 0, df)
    assert sorted((r.id, r.community) for r in out.collect()) == [(1, 10), (2, 20)]
    re = ck.load_state("assign", 0)
    assert sorted((r.id, r.community) for r in re.collect()) == [(1, 10), (2, 20)]


def test_latest_step_and_default_load(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path), run_id="t2")
    for step in (0, 1, 2):
        df = spark.createDataFrame([(1, step)], "id long, community long")
        ck.save_state("assign", step, df)
    assert ck.latest_step("assign") == 2
    assert ck.load_state("assign").first().community == 2
    assert ck.latest_step("nonexistent") is None
    assert ck.load_state("nonexistent") is None


def test_metrics_roundtrip(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path), run_id="t3")
    ck.log_metric(op="slm", level=0, n_moves=5)
    ck.log_metric(op="slm", level=1, n_moves=0)
    m = ck.metrics()
    assert len(m) == 2
    assert m[0]["op"] == "slm" and m[0]["level"] == 0 and m[0]["run_id"] == "t3"
    assert m[1]["seq"] == 1


def test_resume_same_run_id(spark, tmp_path):
    ck1 = Checkpointer(spark, str(tmp_path), run_id="shared")
    df = spark.createDataFrame([(7, 7)], "id long, community long")
    ck1.save_state("assign", 3, df)
    # a new Checkpointer with the same run_id sees prior state (resume)
    ck2 = Checkpointer(spark, str(tmp_path), run_id="shared")
    assert ck2.latest_step("assign") == 3
    assert ck2.load_state("assign").first().id == 7


def test_pagerank_with_checkpointer(spark, tmp_path):
    ck = Checkpointer(spark, str(tmp_path), run_id="pr")
    e = edges_df(spark, G.g_cycle_n(8))
    ranks = engine.pagerank(e, tol=1e-10, max_iter=20, checkpoint_interval=2,
                            checkpointer=ck)
    assert ranks.count() == 8
    # metrics recorded
    assert any(m.get("op") == "pagerank" for m in ck.metrics())


def test_table_backend_roundtrip(spark, tmp_path):
    """Iceberg-shaped V2 writeTo backend (S6).  The sandbox has no
    Iceberg jar, so this exercises the identical code path against the
    session catalog with parquet tables; production passes an Iceberg
    namespace + table_format="iceberg"."""
    ck = Checkpointer(
        spark, "", run_id="tb1", backend="table",
        namespace="spark_catalog.default", table_format="parquet",
    )
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, community long")
    try:
        out = ck.save_state("assign", 0, df)
    except Exception as exc:  # pragma: no cover - catalog-less session
        pytest.skip(f"session catalog rejects V2 writeTo: {exc}")
    try:
        assert sorted((r.id, r.community) for r in out.collect()) == [(1, 10), (2, 20)]
        ck.save_state("assign", 2, df)
        assert ck.latest_step("assign") == 2
        assert ck.load_state("assign", 0).count() == 2
        ck.log_metric(op="slm", level=0, n_moves=3)
        ck.log_metric(op="slm", level=1, n_moves=0)
        m = ck.metrics()
        assert [row["seq"] for row in m] == [0, 1]
        assert m[0]["n_moves"] == 3

        # per-partition rows interleave with plain rows exactly as on
        # the parquet backend (ts and wall_ms are timings)
        def logged(c):
            c.log_metric(op="x", level=0)
            frame = spark.range(100).repartition(4)
            assert c.log_partition_metrics(frame, op="probe", level=3) == 4
            c.log_metric(op="y", level=1)
            return [
                {k: v for k, v in row.items() if k not in ("ts", "wall_ms")}
                for row in c.metrics()
            ]

        tbl = logged(Checkpointer(
            spark, "", run_id="tb2", backend="table",
            namespace="spark_catalog.default", table_format="parquet",
        ))
        assert tbl == logged(Checkpointer(spark, str(tmp_path), run_id="tb2"))
        assert [row["seq"] for row in tbl] == list(range(6))
        assert [row["op"] for row in tbl] == ["x"] + ["probe"] * 4 + ["y"]
        assert [row["level"] for row in tbl] == [0, 3, 3, 3, 3, 1]
        assert [row["partition_id"] for row in tbl[1:5]] == [0, 1, 2, 3]
        assert sum(row["edges_processed"] for row in tbl[1:5]) == 100
    finally:
        for t in spark.catalog.listTables("default"):
            if t.name.startswith(("tb1_", "tb2_")):
                spark.sql(f"DROP TABLE IF EXISTS spark_catalog.default.{t.name}")


def test_incomplete_snapshot_ignored(spark, tmp_path):
    """Kill-mid-write (SURVEY §6.2-7): a snapshot directory without the
    _SUCCESS marker (crash before commit) must be invisible to resume."""
    ck = Checkpointer(spark, str(tmp_path), run_id="kill")
    df = spark.createDataFrame([(1, 1)], "id long, community long")
    ck.save_state("assign", 0, df)
    # simulate a crash mid-write of step 1: files exist, no _SUCCESS
    import os

    p = f"{tmp_path}/kill/assign/step=1"
    os.makedirs(p, exist_ok=True)
    with open(f"{p}/part-00000.parquet", "wb") as f:
        f.write(b"not a real parquet footer")
    assert ck.latest_step("assign") == 0
    assert ck.load_state("assign", 1) is None
    assert ck.load_state("assign").first().id == 1


def test_partition_metrics(spark, tmp_path):
    """North-star per-partition lineage: log_partition_metrics emits one
    (partition_id, edges_processed, wall_ms) row per physical partition,
    and an SLM scale run records them per level."""
    ck = Checkpointer(spark, str(tmp_path), run_id="pm")
    df = spark.range(100).select(F.col("id"), (F.col("id") % 5).alias("v")).repartition(4)
    n = ck.log_partition_metrics(df, op="probe", level=0)
    assert n == 4
    rows = [m for m in ck.metrics() if m["op"] == "probe"]
    assert sorted(r["partition_id"] for r in rows) == [0, 1, 2, 3]
    assert sum(r["edges_processed"] for r in rows) == 100
    assert all(r["wall_ms"] >= 0 for r in rows)

    e = edges_df(spark, G.g_two_cliques())
    engine.slm(e, checkpointer=ck, seed=1, mode="scale",
               exact_threshold=0, max_sweeps=3)
    lm_rows = [m for m in ck.metrics() if m["op"] == "slm_lm_input"]
    assert lm_rows and all("partition_id" in m for m in lm_rows)


def test_slm_scale_checkpoints_resumable(spark, tmp_path):
    """SURVEY §6.2-7: interrupt-and-resume equals the uninterrupted run.
    A resumed run (same run_id) restarts after the last completed level
    and must produce the identical final assignment."""
    und = G.g_two_cliques()
    e = edges_df(spark, und)
    kw = dict(seed=42, mode="scale", exact_threshold=0, max_sweeps=4)

    ck = Checkpointer(spark, str(tmp_path), run_id="slm1")
    assign, q = engine.slm(e, checkpointer=ck, **kw)
    final = {r.id: r.community for r in assign.collect()}

    step = ck.latest_step("slm_supergraph")
    assert step is not None  # at least one level completed + snapshotted

    # "crashed" rerun: new Checkpointer on the same run_id, resume=True
    ck2 = Checkpointer(spark, str(tmp_path), run_id="slm1")
    assign2, q2 = engine.slm(e, checkpointer=ck2, resume=True, **kw)
    resumed = {r.id: r.community for r in assign2.collect()}
    assert resumed == final
    assert q2 == pytest.approx(q, abs=1e-9)
