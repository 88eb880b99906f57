"""The shared superstep driver and edge-cache owner (slmpy_spark.util):
result ownership of the iterative operators, the plan-audit dump names,
and the edge cache's leaf ownership."""

import os

import pytest
from pyspark.sql import functions as F

from slmpy_spark.checkpoint import Checkpointer
from slmpy_spark.graph.components import connected_components
from slmpy_spark.graph.labelprop import label_propagation
from slmpy_spark.graph.pagerank import pagerank
from slmpy_spark.util import EdgeCache, materialize

from tests.conftest import edges_df

# a 3-cycle plus a 3-path: vertex 3 has no in-edges (a flat PageRank
# vertex, so the union branch of the result is exercised too)
FIVE_EDGES = [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0), (3, 4, 1.0), (4, 5, 1.0)]

OPERATORS = {
    "pagerank": lambda e, ck: pagerank(
        e, max_iter=3, checkpoint_interval=2, checkpointer=ck
    ),
    "components": lambda e, ck: connected_components(e, checkpointer=ck),
    "labelprop": lambda e, ck: label_propagation(e, max_iter=3, checkpointer=ck),
}


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


@pytest.mark.parametrize("with_checkpointer", [False, True])
@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_operator_result_unpersist_frees_everything(spark, tmp_path, op, with_checkpointer):
    """The result is a projection view over the final state's leaf; its
    unpersist must free that leaf, so nothing stays pinned once the
    caller is done with the result."""
    edges = edges_df(spark, FIVE_EDGES)
    ck = Checkpointer(spark, str(tmp_path), run_id=op) if with_checkpointer else None
    before = _persistent_rdd_ids(spark)
    out = OPERATORS[op](edges, ck)
    assert out.count() == 6
    out.unpersist()
    assert _persistent_rdd_ids(spark) - before == set()


def test_plan_audit_dump_names(spark, tmp_path, monkeypatch):
    """BENCH/audit_plans.py and plans/r06/ read the round-0 dumps by
    these names; CC and LPA dump the observed frame they materialize,
    PageRank its pre-observe projection."""
    monkeypatch.setenv("SLMPY_EXPLAIN_DIR", str(tmp_path))
    edges = edges_df(spark, FIVE_EDGES)
    pagerank(edges, max_iter=1).count()
    connected_components(edges).count()
    label_propagation(edges, max_iter=1).count()
    names = {"pagerank_iter.txt", "cc_round.txt", "lpa_round.txt"}
    assert names <= set(os.listdir(tmp_path))
    text = {n: (tmp_path / n).read_text() for n in names}
    assert all("== Physical Plan ==" in t for t in text.values())
    assert "CollectMetrics" in text["cc_round.txt"]
    assert "CollectMetrics" in text["lpa_round.txt"]
    assert "CollectMetrics" not in text["pagerank_iter.txt"]


def test_edge_cache_frees_only_its_own_leaf(spark):
    """A non-leaf input gets a checkpoint leaf the cache owns and frees
    after itself; a leaf the caller passes in stays the caller's."""
    edges = edges_df(spark, FIVE_EDGES)
    before = _persistent_rdd_ids(spark)

    owned = EdgeCache(edges.where(F.col("src") < 4), "dst", eager=True)
    assert owned.df.count() == 4
    owned.free()
    assert _persistent_rdd_ids(spark) - before == set()

    leaf = materialize(edges)
    borrowed = EdgeCache(leaf, "dst", eager=True)
    assert borrowed.leaf is leaf
    borrowed.free()
    assert len(_persistent_rdd_ids(spark) - before) == 1  # the caller's leaf
    assert leaf.count() == 5
    leaf.unpersist()
    assert _persistent_rdd_ids(spark) - before == set()
