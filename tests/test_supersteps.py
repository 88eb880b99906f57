"""The shared superstep driver, edge-cache owner and frame-ownership
scope (slmpy_spark.util): result ownership of the iterative operators
and SLM, the plan-audit dump names, the edge cache's leaf ownership and
the Frames scope."""

import os
import time

import pytest
from pyspark.sql import functions as F

from slmpy_spark.checkpoint import Checkpointer
from slmpy_spark.graph.components import connected_components
from slmpy_spark.graph.labelprop import label_propagation
from slmpy_spark.graph.pagerank import pagerank
from slmpy_spark.graph.slm import slm
from slmpy_spark.util import EdgeCache, Frames, materialize

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
    "slm-exact": lambda e, ck: slm(e, mode="exact", seed=1)[0],
    # on FIVE_EDGES with exact_threshold=0 the level-1 supergraph is
    # empty, so the exact finish hands its input back unchanged
    "slm-scale-bcast": lambda e, ck: slm(
        e, mode="scale", exact_threshold=0, seed=1, checkpointer=ck
    )[0],
    "slm-scale-shuffle": lambda e, ck: slm(
        e, mode="scale", exact_threshold=0, broadcast_threshold=1, seed=1,
        checkpointer=ck,
    )[0],
    "slm-louvain_refine": lambda e, ck: slm(
        e, mode="scale", exact_threshold=0, variant="louvain_refine",
        n_random_starts=2, n_iterations=2, seed=1, checkpointer=ck,
    )[0],
}


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _cached_rdd_ids(spark):
    """Ids of the RDDs the block manager holds cached partitions of."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


@pytest.mark.parametrize("with_checkpointer", [False, True])
@pytest.mark.parametrize("op", sorted(OPERATORS))
def test_operator_result_unpersist_frees_everything(spark, tmp_path, op, with_checkpointer):
    """The result is a projection view over the final state's leaf; its
    unpersist must free that leaf, so nothing stays pinned once the
    caller is done with the result."""
    edges = edges_df(spark, FIVE_EDGES)
    ck = Checkpointer(spark, str(tmp_path), run_id=op) if with_checkpointer else None
    before = _persistent_rdd_ids(spark)
    cached_before = _cached_rdd_ids(spark)
    out = OPERATORS[op](edges, ck)
    assert out.count() == 6
    out.unpersist()
    assert _persistent_rdd_ids(spark) - before == set()
    # storage-level probe: no RDD beyond the baseline still holds cached
    # partitions (unpersist frees blocks asynchronously, so poll)
    deadline = time.time() + 5
    while _cached_rdd_ids(spark) - cached_before and time.time() < deadline:
        time.sleep(0.1)
    assert _cached_rdd_ids(spark) - cached_before == set()


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


def test_frames_retain_keeps_a_frame_live_under_any_name(spark):
    """A frame bound to two names is one owned object: retaining it
    under either name keeps its checkpoint blocks readable."""
    edges = edges_df(spark, FIVE_EDGES)
    before = _persistent_rdd_ids(spark)
    frames = Frames()
    a = frames.own(materialize(edges))
    b = frames.own(a)
    frames.own(materialize(edges.where(F.col("src") < 2)))
    frames.retain(b)
    assert len(_persistent_rdd_ids(spark) - before) == 1  # only `a` left
    assert a.count() == 5
    frames.retain()
    assert _persistent_rdd_ids(spark) - before == set()


def test_frames_never_free_a_borrowed_frame(spark):
    """retain() frees only what the scope owns: a frame it never owned
    (a caller's input) keeps its blocks."""
    edges = edges_df(spark, FIVE_EDGES)
    borrowed = materialize(edges)
    before = _persistent_rdd_ids(spark)
    frames = Frames()
    frames.own(materialize(edges.where(F.col("src") < 2)))
    frames.retain()
    assert _persistent_rdd_ids(spark) == before
    assert borrowed.count() == 5
    borrowed.unpersist()


def test_frames_free_an_owned_edge_cache(spark):
    """An owned EdgeCache is freed through free(): its cache and the
    leaf it built both go."""
    edges = edges_df(spark, FIVE_EDGES)
    before = _persistent_rdd_ids(spark)
    frames = Frames()
    cache = frames.own(EdgeCache(edges.where(F.col("src") < 4), "dst", eager=True))
    assert cache.df.count() == 4
    frames.retain()
    assert _persistent_rdd_ids(spark) == before


def test_triangle_count_frees_what_it_persists(spark):
    """triangle_count persists the oriented edges and the triangles for
    its count; both are freed before it returns, and the per-vertex
    frame still recomputes from lineage.  The public triangles() frame
    pins nothing."""
    from slmpy_spark.graph.triangles import triangle_count, triangles

    edges = edges_df(spark, FIVE_EDGES)
    before = _persistent_rdd_ids(spark)
    total, per_vertex = triangle_count(edges)
    assert total == 1
    assert _persistent_rdd_ids(spark) - before == set()
    assert {r.id: r.triangles for r in per_vertex.collect()} == {
        0: 1, 1: 1, 2: 1, 3: 0, 4: 0, 5: 0
    }
    assert triangles(edges).count() == 1
    assert _persistent_rdd_ids(spark) - before == set()
