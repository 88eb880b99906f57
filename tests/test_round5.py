"""Round-5 regressions: fused dedup verify path (one shingle
computation, deterministic cache cleanup), louvain_refine pass-identity
unpersist guard, CC empty-graph cache leak, scaling-cache sidecar."""

import pytest
from pyspark.sql import functions as F

from slmpy_spark import engine
from slmpy_spark.graph.components import connected_components
from slmpy_spark.graph.slm import slm
from slmpy_spark.textops import dedup

from tests.conftest import edges_df
from tests.test_textops import BASE, NEAR, OTHER, docs_df


def _persistent_rdd_ids(spark):
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return set(jmap.keySet().toArray())


def test_verified_pairs_matches_two_stage_composition(spark):
    rows = [BASE, NEAR, OTHER,
            "spark engines shuffle data across the cluster every stage",
            BASE + " extra tail words here"]
    d = docs_df(spark, rows)
    fused = {
        (r.a, r.b, r.jaccard)
        for r in dedup.verified_pairs(d, threshold=0.2, k=32, bands=16).collect()
    }
    two_stage = {
        (r.a, r.b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            d, threshold=0.2,
            candidates=dedup.lsh_candidates(d, k=32, bands=16),
        ).collect()
    }
    assert fused == two_stage
    assert (0, 1) in {(a, b) for a, b, _ in fused}


def test_verified_pairs_single_shingle_computation(spark, monkeypatch):
    """The fusion's whole point: the candidate stage and the verify
    stage must share ONE _shingles() plan, not rebuild it."""
    calls = []
    real = dedup._shingles

    def counting(docs, n=3):
        calls.append(n)
        return real(docs, n)

    monkeypatch.setattr(dedup, "_shingles", counting)
    d = docs_df(spark, [BASE, NEAR, OTHER])
    out = dedup.verified_pairs(d, threshold=0.2, k=16, bands=8)
    out.count()
    assert len(calls) == 1


def test_verified_pairs_frees_intermediates(spark):
    """Every intermediate (shingle persist, candidate checkpoint) is
    freed before return; only the returned materialized result remains,
    and freeing it restores the session's persistent-RDD baseline."""
    d = docs_df(spark, [BASE, NEAR, OTHER, BASE + " tail"])
    before = _persistent_rdd_ids(spark)
    out = dedup.verified_pairs(d, threshold=0.2, k=16, bands=8)
    out.count()
    extra = _persistent_rdd_ids(spark) - before
    assert len(extra) <= 1  # just the materialized result leaf
    out.unpersist()
    assert _persistent_rdd_ids(spark) - before == set()


def test_lsh_stats_bucket_table_freed(spark):
    """ADVICE r4: the stats path persisted the full bucket-count table
    and left it to ContextCleaner.  Now the surviving-bucket list is
    pinned and the bucket table unpersisted before returning; the only
    cache outliving the call is that (tiny) pinned list."""
    d = docs_df(spark, [BASE, NEAR, OTHER])
    before = _persistent_rdd_ids(spark)
    stats = {}
    out = dedup.lsh_candidates(d, k=16, bands=8, max_bucket=10, stats=stats)
    n = out.count()
    assert "dropped_buckets" in stats and "dropped_rows" in stats
    extra = _persistent_rdd_ids(spark) - before
    assert len(extra) <= 1  # the pinned ok-list checkpoint only
    # and the same through simhash_candidates
    stats2 = {}
    out2 = dedup.simhash_candidates(d, max_bucket=10, stats=stats2)
    out2.count()
    assert "dropped_buckets" in stats2


def test_simhash_candidates_pins_no_signatures(spark):
    """simhash_candidates caches no signatures: without stats nothing
    outlives the count, and with stats only the pinned surviving-bucket
    list of _capped_buckets does (as for lsh_candidates)."""
    d = docs_df(spark, [BASE, NEAR, OTHER])
    before = _persistent_rdd_ids(spark)
    out = dedup.simhash_candidates(d, max_bucket=10)
    out.count()
    out.unpersist()
    assert _persistent_rdd_ids(spark) - before == set()
    stats = {}
    out = dedup.simhash_candidates(d, max_bucket=10, stats=stats)
    out.count()
    assert "dropped_buckets" in stats
    assert len(_persistent_rdd_ids(spark) - before) <= 1  # the ok-list only


def test_cc_empty_graph_no_cache_leak(spark):
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    before = _persistent_rdd_ids(spark)
    out = connected_components(empty)
    assert out.count() == 0
    assert _persistent_rdd_ids(spark) - before == set()


def _triangle(base):
    return [
        (base, base + 1, 1.0),
        (base + 1, base + 2, 1.0),
        (base, base + 2, 1.0),
    ]


def test_louvain_refine_multi_iteration_identity_guard(spark):
    """ADVICE r5 (slm.py louvain_refine): when a later pass's
    _scale_pass returns its warm-start unchanged (empty level-0
    supergraph after full absorption), pre_refine can BE prev/best_flat
    — the unconditional unpersist freed checkpoint blocks the final
    best_flat read then needed.  Disjoint triangles + exact_threshold=0
    + multiple iterations is the repro topology from round 4."""
    edges = edges_df(spark, _triangle(0) + _triangle(10))
    assign, q = slm(
        edges, mode="scale", exact_threshold=0, seed=5,
        variant="louvain_refine", n_iterations=3, n_random_starts=2,
    )
    rows = {r["id"]: r["community"] for r in assign.collect()}
    assert len(rows) == 6
    assert rows[0] == rows[1] == rows[2]
    assert rows[10] == rows[11] == rows[12]
    assert rows[0] != rows[10]
    assert q > 0.4


def test_scaling_cache_sidecar_guard(tmp_path):
    """BENCH/run_scaling.py refuses a cache whose sidecar mismatches
    the requested size (stale-cache guard)."""
    import json
    import subprocess
    import sys
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cache = tmp_path / "g.parquet"
    cache.write_bytes(b"not really parquet")
    (tmp_path / "g.parquet.meta.json").write_text(
        json.dumps({"nodes": 999, "edges": 999, "seed": 42})
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "BENCH", "run_scaling.py"),
         "--nodes", "100", "--edges", "200", "--reps", "1",
         "--graph-cache", str(cache)],
        capture_output=True, text=True, cwd=repo, timeout=60,
    )
    assert proc.returncode != 0
    assert "mismatch" in (proc.stderr + proc.stdout)


# ---- r5 second half: non-sweep job cuts (observe-ridden counts, fused
# final eval, join-free parent map, split-output unpersist) ----


def test_modularity_two_m_passthrough(spark):
    """modularity(two_m=...) must skip the edge rescan without changing
    the value (slm_scale's per-pass Q passes its known 2m)."""
    from slmpy_spark.graph.edges import symmetrize, total_weight
    from slmpy_spark.graph.modularity import modularity

    edges = edges_df(spark, _triangle(0) + _triangle(10) + [(2, 10, 1.0)])
    sym = symmetrize(edges)
    assign = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (10, 10), (11, 10), (12, 10)],
        "id long, community long",
    )
    q_default = modularity(sym, assign)
    q_passed = modularity(sym, assign, two_m=total_weight(sym))
    assert q_passed == q_default


def test_split_parent_map_matches_join(spark):
    """The kernel split path now derives the warm-start parent map from
    the parent column riding the split output's own materialize — it
    must equal the r4 join-based derivation (sub → its step-a parent)."""
    from slmpy_spark.graph.edges import degrees, symmetrize
    from slmpy_spark.graph.slm import _split_communities

    # two parent communities, each of which the splitter will cut in two
    # (two sub-cliques bridged by one weak edge inside each parent)
    def clique(ids):
        return [(a, b, 1.0) for i, a in enumerate(ids) for b in ids[i + 1:]]

    edges = edges_df(
        spark,
        clique([0, 1, 2]) + clique([3, 4, 5]) + [(2, 3, 0.01)]
        + clique([10, 11, 12]) + clique([13, 14, 15]) + [(12, 13, 0.01)],
    )
    sym = symmetrize(edges).persist()
    node_w = degrees(sym).select("id", F.col("w_deg").alias("node_w"))
    assign = sym.sparkSession.createDataFrame(
        [(i, 0) for i in range(6)] + [(i, 10) for i in range(10, 16)],
        "id long, community long",
    )
    two_m = float(sym.agg(F.sum("weight")).first()[0])
    out, parent_map = _split_communities(
        sym, node_w, assign, resolution2=1.0 / two_m, seed=3
    )
    got = {(r.id, r.community) for r in parent_map.collect()}
    expect = {
        (r.community, r.parent)
        for r in out.join(
            assign.select("id", F.col("community").alias("parent")), "id"
        )
        .select("community", "parent")
        .distinct()
        .collect()
    }
    assert got == expect
    # the split actually split: more subcommunities than parents
    assert len({c for c, _ in got}) > 2
    out.unpersist()
    parent_map.unpersist()
    sym.unpersist()


@pytest.mark.parametrize("variant", ["slm", "louvain_refine"])
def test_scale_shuffle_path_no_cache_leak(spark, variant):
    """broadcast_threshold=1 forces the shuffle-level machinery (carried
    counts, lazy sigma, per-level split output).  After the run, the only
    surviving cached/checkpointed RDD is the returned assignment's leaf —
    the r4 layout leaked one community-sized checkpoint set per level ≥ 1
    (the consumed split output was never unpersisted).  louvain_refine
    adds the refinement pass on the original graph, whose caller builds
    a dst-partitioned edge cache (and its checkpoint leaf) for that pass
    alone — both must be freed too.  Q is pinned bit for bit."""
    edges = edges_df(
        spark,
        _triangle(0) + _triangle(10) + _triangle(20) + _triangle(30)
        + [(2, 10, 0.01), (12, 20, 0.01), (22, 30, 0.01)],
    )
    before = _persistent_rdd_ids(spark)
    assign, q = slm(
        edges, mode="scale", exact_threshold=0, seed=7, broadcast_threshold=1,
        variant=variant,
    )
    assert assign.count() == 12
    extra = _persistent_rdd_ids(spark) - before
    assert len(extra) <= 1, f"leaked {len(extra)} RDD block sets"
    assert q == 0.747506061667665


def test_scale_empty_edges(spark):
    """Fully empty input through the observe-ridden setup (counts and 2m
    must come back 0, not None-crash)."""
    empty = spark.createDataFrame([], "src long, dst long, weight double")
    assign, q = slm(empty, mode="scale", exact_threshold=0, seed=1)
    assert assign.count() == 0
    assert q == 0.0
