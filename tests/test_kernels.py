"""Kernel-level tests (pure numpy, no Spark): SLM/Louvain semantics vs
known-answer fixtures (FIXTURES.md §2) and the independent oracle."""

import numpy as np
import pytest

from slmpy_spark.graph import kernels
from tests import genfixtures as G
from tests import oracle_slm as O


def run(und_edges, n=None, **kw):
    d = G.directed(und_edges)
    src = np.array([e[0] for e in d])
    dst = np.array([e[1] for e in d])
    w = np.array([e[2] for e in d])
    n = n or int(max(src.max(), dst.max())) + 1
    return kernels.run_slm(n, src, dst, w, **kw)


def canon(labels):
    """Canonical form: community tuple sorted by min member."""
    groups = {}
    for i, c in enumerate(labels):
        groups.setdefault(c, []).append(i)
    return sorted(tuple(sorted(g)) for g in groups.values())


def test_two_cliques():
    cluster, q = run(G.g_two_cliques(), seed=42)
    assert canon(cluster) == [tuple(range(6)), tuple(range(6, 12))]
    oq = O.modularity_oracle(G.g_two_cliques(), dict(enumerate(cluster)))
    assert np.isclose(q, oq, atol=1e-12)


def test_ring_cliques():
    cluster, q = run(G.g_ring_cliques_4(), seed=42, n_random_starts=4)
    assert canon(cluster) == [
        tuple(range(0, 6)),
        tuple(range(6, 12)),
        tuple(range(12, 18)),
        tuple(range(18, 24)),
    ]


def test_weighted_bridge_merges():
    cluster, q = run(G.g_weighted_pair(), seed=42)
    # heavy bridge (w=100) forces 5 and 6 into one community
    assert cluster[5] == cluster[6]


def test_kn_single_community():
    cluster, q = run(G.g_kn(7), seed=1)
    assert len(set(cluster)) == 1
    assert q == pytest.approx(0.0, abs=1e-12)


def test_disjoint_components_never_merge():
    cluster, q = run(G.g_disjoint(), seed=3)
    k4 = {cluster[i] for i in range(4)}
    c5 = {cluster[i] for i in range(4, 9)}
    assert k4.isdisjoint(c5)
    assert len(k4) == 1  # K4 is one community


def test_matches_oracle_q_on_fixtures():
    for name, und in [
        ("two_cliques", G.g_two_cliques()),
        ("ring", G.g_ring_cliques_4()),
        ("barbell", G.g_barbell()),
        ("disjoint", G.g_disjoint()),
    ]:
        cluster, q = run(und, seed=42, n_random_starts=2, n_iterations=3)
        ocl, oq = O.slm_oracle(und, seed=42, n_iterations=3)
        n = len(cluster)
        assert canon(cluster) == canon([ocl[i] for i in range(n)]), name
        assert np.isclose(q, oq, atol=1e-9), name


def test_q_vs_oracle_same_assignment():
    und = G.gnp(40, 0.15, seed=7)
    cluster, q = run(und, n=40, seed=0)
    oq = O.modularity_oracle(und, dict(enumerate(cluster)))
    assert np.isclose(q, oq, atol=1e-12)


def test_slm_ge_louvain():
    # P-SLM §3: SLM attains ≥ modularity than Louvain given enough
    # random starts (statistical over single runs, so best-of-3 here)
    for seed in (0, 1, 2, 3, 4):
        und = G.gnp(50, 0.1, seed=seed)
        _, q_slm = run(
            und, n=50, seed=seed, variant="slm", n_iterations=5, n_random_starts=3
        )
        _, q_lv = run(
            und, n=50, seed=seed, variant="louvain", n_iterations=5, n_random_starts=3
        )
        assert q_slm >= q_lv - 1e-9


def test_weight_scaling_invariance():
    und = G.gnp(40, 0.15, seed=11)
    c1, q1 = run(und, n=40, seed=5)
    scaled = [(u, v, w * 7.5) for u, v, w in und]
    c2, q2 = run(scaled, n=40, seed=5)
    assert canon(c1) == canon(c2)
    assert np.isclose(q1, q2, atol=1e-12)


def test_q_monotone_over_iterations():
    und = G.gnp(60, 0.08, seed=13)
    d = G.directed(und)
    src = np.array([e[0] for e in d])
    dst = np.array([e[1] for e in d])
    w = np.array([e[2] for e in d])
    indptr, nbr, ww = kernels.build_csr(60, src, dst, w)
    node_w = np.zeros(60)
    np.add.at(node_w, src, w)
    two_m = ww.sum()
    res2 = 1.0 / two_m
    rng = np.random.Generator(np.random.PCG64(3))
    cluster = np.arange(60, dtype=np.int64)
    prev_q = kernels.quality_numpy(indptr, nbr, ww, node_w, cluster)
    for _ in range(5):
        changed = kernels.slm_recursive(indptr, nbr, ww, node_w, cluster, res2, rng)
        q = kernels.quality_numpy(indptr, nbr, ww, node_w, cluster)
        assert q >= prev_q - 1e-12
        prev_q = q
        if not changed:
            break


def test_multi_start_picks_best():
    """G14: n_random_starts=k must return exactly the best-Q result of
    the k single-seed runs (seed+start seeding contract)."""
    und = G.gnp(60, 0.08, seed=5)
    singles = [run(und, seed=s)[1] for s in range(4)]
    _, qbest = run(und, seed=0, n_random_starts=4)
    assert qbest == pytest.approx(max(singles), abs=1e-12)


def test_cpm_quality_matches_oracle():
    """G16 value gate: the kernel-reported CPM Q must equal the
    independent dict-based oracle's value on the found partition."""
    cluster, q = run(G.g_two_cliques(), seed=42, quality="cpm", gamma=0.5)
    assert canon(cluster) == [tuple(range(6)), tuple(range(6, 12))]
    oq = O.cpm_oracle(
        G.g_two_cliques(), {i: int(cluster[i]) for i in range(12)}, gamma=0.5
    )
    assert q == pytest.approx(oq, abs=1e-9)
    # a second fixture with a different optimum shape
    cl2, q2 = run(G.g_ring_cliques_4(), seed=7, quality="cpm", gamma=0.3)
    oq2 = O.cpm_oracle(
        G.g_ring_cliques_4(), {i: int(cl2[i]) for i in range(len(cl2))}, gamma=0.3
    )
    assert q2 == pytest.approx(oq2, abs=1e-9)


def _sparse_id_graph(seed=11, n=300, m=1200):
    """Random edges over n vertex ids scattered in [0, 10^12), plus ids
    that only an assignment mentions (no edges)."""
    rng = np.random.default_rng(seed)
    pool = rng.choice(10**12, size=n + 20, replace=False).astype(np.int64)
    src = pool[rng.integers(0, n, m)]
    dst = pool[rng.integers(0, n, m)]
    extra = pool[n:]
    return rng, src, dst, extra


def test_dense_ids_matches_unique_searchsorted():
    _, src, dst, extra = _sparse_id_graph()
    ids, lsrc, ldst = kernels.dense_ids(src, dst)
    ref = np.unique(np.concatenate([src, dst]))
    assert np.array_equal(ids, ref)
    assert np.array_equal(lsrc, np.searchsorted(ref, src))
    assert np.array_equal(ldst, np.searchsorted(ref, dst))
    assert np.array_equal(ids[lsrc], src) and np.array_equal(ids[ldst], dst)
    # extra arrays join the id set and come back as indices too
    ids3, lsrc3, ldst3, lx = kernels.dense_ids(src, dst, extra)
    ref3 = np.unique(np.concatenate([src, dst, extra]))
    assert np.array_equal(ids3, ref3)
    assert np.array_equal(lsrc3, np.searchsorted(ref3, src))
    assert np.array_equal(ldst3, np.searchsorted(ref3, dst))
    assert np.array_equal(ids3[lx], extra)


def test_min_member_matches_scatter_and_groupby_min():
    import pandas as pd

    rng, src, dst, extra = _sparse_id_graph(seed=12)
    ids = kernels.dense_ids(src, dst, extra)[0]
    cluster = rng.integers(0, 40, ids.size).astype(np.int64)
    got = kernels.min_member(ids, cluster)
    # reference 1: a min-scatter over cluster indices
    min_id = np.full(int(cluster.max()) + 1, np.iinfo(np.int64).max)
    np.minimum.at(min_id, cluster, ids)
    assert np.array_equal(got, min_id[cluster])
    # reference 2: a pandas groupby-min
    out = pd.DataFrame({"id": ids, "community": cluster})
    ref = out.groupby("community")["id"].transform("min").to_numpy()
    assert np.array_equal(got, ref)
    assert got.dtype == np.int64


def test_level_step_calls_patched_kernel_at_call_time(monkeypatch):
    calls = []
    step = kernels.level_step("slm", fast=True)  # built BEFORE the patch
    monkeypatch.setattr(
        kernels, "slm_recursive", lambda *a, **kw: calls.append((a, kw)) or True
    )
    assert step(1, 2, 3, 4, 5, 6, 7) is True
    assert calls == [((1, 2, 3, 4, 5, 6, 7), {"fast": True})]
    monkeypatch.setattr(
        kernels, "louvain_recursive", lambda *a, **kw: calls.append((a, kw)) or False
    )
    assert kernels.level_step("louvain_refine")(1, 2, 3, 4, 5, 6, 7) is False
    assert calls[-1] == ((1, 2, 3, 4, 5, 6, 7), {"refine": True, "fast": False})
    with pytest.raises(KeyError):
        kernels.level_step("leiden")
