"""The compiled local-moving visit loop (graph/_lm.c, loaded through
ctypes by kernels.local_moving) against the Python reference loop
kernels._local_moving_py: bit-identical labels, return flags and RNG
streams, plus the loader's cache and its fallback.  Pure numpy."""

import shutil
import warnings

import numpy as np
import pytest

from slmpy_spark.graph import kernels
from tests import genfixtures as G

needs_cc = pytest.mark.skipif(
    shutil.which("cc") is None,
    reason="no C compiler (cc) on PATH: only the Python fallback can run",
)


@pytest.fixture
def c_loop():
    """The C loop must load whenever cc is on PATH — parity against a
    silently-failed build would compare Python with itself."""
    assert kernels._lm_lib() is not None


@pytest.fixture
def fresh_loader():
    """Forget the process's loaded library before and after the test."""
    kernels._lm_lib.cache_clear()
    yield
    kernels._lm_lib.cache_clear()


def sym_csr(n, u, v, w):
    """CSR of undirected pairs (u, v, w), both directions in input order
    (a self-loop once)."""
    u, v, w = np.asarray(u), np.asarray(v), np.asarray(w, dtype=np.float64)
    back = u != v
    return kernels.build_csr(
        n, np.concatenate([u, v[back]]), np.concatenate([v, u[back]]),
        np.concatenate([w, w[back]]),
    )


def rand_csr(seed, n=240, m=900, integral=True):
    """Seeded random symmetric self-loop-free graph; the last tenth of
    the vertices have no edges."""
    rng = np.random.default_rng(seed)
    span = n - n // 10
    u, v = rng.integers(0, span, m), rng.integers(0, span, m)
    u, v = u[u != v], v[u != v]
    key = np.unique(np.minimum(u, v) * n + np.maximum(u, v))
    lo, hi = key // n, key % n
    if integral:
        w = rng.integers(1, 6, key.size).astype(np.float64)
    else:
        w = rng.random(key.size) * 2.5 + 0.01
    return sym_csr(n, lo, hi, w)


def weights(indptr, wgt, quality):
    """(node_w, resolution2) for modularity (γ=1) or CPM (γ=0.1)."""
    n = indptr.size - 1
    if quality == "cpm":
        return np.ones(n), 0.1
    rows = np.repeat(np.arange(n), np.diff(indptr))
    return np.bincount(rows, weights=wgt, minlength=n), 1.0 / wgt.sum()


def start(kind, n, seed):
    if kind == "singletons":
        return np.arange(n, dtype=np.int64)
    # warm start with sparse, non-compact labels (max label above n)
    pool = np.array([2, 7, 11, 40, 3 * n + 5], dtype=np.int64)
    return np.random.default_rng(seed).choice(pool, n)


def both_paths(lm_args, cluster, seed):
    """(labels, flag, rng state after) for the C and the Python loop."""
    out = []
    for lm in (kernels.local_moving, kernels._local_moving_py):
        cl = cluster.copy()
        rng = np.random.Generator(np.random.PCG64(seed))
        flag = lm(*lm_args[:4], cl, lm_args[4], rng)
        out.append((cl, flag, rng.bit_generator.state))
    return out


@needs_cc
@pytest.mark.parametrize("kind", ["singletons", "warm"])
@pytest.mark.parametrize("quality", ["modularity", "cpm"])
@pytest.mark.parametrize("integral", [True, False])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_c_loop_matches_python_loop(c_loop, seed, integral, quality, kind):
    indptr, nbr, wgt = rand_csr(seed, integral=integral)
    node_w, res2 = weights(indptr, wgt, quality)
    cluster = start(kind, indptr.size - 1, seed)
    (c_cl, c_flag, c_rng), (p_cl, p_flag, p_rng) = both_paths(
        (indptr, nbr, wgt, node_w, res2), cluster, seed
    )
    assert np.array_equal(c_cl, p_cl)
    assert c_flag is p_flag is True
    assert c_rng == p_rng
    assert (np.diff(indptr) == 0).sum() >= 24  # vertices with no edges


@needs_cc
@pytest.mark.parametrize("seed", range(4))
@pytest.mark.parametrize("quality", ["modularity", "cpm"])
def test_equal_gains_go_to_the_lowest_cluster_id(c_loop, seed, quality):
    """Node 0 links two equal triangles (clusters 1 and 2) and its CSR
    slice meets cluster 2 first: the C loop (first-touch scan, explicit
    tie-break) must join cluster 1, as the Python loop's ascending scan
    does."""
    und = [(0, 4), (0, 1), (1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)]
    indptr, nbr, wgt = sym_csr(7, *zip(*und), np.ones(len(und)))
    assert nbr[indptr[0] : indptr[1]].tolist() == [4, 1]
    node_w, res2 = weights(indptr, wgt, quality)
    (c_cl, c_flag, _), (p_cl, p_flag, _) = both_paths(
        (indptr, nbr, wgt, node_w, res2), np.array([0, 1, 1, 1, 2, 2, 2]), seed
    )
    assert np.array_equal(c_cl, p_cl) and c_flag == p_flag
    assert c_cl[0] == c_cl[1] != c_cl[4]


def with_self_loops(indptr, nbr, wgt, seed):
    """The CSR graph plus a self-loop entry (weight 1..5) on every vertex
    of a seeded random half, placed first in its slice: the other
    entries keep their order, so dropping the loops gives the input."""
    n = indptr.size - 1
    rng = np.random.default_rng(seed)
    loops = np.flatnonzero(rng.random(n) < 0.5)
    rows = np.repeat(np.arange(n), np.diff(indptr))
    return kernels.build_csr(
        n, np.concatenate([loops, rows]), np.concatenate([loops, nbr]),
        np.concatenate([rng.integers(1, 6, loops.size).astype(np.float64), wgt]),
    )


@needs_cc
@pytest.mark.parametrize("quality", ["modularity", "cpm"])
@pytest.mark.parametrize("integral", [True, False])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_c_loop_matches_python_loop_with_self_loops(c_loop, seed, integral, quality):
    indptr, nbr, wgt = with_self_loops(*rand_csr(seed, integral=integral), seed)
    node_w, res2 = weights(indptr, wgt, quality)
    (c_cl, c_flag, c_rng), (p_cl, p_flag, p_rng) = both_paths(
        (indptr, nbr, wgt, node_w, res2), start("warm", indptr.size - 1, seed), seed
    )
    assert np.array_equal(c_cl, p_cl) and c_flag == p_flag and c_rng == p_rng


@pytest.mark.parametrize("lm", ["local_moving", "_local_moving_py", "local_moving_chunked"])
@pytest.mark.parametrize("quality", ["modularity", "cpm"])
@pytest.mark.parametrize("seed", [1, 2, 3, 4])
def test_self_loop_entries_never_decide_a_move(lm, seed, quality):
    """Each loop, and the chunked kernel, on a self-loop graph runs
    exactly as on the same graph without its self-loop entries, given
    the same node weights (which count the loops): labels, flag and RNG
    state."""
    plain = rand_csr(seed)
    looped = with_self_loops(*plain, seed)
    node_w, res2 = weights(looped[0], looped[2], quality)
    runs = []
    for indptr, nbr, wgt in (looped, plain):
        cl = start("singletons", indptr.size - 1, seed)
        rng = np.random.Generator(np.random.PCG64(seed))
        flag = getattr(kernels, lm)(indptr, nbr, wgt, node_w, cl, res2, rng)
        runs.append((cl, flag, rng.bit_generator.state))
    (l_cl, l_flag, l_rng), (p_cl, p_flag, p_rng) = runs
    assert np.array_equal(l_cl, p_cl) and l_flag == p_flag and l_rng == p_rng


@needs_cc
@pytest.mark.parametrize("quality", ["modularity", "cpm"])
def test_self_loops_stay_in_the_c_loop(c_loop, monkeypatch, quality):
    """Singletons held by their own self-loops once made the C loop hand
    the run back to the Python loop; now the C loop finishes it, with
    the Python loop's labels, flag and RNG state."""
    und = [(i, i, 5.0) for i in range(20)] + G.clique(range(20, 30))
    indptr, nbr, wgt = sym_csr(30, *zip(*und))
    node_w, res2 = weights(indptr, wgt, quality)
    p_cl, p_rng = np.arange(30), np.random.Generator(np.random.PCG64(0))
    p_flag = kernels._local_moving_py(indptr, nbr, wgt, node_w, p_cl, res2, p_rng)

    def no_rerun(*_a):
        raise AssertionError("local_moving reran the Python loop")

    monkeypatch.setattr(kernels, "_local_moving_py", no_rerun)
    cl, rng = np.arange(30), np.random.Generator(np.random.PCG64(0))
    assert kernels.local_moving(indptr, nbr, wgt, node_w, cl, res2, rng) == p_flag
    assert np.array_equal(cl, p_cl) and rng.bit_generator.state == p_rng.bit_generator.state
    assert len(set(cl[:20].tolist())) == 20  # each held singleton stays alone


@pytest.mark.parametrize("n", [0, 1])
def test_tiny_graphs_are_left_alone(n):
    indptr = np.zeros(n + 1, dtype=np.int64)
    empty = np.empty(0)
    for lm in (kernels.local_moving, kernels._local_moving_py):
        rng = np.random.Generator(np.random.PCG64(0))
        before = rng.bit_generator.state
        cluster = np.arange(n, dtype=np.int64)
        assert lm(indptr, empty.astype(np.int64), empty, np.ones(n), cluster, 1.0, rng) is False
        assert np.array_equal(cluster, np.arange(n)) and rng.bit_generator.state == before


@needs_cc
def test_malformed_csr_is_refused_before_the_c_loop(c_loop):
    """Out-of-range neighbour ids would be out-of-bounds reads in C."""
    indptr, nbr, wgt = rand_csr(6)
    node_w, res2 = weights(indptr, wgt, "modularity")
    bad = nbr.copy()
    bad[3] = indptr.size - 1
    rng = np.random.Generator(np.random.PCG64(0))
    with pytest.raises(ValueError, match="malformed CSR"):
        kernels.local_moving(indptr, bad, wgt, node_w, np.arange(indptr.size - 1), res2, rng)


FIXTURE_GRAPHS = {
    "two_cliques": G.g_two_cliques,
    "ring_cliques_4": G.g_ring_cliques_4,
    "barbell": G.g_barbell,
    "disjoint": G.g_disjoint,
    "star_hub": lambda: G.g_star_hub(300),
    "kn": G.g_kn,
    "weighted_pair": G.g_weighted_pair,
    "powerlaw": G.g_powerlaw,
    "gnp": lambda: G.gnp(80, 0.08, seed=5),
}


def _arrays(und):
    d = np.array(G.directed(und), dtype=np.float64)
    src, dst = d[:, 0].astype(np.int64), d[:, 1].astype(np.int64)
    return int(max(src.max(), dst.max())) + 1, src, dst, d[:, 2]


@needs_cc
@pytest.mark.parametrize("name", sorted(FIXTURE_GRAPHS))
def test_run_slm_identical_on_both_loops(c_loop, monkeypatch, name):
    n, src, dst, w = _arrays(FIXTURE_GRAPHS[name]())
    for variant in ("slm", "louvain", "louvain_refine"):
        for quality, gamma in (("modularity", 1.0), ("cpm", 0.05)):
            kw = dict(gamma=gamma, quality=quality, variant=variant, seed=7,
                      n_random_starts=2, n_iterations=3)
            c = kernels.run_slm(n, src, dst, w, **kw)
            with monkeypatch.context() as m:
                m.setattr(kernels, "local_moving", kernels._local_moving_py)
                p = kernels.run_slm(n, src, dst, w, **kw)
            assert np.array_equal(c[0], p[0]) and c[1] == p[1], (variant, quality)


@needs_cc
@pytest.mark.parametrize("variant", ["slm", "louvain_refine"])
def test_fast_level_step_identical_on_both_loops(c_loop, monkeypatch, variant):
    """level_step(fast=True), the exact finish's step: the chunked kernel
    takes the 5000-node top level, the C / Python loop every smaller
    subnetwork and aggregation level."""
    n = 5000
    indptr, nbr, wgt = sym_csr(n, *G.g_powerlaw_arrays(n, 12000, seed=3))
    node_w, res2 = weights(indptr, wgt, "modularity")
    labels = []
    for lm in (kernels.local_moving, kernels._local_moving_py):
        monkeypatch.setattr(kernels, "local_moving", lm)
        rng = np.random.Generator(np.random.PCG64(11))
        cluster = np.arange(n, dtype=np.int64)
        step = kernels.level_step(variant, fast=True)
        for _ in range(3):
            if not step(indptr, nbr, wgt, node_w, cluster, res2, rng):
                break
        labels.append(cluster)
    assert np.array_equal(*labels)


@needs_cc
def test_loader_builds_once_then_hits_cache(fresh_loader, monkeypatch, tmp_path):
    """First use compiles into the cache directory atomically (no temp
    file left behind); a fresh process — a cleared cache — loads that
    .so without running cc again."""
    monkeypatch.setattr(kernels, "_LM_DIR", tmp_path / "cache")
    assert kernels._lm_lib() is not None
    built = sorted(p.name for p in (tmp_path / "cache").iterdir())
    assert len(built) == 1 and built[0].startswith("_lm-") and built[0].endswith(".so")

    def no_compiler(*_a, **_k):
        raise AssertionError("cc ran although the .so was cached")

    kernels._lm_lib.cache_clear()
    monkeypatch.setattr(kernels.subprocess, "run", no_compiler)
    assert kernels._lm_lib() is not None
    assert sorted(p.name for p in (tmp_path / "cache").iterdir()) == built


@pytest.mark.parametrize("failure", ["no_cc", "unwritable_dir"])
def test_build_failure_falls_back_to_python_loop(fresh_loader, monkeypatch, tmp_path, failure):
    if failure == "no_cc":
        monkeypatch.setattr(kernels, "_LM_DIR", tmp_path)

        def missing_cc(*_a, **_k):
            raise FileNotFoundError("cc")

        monkeypatch.setattr(kernels.subprocess, "run", missing_cc)
    else:
        (tmp_path / "file").write_text("")  # mkdir below a file fails
        monkeypatch.setattr(kernels, "_LM_DIR", tmp_path / "file" / "cache")
    with pytest.warns(RuntimeWarning, match="Python visit loop"):
        assert kernels._lm_lib() is None
    indptr, nbr, wgt = rand_csr(9, integral=False)
    node_w, res2 = weights(indptr, wgt, "modularity")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # warned once, not per call
        (f_cl, f_flag, f_rng), (p_cl, p_flag, p_rng) = both_paths(
            (indptr, nbr, wgt, node_w, res2), np.arange(indptr.size - 1), 9
        )
    assert np.array_equal(f_cl, p_cl) and f_flag == p_flag and f_rng == p_rng
