"""Numpy CSR kernels for local moving / SLM (SURVEY.md G4/G5/G12/G13).

These are the *worker-side* compute kernels. They re-implement, from
the published algorithm description (Waltman & van Eck, "A smart local
moving algorithm for large-scale modularity-based community detection",
EPJ B (2013) 86:471, arXiv:1308.6604) and the public Java
``ModularityOptimizer`` semantics, the sequential smart-local-moving
family.  Pinned semantics (SURVEY.md §1.1–1.2; re-verify against
/root/reference when it becomes readable — it is empty this sandbox):

- visit order: seeded random permutation per sweep;
- gain(i→c) = k_{i,c} − node_w_i · Σtot(c) · γ'   with γ' = γ/2m for
  standard modularity (node_w = weighted degree) or γ' = γ for CPM
  (node_w = 1); Σtot evaluated *after removing i from its community*;
- move only on strictly positive best gain; ties → lowest community id;
  no positive gain → node takes an unused (empty) community id
  (LIFO stack of unused ids, initially ascending);
- cyclic sweep with an unstable counter: terminate when n consecutive
  visits produce no move;
- cluster ids compactified after each LM run, preserving ascending
  first-use order.

Everything operates on CSR arrays (indptr, nbr, wgt) — contiguous,
cache-friendly, built with O(m) numpy sorts.  Graphs here are
*symmetrized*.  A self-loop adds the same weight to every candidate of
its node, so it never decides a move: both local-moving visit loops
skip a CSR entry whose neighbour is the visited node, and the reduced
networks drop the self-loop weight aggregation creates.  Node weights
and Q still count self-loop weight.

The one inherently sequential part — the visit loop of `local_moving` —
is C (`_lm.c`, compiled on first use and called through ctypes); numpy
does its setup (visit order, cluster weights, unused-id stack).
`_local_moving_py` is the same loop in plain Python: the reference the
compiled loop is held to bit for bit, and the fallback when no C
compiler is available.
"""

from __future__ import annotations

import ctypes
import functools
import hashlib
import os
import subprocess
import threading
import warnings
from pathlib import Path

import numpy as np

# ---------------------------------------------------------------- CSR


def build_csr(n: int, src: np.ndarray, dst: np.ndarray, wgt: np.ndarray):
    """CSR adjacency from a directed-pair edge list (both directions
    present for undirected graphs). Returns (indptr, nbr, w)."""
    src = np.asarray(src, dtype=np.int64)
    order = np.argsort(src, kind="stable")
    indptr = np.zeros(n + 1, dtype=np.int64)
    counts = np.bincount(src, minlength=n)
    indptr[1:] = np.cumsum(counts)
    return (
        indptr,
        np.asarray(dst, dtype=np.int64)[order],
        np.asarray(wgt, dtype=np.float64)[order],
    )


def dense_ids(src: np.ndarray, dst: np.ndarray, *more: np.ndarray):
    """Map arbitrary int64 vertex ids to dense 0..n-1.  Returns
    (ids, lsrc, ldst, *lmore): `ids` the sorted distinct ids over every
    input, then each input as indices into `ids`."""
    ids = np.unique(np.concatenate([src, dst, *more]))
    return (ids, *(np.searchsorted(ids, x) for x in (src, dst, *more)))


def min_member(ids: np.ndarray, cluster: np.ndarray) -> np.ndarray:
    """Per node, the smallest id in its cluster (cluster labels are
    dense indices ≥ 0) — the canonical, globally unique community label
    of the scale mode."""
    min_id = np.full(int(cluster.max(initial=-1)) + 1, np.iinfo(np.int64).max)
    np.minimum.at(min_id, cluster, ids)
    return min_id[cluster]


def compactify(cluster: np.ndarray) -> int:
    """Renumber cluster ids to 0..k-1 preserving ascending old-id order
    (the reference's end-of-LM relabel). In-place; returns k."""
    used = np.unique(cluster)
    remap = np.empty(int(used.max()) + 1 if used.size else 0, dtype=np.int64)
    remap[used] = np.arange(used.size, dtype=np.int64)
    cluster[:] = remap[cluster]
    return int(used.size)


# ------------------------------------------------------- local moving


_LM_SRC = Path(__file__).with_name("_lm.c")
_LM_DIR = _LM_SRC.parent / "__pycache__"
# no -ffast-math / -march=native: both may reorder or fuse the gain
# arithmetic and break bit-identical labels
_LM_FLAGS = ("-O2", "-ffp-contract=off", "-fPIC", "-shared")


@functools.cache
def _lm_lib():
    """The compiled visit loop, built on first use into
    ``__pycache__/_lm-<sha256(source+flags)[:16]>.so`` (written to a
    pid-unique temp file, then atomically renamed into place, so
    concurrent worker processes can build at once) and loaded once per
    process.  None, after one warning, when it cannot be built or
    loaded: callers then run ``_local_moving_py``."""
    try:
        src = _LM_SRC.read_bytes()
        tag = hashlib.sha256(src + " ".join(_LM_FLAGS).encode()).hexdigest()[:16]
        so = _LM_DIR / f"_lm-{tag}.so"
        if not so.exists():
            _LM_DIR.mkdir(exist_ok=True)
            tmp = _LM_DIR / f"_lm-{tag}.{os.getpid()}.{threading.get_ident()}.tmp"
            try:
                subprocess.run(
                    ["cc", *_LM_FLAGS, "-o", str(tmp), str(_LM_SRC)],
                    check=True, capture_output=True,
                )
                os.replace(tmp, so)
            finally:
                tmp.unlink(missing_ok=True)
        loop = ctypes.CDLL(str(so)).lm_visit_loop
    except Exception as e:  # no cc, read-only package dir, failed load
        warnings.warn(
            f"compiled local-moving loop unavailable ({e}); "
            "running the Python visit loop",
            RuntimeWarning,
        )
        return None
    i64, f64, ptr = ctypes.c_int64, ctypes.c_double, ctypes.c_void_p
    loop.restype = ctypes.c_int
    # (n, indptr, nbr, wgt, node_w, order, resolution2, cl, cluster_w,
    #  n_per, unused, n_unused, k_ids, acc, cand, seen) — see _lm.c
    loop.argtypes = [i64, *[ptr] * 5, f64, *[ptr] * 4, i64, i64, *[ptr] * 3]
    return loop


def local_moving(
    indptr: np.ndarray,
    nbr: np.ndarray,
    wgt: np.ndarray,
    node_w: np.ndarray,
    cluster: np.ndarray,
    resolution2: float,
    rng: np.random.Generator,
) -> bool:
    """One full sequential local-moving pass (runs to stability).

    Mutates `cluster` in place; returns True iff any node moved.
    `resolution2` = γ/2m (standard) or γ (CPM); `node_w` = degree or 1s.
    The visit loop runs compiled (_lm.c); labels, return value and RNG
    stream are bit-identical to `_local_moving_py`, which runs instead
    when the C loop cannot be built.
    """
    n = indptr.size - 1
    if n <= 1:
        return False
    loop = _lm_lib()
    if loop is None:
        return _local_moving_py(indptr, nbr, wgt, node_w, cluster, resolution2, rng)
    indptr = np.ascontiguousarray(indptr, dtype=np.int64)
    nbr = np.ascontiguousarray(nbr, dtype=np.int64)
    wgt = np.ascontiguousarray(wgt, dtype=np.float64)
    node_w = np.ascontiguousarray(node_w, dtype=np.float64)
    m = int(indptr[-1])
    if (
        indptr[0] != 0 or (np.diff(indptr) < 0).any() or nbr.size < m
        or wgt.size < m or node_w.size < n or cluster.size < n
        or (m and not 0 <= nbr[:m].min() <= nbr[:m].max() < n)
    ):
        raise ValueError("local_moving: malformed CSR arrays")
    # the same setup as _local_moving_py, as arrays C mutates in place;
    # every cluster id stays below k_ids = len(cluster_w)
    cluster_w = np.bincount(cluster, weights=node_w, minlength=n)
    n_per = np.bincount(cluster, minlength=n).astype(np.int64, copy=False)
    k_ids = cluster_w.size
    unused = np.flatnonzero(n_per == 0)  # ascending; the stack's top = largest
    stack = np.empty(k_ids, dtype=np.int64)
    stack[: unused.size] = unused
    cl = cluster.astype(np.int64)
    order = rng.permutation(n)
    acc = np.empty(k_ids, dtype=np.float64)
    cand = np.empty(k_ids, dtype=np.int64)
    seen = np.zeros(k_ids, dtype=np.uint8)
    rc = loop(
        n, indptr.ctypes.data, nbr.ctypes.data, wgt.ctypes.data,
        node_w.ctypes.data, order.ctypes.data, float(resolution2),
        cl.ctypes.data, cluster_w.ctypes.data, n_per.ctypes.data,
        stack.ctypes.data, unused.size, k_ids,
        acc.ctypes.data, cand.ctypes.data, seen.ctypes.data,
    )
    if rc < 0:
        raise RuntimeError("local_moving: the unused-id stack over- or underflowed")
    cluster[:] = cl
    compactify(cluster)
    return bool(rc)


def _local_moving_py(
    indptr: np.ndarray,
    nbr: np.ndarray,
    wgt: np.ndarray,
    node_w: np.ndarray,
    cluster: np.ndarray,
    resolution2: float,
    rng: np.random.Generator,
) -> bool:
    """`local_moving` with the visit loop in plain Python: the reference
    for the compiled loop and its fallback.  Same signature and result."""
    n = indptr.size - 1
    if n <= 1:
        return False
    # Python scalar float arithmetic is the same IEEE double as numpy
    # float64 and C double: the kic accumulation below adds weights in
    # CSR-slice order, the ascending scan with a strict > picks the
    # lowest id among the largest positive gains, and the RNG draws one
    # permutation — _lm.c makes the same sums and the same choice (with
    # an explicit lower-id tie-break instead of a sort), so its labels
    # are bit-identical (tests/test_lm_compiled.py).
    cluster_w = np.bincount(cluster, weights=node_w, minlength=n).tolist()
    n_per_np = np.bincount(cluster, minlength=n)
    unused = np.flatnonzero(n_per_np == 0).tolist()  # ascending; pop() = largest
    n_per = n_per_np.tolist()
    indptr_l = indptr.tolist()
    nbr_l = nbr.tolist()
    wgt_l = wgt.tolist()
    nw_l = [float(x) for x in node_w]
    cl = cluster.tolist()

    order = rng.permutation(n).tolist()
    n_stable = 0
    i = 0
    update = False
    while n_stable < n:
        j = order[i]
        lo, hi = indptr_l[j], indptr_l[j + 1]
        cj = cl[j]
        w_j = nw_l[j]
        cluster_w[cj] -= w_j
        n_per[cj] -= 1
        if n_per[cj] == 0:
            unused.append(cj)

        best = -1
        if hi > lo:
            acc: dict = {}
            for t in range(lo, hi):
                v = nbr_l[t]
                if v == j:  # a self-loop weighs the same on every candidate
                    continue
                c = cl[v]
                acc[c] = acc.get(c, 0.0) + wgt_l[t]
            best_gain = 0.0
            for c in sorted(acc):
                # same op order as the numpy expression:
                # kic - (node_w[j] * cluster_w[c]) * resolution2
                g = acc[c] - w_j * cluster_w[c] * resolution2
                if g > best_gain:  # strict > keeps lowest id on ties
                    best_gain = g
                    best = c
        if best < 0:
            best = unused.pop()

        cluster_w[best] += w_j
        n_per[best] += 1
        if best == cj:
            n_stable += 1
        else:
            cl[j] = best
            n_stable = 1
            update = True
        i = i + 1 if i < n - 1 else 0

    cluster[:] = cl
    compactify(cluster)
    return update


def local_moving_chunked(
    indptr: np.ndarray,
    nbr: np.ndarray,
    wgt: np.ndarray,
    node_w: np.ndarray,
    cluster: np.ndarray,
    resolution2: float,
    rng: np.random.Generator,
) -> bool:
    """Vectorized local moving for *large* subgraphs (the distributed
    split kernel's hot path): rounds of seeded-random chunks, each chunk
    deciding moves vectorized (lexsort + reduceat) against σ totals
    updated between chunks, for at most 16 rounds.  Converges to the
    same Q-class as the sequential `local_moving` but is ~50× faster per
    node on big blocks; exact label-sequence parity is NOT preserved
    (exact mode keeps the sequential kernel).

    Singleton escapes use cluster slots n..2n-1 (slot n+j for node j);
    labels are compactified before returning.  Mutates `cluster`.
    """
    n = indptr.size - 1
    if n <= 1:
        return False
    row_src = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    # the move decision reads no self-loop entry (it weighs the same on
    # every candidate, as in the sequential loops); q_of counts them
    keep = nbr != row_src
    e_src, e_nbr, e_w = row_src[keep], nbr[keep], wgt[keep]
    sigma = np.bincount(cluster, weights=node_w, minlength=2 * n).astype(np.float64)
    update = False

    def q_of(cl):
        intra = float(wgt[cl[row_src] == cl[nbr]].sum())
        tot = np.bincount(cl, weights=node_w)
        return intra - resolution2 * float(tot @ tot)  # monotone in Q

    best_cluster = cluster.copy()
    best_q = q_of(cluster)

    for _ in range(16):
        order = rng.permutation(n)
        # chunk count: small graphs need MANY small chunks (the chunks
        # are the sequentialism — one chunk = fully synchronous =
        # husband-wife oscillation); huge graphs cap at 64 chunks for
        # vectorization width
        k_chunks = int(min(n, max(16, min(64, n // 64 + 1))))
        chunk_of = np.empty(n, dtype=np.int64)
        chunk_of[order] = np.arange(n, dtype=np.int64) * k_chunks // n
        row_chunk = chunk_of[e_src]
        row_order = np.argsort(row_chunk, kind="stable")
        counts = np.bincount(row_chunk, minlength=k_chunks)
        cstarts = np.concatenate([[0], np.cumsum(counts)])
        # chunk membership by slicing the permutation (chunk_of[order[t]]
        # = t*k/n is monotone in t), sorted ascending — the same array
        # flatnonzero(chunk_of == k) yields, without the O(n·k_chunks)
        # full rescans per round (r6; values bit-identical, and the
        # ascending order keeps the sigma np.add.at accumulation order —
        # and with it FP rounding — unchanged)
        ncounts = np.bincount(
            np.arange(n, dtype=np.int64) * k_chunks // n, minlength=k_chunks
        )
        nstarts = np.concatenate([[0], np.cumsum(ncounts)])
        order_np = np.asarray(order)

        moved_round = 0
        for k in range(k_chunks):
            rows = row_order[cstarts[k] : cstarts[k + 1]]
            nodes_k = np.sort(order_np[nstarts[k] : nstarts[k + 1]])
            if nodes_k.size == 0:
                continue
            if rows.size:
                cand = cluster[e_nbr[rows]]
                s_loc = e_src[rows]
                o2 = np.lexsort((cand, s_loc))
                s2, c2, w2 = s_loc[o2], cand[o2], e_w[rows][o2]
                newseg = np.empty(s2.size, dtype=bool)
                newseg[0] = True
                newseg[1:] = (s2[1:] != s2[:-1]) | (c2[1:] != c2[:-1])
                seg_starts = np.flatnonzero(newseg)
                kic = np.add.reduceat(w2, seg_starts)
                seg_src, seg_cand = s2[seg_starts], c2[seg_starts]
                sig_pair = sigma[seg_cand] - node_w[seg_src] * (
                    seg_cand == cluster[seg_src]
                )
                gain = kic - node_w[seg_src] * sig_pair * resolution2

                src_newseg = np.empty(seg_src.size, dtype=bool)
                src_newseg[0] = True
                src_newseg[1:] = seg_src[1:] != seg_src[:-1]
                src_starts = np.flatnonzero(src_newseg)
                gmax = np.maximum.reduceat(gain, src_starts)
                seg_of = np.cumsum(src_newseg) - 1
                is_max = gain == gmax[seg_of]
                first_max = np.minimum.reduceat(
                    np.where(is_max, np.arange(gain.size), gain.size), src_starts
                )
                with_rows = seg_src[src_starts]
                new_c_rows = np.where(
                    gmax > 0.0, seg_cand[first_max], n + with_rows
                )
            else:
                with_rows = np.empty(0, dtype=np.int64)
                new_c_rows = np.empty(0, dtype=np.int64)

            norow = nodes_k[~np.isin(nodes_k, with_rows)]
            movers = np.concatenate([with_rows, norow])
            new_c = np.concatenate([new_c_rows, n + norow])

            changed = new_c != cluster[movers]
            moved_round += int(changed.sum())
            np.subtract.at(sigma, cluster[movers], node_w[movers])
            np.add.at(sigma, new_c, node_w[movers])
            cluster[movers] = new_c
        if moved_round == 0:
            break
        q = q_of(cluster)
        if q > best_q + 1e-12:
            best_q = q
            best_cluster = cluster.copy()
            update = True
    cluster[:] = best_cluster  # reject oscillating tails, keep best-Q state
    compactify(cluster)
    return update


# --------------------------------------------- subnetworks & reduction


def _cluster_slices(cluster: np.ndarray, n_clusters: int):
    """Nodes grouped by cluster: returns (nodes_sorted, starts) where
    nodes_sorted[starts[c]:starts[c+1]] are cluster c's members,
    ascending."""
    order = np.argsort(cluster, kind="stable")
    starts = np.zeros(n_clusters + 1, dtype=np.int64)
    starts[1:] = np.cumsum(np.bincount(cluster, minlength=n_clusters))
    return order, starts


def _intra_edges_by_cluster(
    indptr, nbr, wgt, cluster, n_clusters
):
    """All intra-cluster directed pairs, sorted by cluster. Returns
    (e_src, e_dst, e_w, estarts) with estarts slicing per cluster."""
    n = indptr.size - 1
    e_src = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    mask = cluster[e_src] == cluster[nbr]
    s, d, w = e_src[mask], nbr[mask], wgt[mask]
    c = cluster[s]
    order = np.argsort(c, kind="stable")
    s, d, w, c = s[order], d[order], w[order], c[order]
    estarts = np.zeros(n_clusters + 1, dtype=np.int64)
    estarts[1:] = np.cumsum(np.bincount(c, minlength=n_clusters))
    return s, d, w, estarts


def supergraph_entries(cs, cd, w, k):
    """The super-graph's entries over `k` clusters, from entries whose
    endpoints lie in clusters `cs` → `cd` with weights `w`: intra-cluster
    entries dropped, the rest summed per (cs, cd) pair in entry order.
    Returns (rs, rd, rw), sorted by (rs, rd)."""
    inter = cs != cd
    key, inv = np.unique(cs[inter].astype(np.int64) * k + cd[inter], return_inverse=True)
    return key // k, key % k, np.bincount(inv, weights=w[inter], minlength=key.size)


def _reduced_network(indptr, nbr, wgt, node_w, cluster, n_clusters):
    """Aggregate to the super-graph: inter-cluster weights summed, intra
    weight dropped; super node weights = member node-weight sums.
    Returns (r_indptr, r_nbr, r_wgt, r_node_w)."""
    n = indptr.size - 1
    e_src = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    rs, rd, rw = supergraph_entries(cluster[e_src], cluster[nbr], wgt, n_clusters)
    r_indptr, r_nbr, r_wgt = build_csr(n_clusters, rs, rd, rw)
    r_node_w = np.bincount(cluster, weights=node_w, minlength=n_clusters)
    return r_indptr, r_nbr, r_wgt, r_node_w


# ------------------------------------------------------------- SLM


def _lm_auto(indptr, nbr, wgt, node_w, cluster, resolution2, rng) -> bool:
    """Sequential LM for small graphs (reference-faithful), chunked
    vectorized LM for big ones (same Q-class; the sequential loop's
    visit count grows with sweeps to stability, the chunked kernel's
    rounds are capped at 16).  The 4096-node switch stays where it is
    even with the compiled visit loop: moving it changes labels.  Used
    by scale-mode callers (exact label parity keeps the sequential
    kernel via run_slm)."""
    if indptr.size - 1 <= 4096:
        return local_moving(indptr, nbr, wgt, node_w, cluster, resolution2, rng)
    return local_moving_chunked(indptr, nbr, wgt, node_w, cluster, resolution2, rng)


def split_community(comm, src, dst, wgt, w_src, resolution2, seed):
    """LM from singletons inside one community (SLM's subnetwork split,
    G6) — the one per-community kernel of scale mode, called by the
    ``applyInPandas`` split and by the driver-held split alike.

    Input: the community label `comm` (it keys the RNG) and its intra
    entries as parallel arrays — `src`, `dst` vertex ids, weight `wgt`,
    and `w_src` the node weight of each entry's src.  Returns (ids,
    sub): the sorted ids that occur in the entries and, per id, its
    subcommunity's MIN MEMBER VERTEX ID — globally unique with zero
    coordination, since communities are disjoint.  On integral weights
    the result does not depend on the entries' order."""
    ids, lsrc, ldst = dense_ids(src, dst)
    indptr, nbr, w = build_csr(len(ids), lsrc, ldst, wgt)
    # every id occurs as src (the table is symmetrized): its weight is
    # the w_src of its first entry
    node_w = np.zeros(len(ids))
    uniq_pos, first_idx = np.unique(lsrc, return_index=True)
    node_w[uniq_pos] = np.asarray(w_src, dtype=np.float64)[first_idx]
    cluster = np.arange(len(ids), dtype=np.int64)
    rng = np.random.Generator(np.random.PCG64(seed ^ (int(comm) * 2_654_435_761 % (1 << 63))))
    # sequential kernel for small communities, chunked vectorized for
    # big ones (a power-law hub community can hold most of the graph)
    _lm_auto(indptr, nbr, w, node_w, cluster, resolution2, rng)
    return ids, min_member(ids, cluster)


def slm_recursive(
    indptr, nbr, wgt, node_w, cluster, resolution2, rng, fast: bool = False
) -> bool:
    """One SLM pass (recursive over aggregation levels), §1.2(4).

    a. local moving on the current network;
    b. split: per-community induced subnetwork, LM from singletons;
    c. reduced network over subcommunities, initially clustered by
       their step-a parent community;
    d. recurse; merge labels down.
    Mutates `cluster`; returns True iff anything changed.
    `fast=True` swaps the vectorized LM in above 4096 nodes (Q-class
    parity, used by the scale-mode exact finish).
    """
    n = indptr.size - 1
    if n == 1:
        return False
    lm = _lm_auto if fast else local_moving
    update = lm(indptr, nbr, wgt, node_w, cluster, resolution2, rng)
    n_clusters = int(cluster.max()) + 1 if n else 0
    if n_clusters >= n:
        return update

    nodes_sorted, starts = _cluster_slices(cluster, n_clusters)
    es, ed, ew, estarts = _intra_edges_by_cluster(indptr, nbr, wgt, cluster, n_clusters)

    glob2loc = np.empty(n, dtype=np.int64)
    new_cluster = np.empty(n, dtype=np.int64)
    n_sub = np.empty(n_clusters, dtype=np.int64)
    next_id = 0
    for c in range(n_clusters):
        members = nodes_sorted[starts[c] : starts[c + 1]]
        k = members.size
        glob2loc[members] = np.arange(k, dtype=np.int64)
        s = glob2loc[es[estarts[c] : estarts[c + 1]]]
        d = glob2loc[ed[estarts[c] : estarts[c + 1]]]
        w = ew[estarts[c] : estarts[c + 1]]
        sub_indptr, sub_nbr, sub_wgt = build_csr(k, s, d, w)
        sub_cluster = np.arange(k, dtype=np.int64)  # from singletons
        lm(
            sub_indptr, sub_nbr, sub_wgt, node_w[members], sub_cluster, resolution2, rng
        )
        kc = int(sub_cluster.max()) + 1 if k else 0
        new_cluster[members] = next_id + sub_cluster
        n_sub[c] = kc
        next_id += kc
    cluster[:] = new_cluster

    r_indptr, r_nbr, r_wgt, r_node_w = _reduced_network(
        indptr, nbr, wgt, node_w, cluster, next_id
    )
    # initial clustering of the reduced network: subcommunity → parent
    r_cluster = np.repeat(np.arange(n_clusters, dtype=np.int64), n_sub)
    update |= slm_recursive(
        r_indptr, r_nbr, r_wgt, r_node_w, r_cluster, resolution2, rng, fast=fast
    )
    cluster[:] = r_cluster[cluster]  # merge down (G9)
    compactify(cluster)
    return update


def louvain_recursive(
    indptr, nbr, wgt, node_w, cluster, resolution2, rng, refine: bool = False,
    fast: bool = False,
) -> bool:
    """Classic Louvain (§1.2(2)) / with multilevel refinement (§1.2(3)):
    LM → aggregate → recurse from singletons → merge down
    (→ optionally re-run LM at this level)."""
    n = indptr.size - 1
    if n == 1:
        return False
    lm = _lm_auto if fast else local_moving
    update = lm(indptr, nbr, wgt, node_w, cluster, resolution2, rng)
    n_clusters = int(cluster.max()) + 1 if n else 0
    if n_clusters < n:
        r_indptr, r_nbr, r_wgt, r_node_w = _reduced_network(
            indptr, nbr, wgt, node_w, cluster, n_clusters
        )
        r_cluster = np.arange(n_clusters, dtype=np.int64)
        sub_update = louvain_recursive(
            r_indptr, r_nbr, r_wgt, r_node_w, r_cluster, resolution2, rng, refine,
            fast=fast,
        )
        if sub_update:
            update = True
            cluster[:] = r_cluster[cluster]
            if refine:
                update |= lm(
                    indptr, nbr, wgt, node_w, cluster, resolution2, rng
                )
        compactify(cluster)
    return update


# ------------------------------------------------------------ quality


def q_of(intra: float, s2: float, two_m: float, gamma: float, quality: str) -> float:
    """Q from its three sums (§1.1): `intra` = Σin over all communities,
    `s2` = Σ_c Σtot(c)² (Σ_c n_c² under CPM, where node weights are 1),
    `two_m` = total weight of the symmetrized graph.  The one final
    expression every Q in the engine goes through."""
    if two_m == 0:
        return 0.0
    if quality == "cpm":
        return (intra - gamma * s2) / two_m
    return intra / two_m - gamma * s2 / (two_m * two_m)


def resolution2_of(gamma: float, quality: str, two_m: float) -> float:
    """The gain's resolution γ': γ under CPM, γ/2m otherwise (0 on an
    empty graph)."""
    if quality == "cpm":
        return gamma
    return gamma / two_m if two_m else 0.0


def quality_numpy(
    indptr,
    nbr,
    wgt,
    node_w,
    cluster,
    gamma: float = 1.0,
    quality: str = "modularity",
) -> float:
    """Q of a clustering on a CSR graph; `node_w` = weighted degrees, or
    1s under CPM."""
    n = indptr.size - 1
    e_src = np.repeat(np.arange(n, dtype=np.int64), np.diff(indptr))
    intra = float(wgt[cluster[e_src] == cluster[nbr]].sum())
    s2 = float((np.bincount(cluster, weights=node_w) ** 2).sum())
    return q_of(intra, s2, float(wgt.sum()), gamma, quality)


# --------------------------------------------------- iterated wrappers


def level_step(variant: str, fast: bool = False):
    """One hierarchy pass of `variant` ("slm" | "louvain" |
    "louvain_refine") as step(indptr, nbr, wgt, node_w, cluster,
    resolution2, rng) -> changed.  The recursive kernel is looked up
    when the step runs, so a patched module attribute is the one
    called.  `fast`: see slm_recursive."""
    if variant == "slm":
        return lambda *a: slm_recursive(*a, fast=fast)
    refine = {"louvain": False, "louvain_refine": True}[variant]
    return lambda *a: louvain_recursive(*a, refine=refine, fast=fast)


def run_slm(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    wgt: np.ndarray,
    gamma: float = 1.0,
    quality: str = "modularity",
    n_random_starts: int = 1,
    n_iterations: int = 1,
    seed: int = 0,
    variant: str = "slm",
):
    """Complete iterated SLM/Louvain on a symmetrized directed-pair edge
    list with dense node ids 0..n-1 (G13/G14).  Returns (cluster, q).

    variant: "slm" | "louvain" | "louvain_refine".
    """
    indptr, nbr, w = build_csr(n, src, dst, wgt)
    if quality == "cpm":
        node_w = np.ones(n, dtype=np.float64)
    else:
        node_w = np.zeros(n, dtype=np.float64)
        np.add.at(node_w, src, wgt)
    resolution2 = resolution2_of(gamma, quality, float(w.sum()))

    step = level_step(variant)
    best_cluster, best_q = None, -np.inf
    for start in range(max(1, n_random_starts)):
        rng = np.random.Generator(np.random.PCG64(seed + start))
        cluster = np.arange(n, dtype=np.int64)
        for _ in range(max(1, n_iterations)):
            changed = step(indptr, nbr, w, node_w, cluster, resolution2, rng)
            if not changed:
                break
        q = quality_numpy(indptr, nbr, w, node_w, cluster, gamma, quality)
        if q > best_q:
            best_q, best_cluster = q, cluster.copy()
    return best_cluster, float(best_q)
