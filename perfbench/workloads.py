"""The benchmark's workloads: seeded inputs, the operator calls of one
pass, and the reference checks run on their outputs.

Every workload is a closed loop: one client issues the operator calls of
a pass one after another, each waiting for the previous to return.
Inputs come only from the workload seed; the engine is called from
outside, through ``slmpy_spark.engine`` and the public functions of its
modules.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import numpy as np
import pandas as pd

# Seed-42 SLM Q of each workload, compared bit for bit (repr of the
# float); every other output is checked against a recomputation on
# every seed.
GOLDEN_SLM_Q = {
    "docs-suite": "0.30542442918799967",
    "powerlaw-slm-ckpt": "0.24338145032987257",
}

VOCAB = (
    "a the row key data scan sort hash join part line small big fast slow "
    "spark query group value table order filter window batch stream merge "
    "vector column agg customer index page link graph rank label node edge "
    "level sweep split"
).split()


# ------------------------------------------------------------ inputs


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """`documents(doc_id, text, lang, source, n_chars)` with dense ids,
    8..63 tokens per document drawn uniformly from VOCAB."""
    rng = np.random.Generator(np.random.PCG64(seed))
    lengths = rng.integers(8, 64, n_docs)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.where(rng.random(n_docs) < 0.5, "en", "zh"),
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n_docs),
    })


def docs_edges_reference(docs: pd.DataFrame) -> pd.DataFrame:
    """The documents → edges rule of `sources.docs`, recomputed in
    pandas: dst = (doc_id·131 + len(token)·97 + ascii(token)·1009) mod N,
    weight = token multiplicity per (src, dst), self-edges dropped."""
    n = int(docs["doc_id"].max()) + 1
    tok = docs[["doc_id", "text"]].assign(token=docs["text"].str.split(" ")).explode("token")
    tok = tok[tok["token"] != ""]
    src = tok["doc_id"].to_numpy(np.int64)
    dst = (src * 131 + tok["token"].str.len().to_numpy(np.int64) * 97
           + tok["token"].map(lambda t: ord(t[0])).to_numpy(np.int64) * 1009) % n
    e = pd.DataFrame({"src": src, "dst": dst})
    e = e[e["src"] != e["dst"]]
    e = e.groupby(["src", "dst"]).size().rename("weight").reset_index()
    e["weight"] = e["weight"].astype(np.float64)
    return e.sort_values(["src", "dst"], ignore_index=True)


def powerlaw(n: int, m_target: int, seed: int, hub_frac: float = 0.01) -> pd.DataFrame:
    """Chung–Lu power-law graph with a planted hub at node 0: distinct
    undirected pairs (src < dst), unit weights.  The algorithm of the
    test fixtures' vectorized generator, kept here so benchmark inputs
    never change with the tests."""
    rng = np.random.Generator(np.random.PCG64(seed))
    w = np.arange(1, n + 1, dtype=np.float64) ** -0.7
    cdf = np.cumsum(w / w.sum())

    def pick(k):
        return np.searchsorted(cdf, rng.random(k), side="right").astype(np.int64)

    src, dst = pick(3 * m_target), pick(3 * m_target)
    keep = src != dst
    lo, hi = np.minimum(src[keep], dst[keep]), np.maximum(src[keep], dst[keep])
    key = np.unique(lo * n + hi)[:m_target]
    hub = rng.choice(np.arange(1, n, dtype=np.int64), size=max(1, int(hub_frac * n)),
                     replace=False)
    key = np.unique(np.concatenate([key, hub]))
    return pd.DataFrame({"src": key // n, "dst": key % n,
                         "weight": np.ones(key.size, dtype=np.float64)})


# -------------------------------------------------------- references


def pagerank_reference(e: pd.DataFrame, d: float = 0.85, iters: int = 10) -> pd.Series:
    """Dense power iteration with the engine's pinned semantics: uniform
    split over distinct out-edges, dangling mass spread over all N
    vertices, r0 = 1/N, exactly `iters` iterations."""
    ids = np.unique(np.concatenate([e["src"].to_numpy(), e["dst"].to_numpy()]))
    n = ids.size
    s = np.searchsorted(ids, e["src"].to_numpy())
    t = np.searchsorted(ids, e["dst"].to_numpy())
    out_deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = out_deg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(t, weights=r[s] / out_deg[s], minlength=n)
        r = (1 - d) / n + d * (contrib + r[dangling].sum() / n)
    return pd.Series(r, index=ids)


def component_count(e: pd.DataFrame) -> int:
    """Undirected connected components, by min-label propagation with
    pointer jumping."""
    ids = np.unique(np.concatenate([e["src"].to_numpy(), e["dst"].to_numpy()]))
    s = np.searchsorted(ids, e["src"].to_numpy())
    t = np.searchsorted(ids, e["dst"].to_numpy())
    label = np.arange(ids.size)
    while True:
        prev = label.copy()
        m = np.minimum(label[s], label[t])
        np.minimum.at(label, s, m)
        np.minimum.at(label, t, m)
        label = label[label]
        if np.array_equal(label, prev):
            return int(np.unique(label).size)


def triangle_total(e: pd.DataFrame) -> int:
    """Undirected triangles, counted by DuckDB over the oriented simple
    graph (each triangle once, as lo < mid < hi)."""
    und = pd.DataFrame({
        "u": np.minimum(e["src"], e["dst"]),
        "v": np.maximum(e["src"], e["dst"]),
    })
    und = und[und["u"] != und["v"]].drop_duplicates()
    con = duckdb.connect()
    try:
        con.register("und", und)
        return int(con.execute(
            "SELECT count(*) FROM und a JOIN und b ON a.v = b.u "
            "JOIN und c ON c.u = a.u AND c.v = b.v"
        ).fetchone()[0])
    finally:
        con.close()


# ------------------------------------------------------------ passes


class Op:
    """One operator call of a pass.  `run()` returns (output, signature):
    the signature is a cheap value every pass must reproduce, and
    `check(output)` the full reference check run on the first pass."""

    def __init__(self, layer, run, check=None):
        self.layer, self.run, self.check = layer, run, check


class Workload:
    """Inputs for one seed, built by `setup()`; `ops()` lists one pass."""

    name = ""

    def __init__(self, spark, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed

    def setup(self) -> None:
        """Build the inputs from the seed."""
        raise NotImplementedError

    def teardown(self) -> None:
        """Free the inputs set up for the run."""

    def end_pass(self) -> None:
        """Free what one pass made that the next pass makes again."""

    def slm_check(self, edges, out) -> list[str]:
        from slmpy_spark import engine

        assign, q = out
        errs = []
        golden = GOLDEN_SLM_Q[self.name]
        if self.seed == 42 and repr(q) != golden:
            errs.append(f"slm Q {q!r} != golden {golden}")
        q2 = engine.modularity(edges, assign)
        if abs(q - q2) > 1e-9:
            errs.append(f"slm Q {q!r} != recomputed modularity {q2!r}")
        return errs

    def pagerank_check(self, ranks) -> list[str]:
        got = ranks.toPandas().set_index("id")["rank"].sort_index()
        ref = pagerank_reference(self.ref_edges(), iters=self.PR_ITERS)
        errs = []
        if abs(got.sum() - 1.0) > 1e-9:
            errs.append(f"pagerank ranks sum to {got.sum()!r}")
        if not got.index.equals(ref.index):
            errs.append("pagerank vertex set differs from reference")
        elif float(np.abs(got.to_numpy() - ref.to_numpy()).max()) > 1e-6:
            errs.append("pagerank differs from power iteration by > 1e-6")
        return errs

    def components_check(self, labels) -> list[str]:
        got = labels.select("component").distinct().count()
        ref = component_count(self.ref_edges())
        return [] if got == ref else [f"{got} components, reference {ref}"]

    def lpa_check(self, labels) -> list[str]:
        e = self.ref_edges()
        n = int(np.unique(np.concatenate([e["src"], e["dst"]])).size)
        got = labels.count()
        return [] if got == n else [f"lpa labels {got} rows, {n} vertices"]

    def ref_edges(self) -> pd.DataFrame:
        raise NotImplementedError


def _count(df):
    return df, df.count()


class DocsSuite(Workload):
    """Generated documents → edges, then every graph operator over the
    persisted edge table, SLM last."""

    name = "docs-suite"
    N_DOCS = 1_500
    PR_ITERS = 2
    LPA_ITERS = 1
    SLM_KW = dict(seed=42, mode="scale", exact_threshold=200_000)

    def setup(self) -> None:
        self.docs = documents(self.N_DOCS, self.seed)
        d = os.path.join(self.workdir, "docs")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.docs.to_parquet(os.path.join(d, "documents.parquet"), index=False)
        self.docs_dir = d
        self.edges = None
        self._ref_edges = None

    def ref_edges(self) -> pd.DataFrame:
        if self._ref_edges is None:
            self._ref_edges = docs_edges_reference(self.docs)
        return self._ref_edges

    def ops(self):
        from slmpy_spark import engine
        from slmpy_spark.sources.docs import documents_to_edges

        def docs_to_edges():
            self.edges = documents_to_edges(self.spark, self.docs_dir).persist()
            return self.edges, self.edges.count()

        def edges_check(e):
            got = e.toPandas().sort_values(["src", "dst"], ignore_index=True)
            ok = got[["src", "dst", "weight"]].equals(self.ref_edges())
            return [] if ok else ["documents_to_edges differs from the reference rule"]

        def triangles():
            total, _ = engine.triangle_count(self.edges)
            return total, total

        def tri_check(total):
            ref = triangle_total(self.ref_edges())
            return [] if total == ref else [f"{total} triangles, reference {ref}"]

        def slm():
            assign, q = engine.slm(self.edges, **self.SLM_KW)
            return (assign, q), q

        return [
            Op("sources.docs", docs_to_edges, edges_check),
            Op("graph.edges",
               lambda: _count(engine.degrees(engine.symmetrize(self.edges)))),
            Op("graph.pagerank",
               lambda: _count(engine.pagerank(self.edges, tol=0.0, max_iter=self.PR_ITERS)),
               self.pagerank_check),
            Op("graph.components",
               lambda: _count(engine.connected_components(self.edges)),
               self.components_check),
            Op("graph.labelprop",
               lambda: _count(engine.label_propagation(self.edges, max_iter=self.LPA_ITERS)),
               self.lpa_check),
            Op("graph.triangles", triangles, tri_check),
            Op("graph.slm", slm, lambda out: self.slm_check(self.edges, out)),
        ]

    def end_pass(self) -> None:
        if self.edges is not None:
            self.edges.unpersist()
            self.edges = None


class PowerlawCkpt(Workload):
    """A Chung–Lu graph: SLM with level 0 on the shuffle-join sweep and
    the applyInPandas split, then label propagation snapshotting every
    superstep through a parquet Checkpointer."""

    name = "powerlaw-slm-ckpt"
    N, M = 8_000, 32_000
    LPA_ITERS = 2
    SLM_KW = dict(seed=42, mode="scale", max_sweeps=1, exact_threshold=60_000,
                  broadcast_threshold=2_000)

    def setup(self) -> None:
        self.pdf = powerlaw(self.N, self.M, self.seed)
        self.edges = self.spark.createDataFrame(self.pdf).persist()
        self.edges.count()
        self.ckpt_root = os.path.join(self.workdir, "ckpt")

    def teardown(self) -> None:
        self.edges.unpersist()

    def ref_edges(self) -> pd.DataFrame:
        return self.pdf

    def checkpointer(self):
        from slmpy_spark.checkpoint import Checkpointer

        shutil.rmtree(self.ckpt_root, ignore_errors=True)
        return Checkpointer(self.spark, self.ckpt_root)

    def ops(self):
        from slmpy_spark import engine

        def slm():
            assign, q = engine.slm(self.edges, **self.SLM_KW)
            return (assign, q), q

        return [
            Op("graph.slm", slm, lambda out: self.slm_check(self.edges, out)),
            Op("graph.labelprop",
               lambda: _count(engine.label_propagation(
                   self.edges, max_iter=self.LPA_ITERS, checkpointer=self.checkpointer())),
               self.lpa_check),
        ]

    def end_pass(self) -> None:
        shutil.rmtree(self.ckpt_root, ignore_errors=True)


WORKLOADS = {w.name: w for w in (DocsSuite, PowerlawCkpt)}
