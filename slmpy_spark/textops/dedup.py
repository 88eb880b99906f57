"""Deduplication over documents: exact (content hash), MinHash+LSH
near-dup candidates, SimHash, exact n-gram Jaccard verification.

Scale shapes (the 100 TB story):
- exact: one groupBy on md5(text) — single shuffle, min(doc_id) is the
  canonical representative.
- MinHash+LSH: shingle → k minhashes → band buckets → candidate pairs
  via per-bucket self-join; verification (true Jaccard) runs only on
  candidates.  Banding keeps the self-join per-bucket tiny; a global
  all-pairs join never happens.
- SimHash: 64-bit signature per doc computed entirely JVM-side
  (xxhash64 per token + 64 bit-plane majority sums, map-side partial
  combine — zero Python); near-dups = signatures at small Hamming
  distance, bucketed by 16-bit blocks (Charikar / Manku et al.
  WWW'07 scheme).
- exact Jaccard (`ngram_jaccard_pairs`): token-set self-join — the
  verify stage; also the small-scale oracle for LSH recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from slmpy_spark.util import Frames, materialize

# Mersenne prime 2^31-1 for minhash permutations: keeps every product
# a_i * hx + b_i under 2^38, far from int64 overflow (Spark 4 runs
# ANSI mode — overflow is an error, not a wrap)
_MERSENNE = (1 << 31) - 1


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """(doc_id, canonical_id, group_size): canonical = min doc_id with
    byte-identical text; group_size = #docs sharing the text."""
    h = docs.select("doc_id", F.md5("text").alias("h"))
    g = h.groupBy("h").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("group_size")
    )
    return h.join(g, "h").select("doc_id", "canonical_id", "group_size")


def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle)."""
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("ts"),
    )
    if n == 1:
        sh = toks.select("doc_id", F.explode("ts").alias("shingle"))
    else:
        # concat token windows [i, i+n) with '\x1f' separators
        sh = toks.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.size("ts") - n, F.lit(0)),
                    ),
                    lambda i: F.concat_ws(
                        "\x1f", F.slice("ts", i + 1, n)
                    ),
                )
            ).alias("shingle"),
        ).where(F.length("shingle") > 0)
    return sh.distinct()


def minhash_signatures(
    docs: DataFrame, k: int = 32, shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig array<long>): k minhash values over word-shingle
    sets.  h_i(x) = (a_i * xxhash64(x) + b_i) mod M with deterministic
    (a_i, b_i); min per doc per i — all built-in expressions
    (explode + groupBy(min)), no Python.

    `shingles`: optional precomputed `_shingles(docs, shingle_n)` frame
    (e.g. persisted and shared with a verify stage — see
    `verified_pairs`); `shingle_n` is ignored when given."""
    sh = (
        shingles if shingles is not None else _shingles(docs, shingle_n)
    ).select(
        "doc_id", F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE)).alias("hx")
    )
    mins = [
        F.min(
            F.pmod(
                F.col("hx") * F.lit(2 * i + 1) + F.lit((i * 0x9E3779B9) % _MERSENNE),
                F.lit(_MERSENNE),
            )
        ).alias(f"m{i}")
        for i in range(k)
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig")
    )


def lsh_candidates(
    docs: DataFrame, k: int = 32, bands: int = 8, shingle_n: int = 3,
    max_bucket: int | None = 10_000, stats: dict | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (a, b) a<b via banded MinHash-LSH:
    docs sharing any band of k/bands consecutive minhashes collide.

    `max_bucket` drops degenerate buckets before the per-bucket
    self-join: a bucket of B docs emits O(B²) pairs, so one pathological
    band value (e.g. millions of empty/boilerplate documents sharing a
    signature) would otherwise quadratically explode a 10^12-doc run.
    Docs in a dropped bucket still pair through their other bands;
    truly identical texts belong to `exact_duplicates` anyway.
    Pass ``max_bucket=None`` to disable the cap (full recall,
    quadratic risk), or a ``stats`` dict to get the no-silent-caps
    signal: it is filled with ``dropped_buckets`` / ``dropped_rows``
    (the bucket-count table is persisted and shared between the stats
    action and the main query — requesting stats does not recompute the
    signature pipeline), so dedup pipelines can detect recall loss on
    pathological corpora."""
    rows_per_band = k // bands
    sig = minhash_signatures(docs, k=k, shingle_n=shingle_n, shingles=shingles)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col("sig")[i].cast("string")
                                    for i in range(
                                        b * rows_per_band, (b + 1) * rows_per_band
                                    )
                                ],
                            )
                        ).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    banded = _capped_buckets(banded, ["band", "bh"], max_bucket, stats)
    l = banded.select(F.col("doc_id").alias("a"), "band", "bh")
    r = banded.select(F.col("doc_id").alias("b"), "band", "bh")
    return (
        l.join(r, ["band", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, shingle_n: int = 3,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-shingle Jaccard similarity pairs (a, b, jaccard ≥
    threshold, a<b).  With `candidates` (e.g. from lsh_candidates) the
    intersection is DRIVEN FROM the candidate pairs — the verify stage;
    without, it's the exact small-scale oracle (all co-shingled pairs).
    `shingles` shares a precomputed shingle frame (see verified_pairs).

    Precondition on `candidates`: each pair is oriented a < b.  Rows with
    a ≥ b are dropped, not flipped, and repeated (a, b) rows count once
    (each copy would otherwise add its shingle matches to the pair's
    intersection again).

    Verify-mode join order (r6): the r5 layout ran the full shingle
    self-join first and only then semi-joined the aggregated pairs down
    to the candidates — Spark pushes the semi-join below the aggregate
    but NOT below the self-join, so one shingle shared by B documents
    still emitted O(B²) intermediate rows (the exact quadratic blowup
    lsh_candidates' max_bucket cap exists to prevent; a boilerplate
    trigram at 10^12 docs kills the stage).  Now the join chain is
    candidates ⋈ shingles(a) ⋈ shingles(b, shingle) — every
    intermediate is bounded by |candidates| × shingles-per-doc, no
    matter how hot any single shingle is.  Per-pair intersection counts
    (and hence jaccard) are identical: shingles are distinct per doc,
    so each (a, b, shingle) row left-semi-matches the b side at most
    once.
    """
    sh = shingles if shingles is not None else _shingles(docs, shingle_n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    if candidates is not None:
        inter = (
            candidates.select("a", "b")
            .where(F.col("a") < F.col("b"))
            .distinct()
            .join(sh.select(F.col("doc_id").alias("a"), "shingle"), "a")
            .join(
                sh.select(F.col("doc_id").alias("b"), "shingle"),
                ["b", "shingle"],
                "left_semi",
            )
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        l = sh.select(F.col("doc_id").alias("a"), "shingle")
        r = sh.select(F.col("doc_id").alias("b"), "shingle")
        inter = (
            l.join(r, "shingle")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("szb"))
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def verified_pairs(
    docs: DataFrame, threshold: float = 0.5, k: int = 32, bands: int = 8,
    shingle_n: int = 3, max_bucket: int | None = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """The composed 100 TB dedup path, end-to-end and FUSED:
    MinHash-LSH candidate pairs → exact Jaccard verify restricted to
    them — sharing ONE shingle computation between the two stages.

    Calling ``lsh_candidates`` and ``ngram_jaccard_pairs`` separately
    re-reads and re-shingles the corpus twice (fine at sf0.01; at
    100 TB the shingle explode is the dominant scan).  Here the shingle
    frame is persisted once, the candidate set is pinned via
    ``materialize`` (its minhash/banding lineage would otherwise be
    recomputed per consuming stage), and the verify runs from the same
    shingle cache.  The result is returned MATERIALIZED (it is
    pair-sized — tiny relative to the corpus) so every intermediate can
    be freed deterministically before returning; per
    ``util.materialize``, derived frames are pinned before parents are
    unpersisted."""
    frames = Frames()
    sh = frames.own(_shingles(docs, shingle_n).persist())
    cand = frames.own(materialize(
        lsh_candidates(
            docs, k=k, bands=bands, max_bucket=max_bucket, stats=stats,
            shingles=sh,
        )
    ))
    out = materialize(
        ngram_jaccard_pairs(
            docs, threshold=threshold, candidates=cand, shingles=sh
        )
    )
    frames.retain()
    return out


def _capped_buckets(
    rows: DataFrame, keys: list, max_bucket: int | None, stats: dict | None
) -> DataFrame:
    """`rows` semi-joined to the buckets (grouped by `keys`) that can
    pair: more than one row and, unless `max_bucket` is None, at most
    `max_bucket` rows.

    No-silent-caps signal: a `stats` dict is filled with the
    buckets/rows the cap drops (0/0 when the cap is disabled), so
    recall loss is detectable.  The stats action would otherwise
    recompute the whole signature/banding pipeline a second time, so
    the bucket-count table is persisted first, the action populates the
    cache, the (much smaller) surviving-bucket list is pinned from it,
    and the full table is freed before returning — explicit, not left
    to ContextCleaner LRU.  Without `stats`: no extra job, no cache."""
    counts = rows.groupBy(*keys).agg(F.count("*").alias("n"))
    keep = F.col("n") > 1
    if max_bucket is not None:
        keep = keep & (F.col("n") <= max_bucket)
    if stats is None or max_bucket is None:
        if stats is not None:  # cap disabled: nothing can be dropped
            stats.update(dropped_buckets=0, dropped_rows=0)
        return rows.join(counts.where(keep).select(*keys), keys, "left_semi")
    counts = counts.persist()
    r = (
        counts.where(F.col("n") > max_bucket)
        .agg(F.count("*").alias("b"), F.coalesce(F.sum("n"), F.lit(0)).alias("r"))
        .first()
    )
    stats.update(dropped_buckets=int(r["b"] or 0), dropped_rows=int(r["r"] or 0))
    ok = materialize(counts.where(keep).select(*keys))
    counts.unpersist()
    return rows.join(ok, keys, "left_semi")


# ------------------------------------------------------------ simhash


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash long): 64-bit Charikar simhash over whitespace
    tokens (multiset semantics — repeated tokens vote repeatedly).

    Fully JVM-side: explode tokens, xxhash64 each token, then 64
    bit-plane majority votes as ordinary sum aggregations (map-side
    partial combine — a 10^6-token doc contributes 64 partial counters
    per input partition, never a per-row Python call).  Bit b of the
    signature is 1 iff more than half the token hashes have bit b set;
    the signature is assembled with shiftleft/bitwiseOR (bit 63 via
    shiftleft stays a bitwise op — no ANSI overflow).  Token-less docs
    get signature 0."""
    toks = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("tok"),
    )
    th = toks.select("doc_id", F.xxhash64("tok").alias("th"))
    # arithmetic shiftright sign-fills only ABOVE bit 0 — (x >> b) & 1
    # still extracts bit b exactly for every b in [0, 63]
    ones = [
        F.sum(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1))).alias(f"o{b}")
        for b in range(64)
    ]
    agg = th.groupBy("doc_id").agg(F.count("*").alias("n"), *ones)
    sig = F.lit(0).cast("long")
    for b in range(64):
        sig = sig.bitwiseOR(
            F.when(
                F.col(f"o{b}") * 2 > F.col("n"),
                F.shiftleft(F.lit(1).cast("long"), b),
            ).otherwise(F.lit(0).cast("long"))
        )
    with_sig = agg.select("doc_id", sig.alias("simhash"))
    return (
        docs.select("doc_id")
        .join(with_sig, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("simhash"), F.lit(0)).alias("simhash"))
    )


def simhash_candidates(
    docs: DataFrame, max_hamming: int = 3, max_bucket: int | None = 10_000,
    stats: dict | None = None,
) -> DataFrame:
    """Near-dup pairs by simhash: bucket on each of the four 16-bit
    blocks (any pair within Hamming distance ≤ 3 of 64 bits shares at
    least one identical block by pigeonhole when distance < 4), then
    verify Hamming distance exactly. Returns (a, b, hamming).

    `max_bucket` bounds the per-block self-join like lsh_candidates —
    a 16-bit block value shared by B docs emits O(B²) verify pairs.
    ``max_bucket=None`` disables the cap; a ``stats`` dict opts into
    the dropped-bucket signal (see lsh_candidates) — note a
    homogeneous >max_bucket near-dup cluster can saturate all four
    blocks and lose pairs entirely, which is exactly what the signal
    is for."""
    blocks = simhash_signatures(docs).select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("blk"),
                        F.shiftright("simhash", 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bv"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.blk", "bb.bv")
    blocks = _capped_buckets(blocks, ["blk", "bv"], max_bucket, stats)
    l = blocks.select(
        F.col("doc_id").alias("a"), F.col("simhash").alias("sa"), "blk", "bv"
    )
    r = blocks.select(
        F.col("doc_id").alias("b"), F.col("simhash").alias("sb"), "blk", "bv"
    )
    pairs = (
        l.join(r, ["blk", "bv"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", "sa", "sb")
        .distinct()
    )
    ham = pairs.select(
        "a", "b", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).alias("hamming")
    )
    return ham.where(F.col("hamming") <= max_hamming)
