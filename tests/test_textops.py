"""Textops tests: token stats, quality, lang-id, dedup (exact/minhash/
simhash/jaccard), similarity search, multimodal plumbing — vs hand
oracles on planted fixtures."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from slmpy_spark.textops import analysis, dedup, multimodal, similarity

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in enumerate(rows)], DOCS_SCHEMA
    )


BASE = "the quick brown fox jumps over the lazy dog near the old river bank"
NEAR = "the quick brown fox jumps over the lazy cat near the old river bank"
OTHER = "completely different content about spark shuffles and partitions here"


def test_token_stats(spark):
    d = docs_df(spark, ["a bb  ccc", "x"])
    out = {r.doc_id: r for r in analysis.token_stats(d).collect()}
    assert out[0].n_tokens == 3
    assert out[0].n_distinct_tokens == 3
    assert out[0].avg_token_len == pytest.approx(2.0)
    assert out[1].n_tokens == 1


def test_quality_score_ranges(spark):
    d = docs_df(spark, [BASE, "1234 5678 999", ""])
    out = {r.doc_id: r for r in analysis.quality_score(d).collect()}
    assert out[0].alpha_ratio > 0.7
    assert out[0].stop_ratio == pytest.approx(3 / 14)
    assert out[1].digit_ratio > 0.7
    assert 0 <= out[0].quality <= 1


def test_lang_id(spark):
    d = docs_df(
        spark,
        [
            "the cat and the dog is in a house",
            "der hund und die katze ist nicht hier",
            "el perro y la casa que en los una",
            "zzz qqq www",
        ],
    )
    out = {r.doc_id: r.lang_pred for r in analysis.lang_id(d).collect()}
    assert out == {0: "en", 1: "de", 2: "es", 3: "und"}


def test_exact_duplicates(spark):
    d = docs_df(spark, [BASE, OTHER, BASE, BASE])
    out = {r.doc_id: (r.canonical_id, r.group_size)
           for r in dedup.exact_duplicates(d).collect()}
    assert out[0] == (0, 3) and out[2] == (0, 3) and out[3] == (0, 3)
    assert out[1] == (1, 1)


def test_jaccard_pairs_exact(spark):
    d = docs_df(spark, [BASE, NEAR, OTHER])
    out = {(r.a, r.b): r.jaccard
           for r in dedup.ngram_jaccard_pairs(d, threshold=0.0).collect()}
    assert (0, 1) in out
    assert out[(0, 1)] > 0.5          # near-dup pair is similar
    assert out.get((0, 2), 0.0) < 0.1  # unrelated pair absent or tiny
    # hand-check: shingle sets of BASE vs NEAR (3-grams of 14 tokens =
    # 12 each; 3 shingles contain the changed token position 8)
    base_sh = {tuple(BASE.split()[i:i+3]) for i in range(12)}
    near_sh = {tuple(NEAR.split()[i:i+3]) for i in range(12)}
    expected = len(base_sh & near_sh) / len(base_sh | near_sh)
    assert out[(0, 1)] == pytest.approx(expected, abs=1e-6)


def test_jaccard_pairs_duplicate_candidates_count_once(spark):
    # unigram shingle sets {a, b, c} and {a, b, d}: Jaccard 2/4 = 0.5;
    # the (0, 1) candidate row appears twice
    d = docs_df(spark, ["a b c", "a b d"])
    cand = spark.createDataFrame([(0, 1), (0, 1)], "a long, b long")
    out = dedup.ngram_jaccard_pairs(
        d, threshold=0.0, shingle_n=1, candidates=cand
    ).collect()
    assert [(r.a, r.b, r.jaccard) for r in out] == [(0, 1, 0.5)]


def test_lsh_candidates_find_near_dups(spark):
    rows = [BASE, NEAR, OTHER,
            "spark engines shuffle data across the cluster every stage",
            BASE + " extra tail words here"]
    d = docs_df(spark, rows)
    cands = {(r.a, r.b) for r in dedup.lsh_candidates(d, k=32, bands=16).collect()}
    assert (0, 1) in cands          # planted near-dup found
    assert (0, 4) in cands          # prefix-duplicate found
    assert (0, 2) not in cands      # unrelated not a candidate


def test_simhash_near_dups(spark):
    d = docs_df(spark, [BASE, NEAR, OTHER])
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(d).collect()}
    h01 = bin(sigs[0] ^ sigs[1]).count("1")
    h02 = bin(sigs[0] ^ sigs[2]).count("1")
    assert h01 < h02  # near-dup closer in Hamming space
    out = {(r.a, r.b): r.hamming
           for r in dedup.simhash_candidates(d, max_hamming=h01).collect()}
    assert (0, 1) in out and out[(0, 1)] == h01


def emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(30, 8)).astype(np.float32)
    e = emb_df(spark, vecs)
    out = similarity.cosine_topk(e, k=5, n_queries=3).collect()
    # numpy oracle
    v = vecs.astype(np.float64)
    sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    for q in range(3):
        s = np.round(sims[q].copy(), 6)
        s[q] = -np.inf
        order = sorted(range(30), key=lambda i: (-s[i], i))[:5]
        got = sorted(
            [(r.vec_id, r.rank) for r in out if r.query_id == q], key=lambda t: t[1]
        )
        assert [t[0] for t in got] == order


def test_lsh_hot_bucket_cap(spark):
    """Degenerate buckets (many docs sharing a band value) must be
    dropped before the per-bucket self-join — the O(B²) blowup guard."""
    docs = spark.createDataFrame(
        [(i, "the same text repeated here always") for i in range(50)],
        "doc_id long, text string",
    )
    out = dedup.lsh_candidates(docs, k=8, bands=4, shingle_n=1, max_bucket=10)
    assert out.count() == 0  # every bucket holds all 50 docs → capped
    out2 = dedup.lsh_candidates(docs, k=8, bands=4, shingle_n=1, max_bucket=100)
    assert out2.count() == 50 * 49 // 2
    sh = dedup.simhash_candidates(docs, max_hamming=3, max_bucket=10)
    assert sh.count() == 0


def test_ann_topk_candidates_share_a_bucket(spark):
    """Every ANN result must collide with the query in ≥1 LSH table."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype(np.float32)
    e = emb_df(spark, vecs)
    ann = similarity.ann_topk(e, k=5, n_planes=4, n_queries=2, n_tables=3).collect()
    assert len(ann) > 0
    tb = {}
    for r in similarity.lsh_bucket_tables(e, n_tables=3, n_planes=4).collect():
        tb.setdefault(r.vec_id, set()).add((r.table, r.bucket))
    for r in ann:
        assert tb[r.query_id] & tb[r.vec_id]


def test_ann_topk_recall_vs_brute_force(spark):
    """Recall@10 of the banded multi-table ANN vs exact cosine_topk
    must be ≥ 0.8 on a realistic random corpus (VERDICT r1 gate)."""
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(300, 16)).astype(np.float32)
    e = emb_df(spark, vecs).persist()
    exact = similarity.cosine_topk(e, k=10, n_queries=5).collect()
    ann = similarity.ann_topk(e, k=10, n_queries=5).collect()
    hits = total = 0
    for q in range(5):
        truth = {r.vec_id for r in exact if r.query_id == q}
        got = {r.vec_id for r in ann if r.query_id == q}
        hits += len(truth & got)
        total += len(truth)
    assert total == 50
    assert hits / total >= 0.8, f"recall {hits}/{total}"
    e.unpersist()


def test_media_features_plumbing(spark):
    rows = [
        (0, "image", bytearray(b"\x00\x01\x02" * 50), 10, 5, "{}"),
        (1, "audio", bytearray(b""), 0, 0, "{}"),
        (2, "image", bytearray(bytes(range(256))), 16, 16, "{}"),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.media_features(media).collect()}
    assert len(out[0].feat) == multimodal.FEAT_DIM
    assert out[1].n_bytes == 0 and sum(out[1].feat) == 0.0
    assert sum(out[2].feat) == pytest.approx(1.0, abs=1e-6)
    # deterministic across invocations
    out2 = {r.media_id: r.feat for r in multimodal.media_features(media).collect()}
    assert out2[2] == out[2].feat


def test_media_real_backend_raises(spark):
    rows = [(0, "image", bytearray(b"xx"), 1, 1, "{}")]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception):
        multimodal.media_features(media, backend="real").collect()
