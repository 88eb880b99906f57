"""Similarity search over embeddings(vec_id, embedding array<float>,
label): brute-force cosine top-k (baseline) and LSH-bucketed ANN
(the scale path).

Scale shapes:
- brute force: query-set ⋈ corpus cross join is O(Q·N) — only sane for
  small Q; the corpus side stays fully distributed and the per-row dot
  product is a built-in higher-order function (zip_with/aggregate),
  JVM-side, no Python.
- LSH (random hyperplanes): deterministic *integer* hyperplanes from
  (plane, dim) → bucket = sign-bit string; ANN search joins only
  matching buckets (multi-probe = exact bucket here).  Integer
  hyperplanes make the bucketing exactly reproducible in any engine
  (the DuckDB oracle computes identical buckets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_pairs(emb: DataFrame, max_id: int = 20) -> DataFrame:
    """Exact pairwise cosine similarity for vec_id < max_id (a < b):
    (a, b, cos) with cos rounded to 6 dp (cross-engine hash-stable)."""
    e = emb.where(F.col("vec_id") < max_id).select(
        F.col("vec_id").alias("a"), F.col("embedding").alias("ea")
    )
    f = emb.where(F.col("vec_id") < max_id).select(
        F.col("vec_id").alias("b"), F.col("embedding").alias("eb")
    )
    return (
        e.join(f, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(
                _dot(F.col("ea"), F.col("eb"))
                / (_norm(F.col("ea")) * _norm(F.col("eb"))),
                6,
            ).alias("cos"),
        )
    )


def cosine_topk(emb: DataFrame, queries: DataFrame | None = None, k: int = 10,
                n_queries: int = 5) -> DataFrame:
    """Brute-force cosine top-k: for each query vector, the k nearest
    corpus vectors (excluding itself).  (query_id, vec_id, cos, rank);
    rank ties broken by vec_id — fully deterministic."""
    if queries is None:
        queries = emb.where(F.col("vec_id") < n_queries)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.select("vec_id", F.col("embedding").alias("ce"))
    scored = (
        q.join(c, F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("qe"), F.col("ce"))
                / (_norm(F.col("qe")) * _norm(F.col("ce"))),
                6,
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def lsh_buckets(emb: DataFrame, n_planes: int = 8) -> DataFrame:
    """(vec_id, bucket): sign-of-dot-product bucketing against
    `n_planes` deterministic integer hyperplanes
    w[p][d] = ((p*131 + d*197) % 7) - 3 — exactly reproducible in SQL.
    Table 0 of lsh_bucket_tables."""
    return lsh_bucket_tables(emb, 1, n_planes).select("vec_id", "bucket")


def lsh_bucket_tables(
    emb: DataFrame, n_tables: int, n_planes: int
) -> DataFrame:
    """(vec_id, table, bucket): `n_tables` independent hyperplane LSH
    tables of `n_planes` sign bits each — banded LSH, exactly the
    minhash banding shape.  Table t uses the deterministic plane family
    at global indices [t·n_planes, (t+1)·n_planes) of the integer
    construction w[p][d] = ((p*131 + d*197) % 7) - 3, each dot product
    summed in dimension order, so everything stays engine-reproducible.
    """
    def plane_bit(gp: int, p: int):
        dot = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.sequence(F.lit(0), F.size("embedding") - 1),
                lambda x, d: x.cast("double")
                * ((F.lit(gp * 131) + d * 197) % 7 - 3).cast("double"),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))

    tables = []
    for t in range(n_tables):
        bucket = plane_bit(t * n_planes, 0)
        for p in range(1, n_planes):
            bucket = bucket + plane_bit(t * n_planes + p, p)
        tables.append(F.struct(F.lit(t).alias("table"), bucket.cast("long").alias("bucket")))
    return emb.select(
        "vec_id", F.explode(F.array(*tables)).alias("tb")
    ).select("vec_id", "tb.table", "tb.bucket")


def ann_topk(emb: DataFrame, k: int = 10, n_planes: int | None = None,
             n_queries: int = 5, n_tables: int = 8,
             target_bucket: int = 256, corpus_n: int | None = None) -> DataFrame:
    """Banded multi-table hyperplane-LSH approximate top-k: a corpus
    vector is a candidate for a query iff they share the bucket of ANY
    of the `n_tables` independent tables; exact cosine ranks the
    candidate set.  Same output shape as cosine_topk (rank may hold
    fewer than k rows per query).

    `n_planes` (bits per table) defaults to ceil(log2(N /
    target_bucket)), so the expected bucket size stays ~`target_bucket`
    at ANY corpus scale — at 10^12 docs that is ~32 planes, not a
    near-cross-join; recall is bought with `n_tables` (union of
    probes), the standard banding trade (Indyk–Motwani / Manku et
    al.).  Pass `corpus_n` (a known/cached corpus size) to avoid the
    sizing count job, or pin `n_planes` directly.  Candidate
    generation is per-(table, bucket) equi-joins — never all-pairs;
    the union dedups on (query_id, vec_id) before the exact rank."""
    if n_planes is None:
        import math

        n = corpus_n if corpus_n is not None else emb.count()
        n_planes = max(
            2, min(30, math.ceil(math.log2(max(2.0, n / max(1, target_bucket)))))
        )
    b = lsh_bucket_tables(emb, n_tables, n_planes)
    q = (
        emb.where(F.col("vec_id") < n_queries)
        .join(b, "vec_id")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            "table",
            "bucket",
        )
    )
    c = b.select("vec_id", "table", "bucket")
    cand = (
        q.join(c, ["table", "bucket"])
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", "qe", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.join(emb.select("vec_id", F.col("embedding").alias("ce")), "vec_id").select(
        "query_id",
        "vec_id",
        F.round(
            _dot(F.col("qe"), F.col("ce")) / (_norm(F.col("qe")) * _norm(F.col("ce"))),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )
