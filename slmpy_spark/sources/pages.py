"""Pages table (input_hint shape) → edge table (SURVEY.md S2–S5).

pages(url string, warc_ts timestamp, html binary, text string,
lang string)  →  edges(src long, dst long, weight double)

Pipeline (Arrow-batched mapInPandas for the two extraction kernels —
no `udf()` anywhere; text extraction is pandas-`.str` vectorized over
the whole batch, link extraction batches the regex scan but resolves /
normalizes each href in Python because RFC 3986 resolution has no
vectorized equivalent — that loop is per *href*, bounded by outlink
count, not a hidden per-row UDF):

  pages ──mapInPandas──▶ (url, link) pairs        [extract.extract_links]
        ──select url_id(url), url_id(link)──▶ JVM-side stable 62-bit ids
                                              (xxhash64 & (2^62 − 1))
        ──groupBy(src,dst).count──▶ weight = link multiplicity
        ──filter src != dst──▶ edges

Scale notes: the Iceberg/parquet scan prunes to (url, html) only —
`html` is the wide binary column and is the *only* payload the kernel
reads; everything downstream is long/double.  The groupBy is the single
shuffle.  xxhash64 is Spark's built-in (JVM codegen); masked to 62
bits, n urls hash to about n²/2^63 colliding pairs (about one at
3·10^9 urls — acceptable for link statistics; an exact-id variant can
join back through a url dimension table).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def _links_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from slmpy_spark.sources.extract import extract_links_frame

    for pdf in batches:
        yield extract_links_frame(pdf["url"], pdf["html"])


def page_links(pages: DataFrame) -> DataFrame:
    """(url, link) pairs with multiplicity — the pre-hash link table."""
    return pages.select("url", "html").mapInPandas(
        _links_batches, "url string, link string"
    )


def url_id(col: str):
    """The vertex id of a url column: xxhash64 masked to its low 62 bits,
    so ids are non-negative (scale-mode SLM requires it)."""
    return F.xxhash64(col).bitwiseAND((1 << 62) - 1)


def pages_to_edges(pages: DataFrame) -> DataFrame:
    """edges(src, dst, weight) with src/dst = url_id of normalized
    urls and weight = link multiplicity; self-edges dropped."""
    links = page_links(pages)
    return (
        links.select(url_id("url").alias("src"), url_id("link").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )


def _text_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from slmpy_spark.sources.extract import extract_text_series

    for pdf in batches:
        out = pdf[["url"]].copy()
        out["text"] = extract_text_series(pdf["html"])
        yield out


def pages_text(pages: DataFrame) -> DataFrame:
    """(url, text) via the frozen byte-deterministic extractor (S3)."""
    return pages.select("url", "html").mapInPandas(
        _text_batches, "url string, text string"
    )


def url_ids(pages: DataFrame) -> DataFrame:
    """url dimension table (id = url_id(url), the ids pages_to_edges
    emits) for joining ranks / communities back to urls."""
    return pages.select(url_id("url").alias("id"), "url").distinct()
