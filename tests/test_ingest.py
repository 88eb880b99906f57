"""Ingest byte-parity tests (SURVEY.md §6.2-4, FIXTURES.md §3): frozen
text extraction goldens, link extraction, pages→edges pipeline."""

import datetime

import pytest
from pyspark.sql import functions as F

from slmpy_spark.sources import extract
from slmpy_spark.sources.pages import (
    PAGES_SCHEMA,
    page_links,
    pages_text,
    pages_to_edges,
    url_ids,
)

# ---------------------------------------------------------- fixtures

# hand-written HTML snippets with hand-derived goldens (FIXTURES §3):
# plain text, links (absolute/relative/duplicate/self), malformed tag,
# non-ASCII é, &amp; entity, script/style stripping
PAGES = [
    {
        "url": "https://ex0.test/p0",
        "html": b"<html><body><h1>Hello &amp; welcome</h1>"
        b'<a href="https://ex1.test/p1">one</a>'
        b'<a href="/p2">two</a>'
        b'<a href="https://ex1.test/p1">one again</a>'
        b'<a href="https://ex0.test/p0">self</a>'
        b"<p>caf\xc3\xa9 time</p></body></html>",
        "text": "Hello & welcome one two one again self café time",
        "links": [
            "https://ex1.test/p1",
            "https://ex0.test/p2",
            "https://ex1.test/p1",
        ],
    },
    {
        "url": "https://ex1.test/p1",
        "html": b"<script>var x = '<a href=\"https://bad.test/\">';</script>"
        b"<style>a { color: red }</style>"
        b"<p>Body only</p><a href='https://ex0.test/p0#frag'>back</a>"
        b"<broken <tag>leftover</tag>",
        "text": "Body only back leftover",
        "links": ["https://ex0.test/p0"],
    },
    {
        "url": "https://ex2.test/p2",
        "html": b"No tags at all &#233; &#x21; &nbsp;end",
        "text": "No tags at all \xe9 ! end",
        "links": [],
    },
    {
        "url": "https://ex3.test/p3",
        "html": b'<a href="mailto:x@y.z">mail</a><a href="ftp://f.t/x">ftp</a>'
        b'<a href="HTTPS://EX0.TEST/p0">up</a>',
        "text": "mail ftp up",
        "links": ["https://ex0.test/p0"],
    },
]


def pages_df(spark):
    rows = [
        (
            p["url"],
            datetime.datetime(2026, 1, 1) + datetime.timedelta(hours=i),
            p["html"],
            "",
            ["en", "de", "es"][i % 3],
        )
        for i, p in enumerate(PAGES)
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


# ------------------------------------------------- pure-function layer


def test_extract_text_golden_bytes():
    for p in PAGES:
        got = extract.extract_text(p["html"])
        assert got.encode("utf-8") == p["text"].encode("utf-8"), p["url"]


def test_extract_text_deterministic():
    h = PAGES[0]["html"]
    assert extract.extract_text(h) == extract.extract_text(h)


def test_extract_links_golden():
    for p in PAGES:
        assert extract.extract_links(p["html"], p["url"]) == p["links"], p["url"]


def test_normalize_url():
    f = extract.normalize_url
    assert f("HTTP://Ex.COM:80/Path?q=1#frag") == "http://ex.com/Path?q=1"
    assert f("https://ex.com:443/x") == "https://ex.com/x"
    assert f("mailto:a@b.c") is None
    assert f("ftp://x.y/z") is None


# ----------------------------------------------------- Spark pipeline


def test_pages_text_spark(spark):
    out = {r.url: r.text for r in pages_text(pages_df(spark)).collect()}
    for p in PAGES:
        assert out[p["url"]] == p["text"]


def test_page_links_spark_multiplicity(spark):
    out = page_links(pages_df(spark)).collect()
    got = {}
    for r in out:
        got.setdefault(r.url, []).append(r.link)
    assert sorted(got["https://ex0.test/p0"]) == sorted(PAGES[0]["links"])


def test_pages_to_edges_golden(spark):
    pdf = pages_df(spark)
    edges = pages_to_edges(pdf)
    urls = {p["url"] for p in PAGES}
    hashes = {
        r.url: r.id
        for r in pdf.select(
            F.xxhash64("url").bitwiseAND((1 << 62) - 1).alias("id"), "url"
        ).collect()
    }
    expected = {}
    for p in PAGES:
        for link in p["links"]:
            key = (hashes[p["url"]], None if link not in hashes else hashes[link])
            # links to non-page urls still get hashed ids
    got = {(r.src, r.dst): r.weight for r in edges.collect()}
    # p0 → p1 has multiplicity 2; p0 → p2 weight 1; p1 → p0 weight 1; p3 → p0 weight 1
    h = hashes
    assert got[(h["https://ex0.test/p0"], h["https://ex1.test/p1"])] == 2.0
    assert got[(h["https://ex1.test/p1"], h["https://ex0.test/p0"])] == 1.0
    assert got[(h["https://ex3.test/p3"], h["https://ex0.test/p0"])] == 1.0
    # self-link never shows up
    assert (h["https://ex0.test/p0"], h["https://ex0.test/p0"]) not in got
    # total edge count: p0→p1(x2 → one row), p0→/p2, p1→p0, p3→p0
    assert edges.count() == 4
    # ids are the low 62 bits of xxhash64: non-negative, so scale-mode
    # SLM accepts them, and url_ids joins back on the same ids
    assert min(min(s, d) for s, d in got) >= 0
    assert set(h.values()) == {r.id for r in url_ids(pdf).collect()}
