"""Corpus generator invariants: schema, determinism, extraction parity."""

import pyspark.sql.types as T
from pyspark.sql import functions as F

from crawlspark.functions.extract import extract_links, extract_text_udf
from crawlspark.functions.urls import is_valid_http_url
from crawlspark.testdata import build_pages, pages_only


def test_pages_schema_matches_input_hint(spark):
    df = pages_only(build_pages(spark, 50, n_hosts=5))
    assert [(f.name, type(f.dataType)) for f in df.schema.fields] == [
        ("url", T.StringType),
        ("warc_ts", T.TimestampType),
        ("html", T.BinaryType),
        ("text", T.StringType),
        ("lang", T.StringType),
    ]


def test_generation_is_deterministic(spark):
    a = sorted(pages_only(build_pages(spark, 80, n_hosts=7)).collect())
    b = sorted(pages_only(build_pages(spark, 80, n_hosts=7)).collect())
    assert a == b


def test_extraction_reproduces_text_byte_identically(spark):
    """The BASELINE.json per-row invariant: extracted text == corpus text."""
    df = pages_only(build_pages(spark, 200, n_hosts=8))
    mismatches = (
        df.withColumn("extracted", extract_text_udf(F.col("html")))
        .where(F.col("extracted") != F.col("text"))
        .count()
    )
    assert mismatches == 0


def test_links_are_valid_corpus_urls(spark):
    full = build_pages(spark, 120, n_hosts=6)
    urls = {r["url"] for r in full.select("url").collect()}
    links = (
        pages_only(full)
        .select(F.explode(extract_links(F.col("html"))).alias("link"))
        .collect()
    )
    assert len(links) > 0
    assert all(r["link"] in urls for r in links)


def test_all_urls_valid_and_hosts_skewed(spark):
    full = build_pages(spark, 500, n_hosts=10)
    df = pages_only(full)
    assert df.where(~is_valid_http_url(F.col("url"))).count() == 0
    by_host = (
        df.groupBy(F.regexp_extract("url", r"https://([^/]+)/", 1).alias("h"))
        .count()
        .collect()
    )
    counts = sorted((r["count"] for r in by_host), reverse=True)
    # Zipf-ish skew: the hottest host dominates (exercises the salted top-K)
    assert counts[0] > 3 * counts[-1]
