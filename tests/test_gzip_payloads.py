"""Transparent gzip payload handling: Common-Crawl-style corpora ship
WARC payloads gzip-compressed; extraction (and therefore the whole
crawl) must produce byte-identical results on a gzipped corpus."""

import gzip
import os

from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from crawlspark.plans.epoch import CrawlConfig, catalog_crawl, web_crawl
from crawlspark.plans.state import CrawlState
from crawlspark.sources.tables import EpochTable


@F.udf(BinaryType())
def _gzip_udf(b):
    return None if b is None else gzip.compress(bytes(b), compresslevel=1, mtime=0)


def test_extract_udfs_gunzip_transparently(spark):
    from crawlspark.functions.extract import extract_page_udf

    html = b'<html><p>hello world</p><a href="https://h/x">x</a></html>'
    corrupt = b"\x1f\x8b\x00broken-not-really-gzip"
    df = spark.createDataFrame(
        [(1, html), (2, gzip.compress(html)), (3, None), (4, corrupt)],
        ["id", "html"],
    )
    out = {r["id"]: r["page"] for r in
           df.select("id", extract_page_udf("html").alias("page")).collect()}
    assert out[1]["text"] == out[2]["text"] == "hello world"
    assert out[1]["links"] == out[2]["links"] == ["https://h/x"]
    assert out[3]["text"] is None and out[3]["links"] == []
    # corrupt gzip magic degrades to pass-through (no <p> → empty), never a task error
    assert out[4]["text"] == "" and out[4]["links"] == []


def test_crawl_on_gzipped_corpus_is_byte_identical(
    spark, corpus_dir, crawl_run, tmp_path, monkeypatch
):
    """Full engine run over the same corpus with every html payload
    gzipped: identical visited set, order, and extracted text. The plain
    crawl never leaves the expression extraction; the gzipped one falls
    back to the Python UDF, re-staging only its first epoch."""
    plain_state, plain_stats = crawl_run
    assert all(s["python_fallback_rows"] == 0 for s in plain_stats)
    writes = []
    split = EpochTable.write_epoch_split

    def counting_split(self, other, combined, epoch, *a, **kw):
        writes.append(epoch)
        return split(self, other, combined, epoch, *a, **kw)

    monkeypatch.setattr(EpochTable, "write_epoch_split", counting_split)
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    gz_pages = pages.withColumn("html", _gzip_udf("html"))
    seeds = spark.read.parquet(os.path.join(corpus_dir, "seeds.parquet"))
    robots = spark.read.parquet(os.path.join(corpus_dir, "robots.parquet"))
    budgets = spark.read.parquet(os.path.join(corpus_dir, "host_budgets.parquet"))
    gz_state = str(tmp_path / "gz_state")
    gz_stats = web_crawl(
        spark, gz_pages, gz_state, seeds, robots=robots, host_budgets=budgets,
        config=CrawlConfig(default_budget=8, max_epochs=20),
    )
    assert gz_stats[0]["python_fallback_rows"] > 0
    assert sum(s["python_fallback_rows"] for s in gz_stats) == sum(
        s["urls_fetched"] for s in gz_stats
    )
    # one extra staging pass for the state dir, not one per epoch
    assert writes[:2] == [0, 0] and sorted(set(writes)) == writes[1:]

    def trace(state_dir):
        return [
            (r["epoch"], r["url"], r["text"], r["status"])
            for r in CrawlState(state_dir).fetched.read(spark)
            .orderBy("epoch", "priority", "discovery_ts", "url")
            .select("epoch", "url", "text", "status").collect()
        ]

    assert trace(gz_state) == trace(plain_state)


def test_catalog_on_gzipped_pages_is_byte_identical(spark, corpus_dir, tmp_path):
    """catalog_crawl stages an increment with the text expression and
    redoes it with the Python UDF when the payloads are gzipped."""
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    index = spark.read.parquet(os.path.join(corpus_dir, "index.parquet"))
    texts = {}
    for name, src in (("plain", pages), ("gz", pages.withColumn("html", _gzip_udf("html")))):
        state_dir = str(tmp_path / name)
        res = catalog_crawl(spark, src, index, state_dir, depth="leaf")
        assert res["leaves"] > 0
        (stats,) = CrawlState(state_dir).epoch_stats()
        assert (stats["python_fallback_rows"] > 0) == (name == "gz")
        texts[name] = sorted(
            (r["url"], r["text"]) for r in CrawlState(state_dir).fetched.read(spark).collect()
        )
    assert texts["gz"] == texts["plain"]
