"""Timestamps do not depend on the process time zone.

Cursors, page heads and discovery stamps are naive UTC datetimes on the
driver, and the Spark session's time zone is UTC. A crawl run in a
process whose local zone is not UTC must commit the same leaves,
cursors, report rows and discovery stamps as one run under UTC.
"""

import contextlib
import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from crawlspark.plans.epoch import CrawlConfig, catalog_crawl, web_crawl
from crawlspark.plans.reports import REPORTS, ReportStore, update_reports
from crawlspark.plans.state import CrawlState

ZONES = ("UTC", "America/New_York", "Asia/Kolkata")
BASE = dt.datetime(2024, 3, 9, 20, 0)  # crosses a UTC midnight and a US DST switch


@contextlib.contextmanager
def _process_tz(name):
    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("TZ")
        else:
            os.environ["TZ"] = old
        time.tzset()


def _catalog(tmp_path, tz):
    """32 commits 45 minutes apart, two leaves each (one of them a
    deleted page every third commit), and an index of pages of four
    commits that lags the newest commit. ``tz`` None writes naive
    timestamps (read back as TIMESTAMP_NTZ), "UTC" instant ones
    (TIMESTAMP)."""
    commits = [BASE + dt.timedelta(minutes=45 * c) for c in range(32)]
    urls, stamps = [], []
    for c, ts in enumerate(commits):
        kind = "private" if c % 3 == 0 else "page"
        urls += [f"https://h{c % 4}.example/{kind}/c{c}", f"https://h{c % 5}.example/page/d{c}"]
        stamps += [ts, ts]
    ts_type = pa.timestamp("us", tz=tz)
    pages, index = str(tmp_path / "pages.parquet"), str(tmp_path / "index.parquet")
    pq.write_table(pa.table({
        "url": urls,
        "warc_ts": pa.array(stamps, ts_type),
        "html": [f"<p>{u}</p>".encode() for u in urls],
        "lang": ["en"] * len(urls),
    }), pages)
    page_ts = commits[3:31:4]
    pq.write_table(pa.table({
        "page_no": pa.array(range(len(page_ts)), pa.int64()),
        "page_ts": pa.array(page_ts, ts_type),
    }), index)
    return pages, index


def _drain_catalog(spark, pages_path, index_path, root):
    """catalog_crawl + update_reports until drained; per call the
    fetched urls, the cursors and every report's CSV text."""
    pages, index = spark.read.parquet(pages_path), spark.read.parquet(index_path)
    state_dir, report_dir = os.path.join(root, "state"), os.path.join(root, "reports")
    calls = []
    for _ in range(20):
        res = catalog_crawl(spark, pages, index, state_dir, depth="leaf", max_commits=6)
        if res["leaves"] == 0:
            return calls
        ok = CrawlState(state_dir).fetched.read(spark)
        urls = sorted(r["url"] for r in ok.where(f"epoch = {res['run']}").collect())
        updated = update_reports(spark, ok, report_dir)
        store = ReportStore(report_dir)
        csvs = {n: open(os.path.join(report_dir, f"{n}.csv")).read() for n in REPORTS}
        calls.append((urls, res["cursor"], updated, {n: store.cursor(n) for n in REPORTS}, csvs))
    pytest.fail("the catalog never drained")


@pytest.mark.parametrize("ts_tz", [None, "UTC"], ids=["timestamp_ntz", "timestamp"])
def test_catalog_and_reports_ignore_the_process_time_zone(spark, tmp_path, ts_tz):
    pages, index = _catalog(tmp_path, ts_tz)
    runs = {}
    for zone in ZONES:
        with _process_tz(zone):
            runs[zone] = _drain_catalog(spark, pages, index, str(tmp_path / zone))
    assert sum(len(c[0]) for c in runs["UTC"]) == 2 * 28  # all advertised leaves
    for zone in ZONES[1:]:
        assert runs[zone] == runs["UTC"], zone


def test_web_crawl_discovery_ts_ignores_the_process_time_zone(spark, corpus_dir, tmp_path):
    """Epoch e's discovery_ts is 2024-01-01 00:00 UTC + e minutes."""
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(corpus_dir, "seeds.parquet"))
    seen = {}
    for zone in ZONES:
        sd = str(tmp_path / zone)
        with _process_tz(zone):
            web_crawl(spark, pages, sd, seeds, config=CrawlConfig(default_budget=4, max_epochs=1))
        state = CrawlState(sd)
        fetched = state.fetched.read(spark).select(F.unix_micros("discovery_ts")).distinct()
        frontier = state.frontier.read(spark).select(F.unix_micros("discovery_ts")).distinct()
        seen[zone] = (
            sorted(r[0] for r in fetched.collect()),
            sorted(r[0] for r in frontier.collect()),
            state.cursor("download"),
        )
    epoch0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert seen["UTC"][0] == [epoch0]
    assert seen["UTC"][1] == [epoch0, epoch0 + 60_000_000]  # leftover seeds, new links
    for zone in ZONES[1:]:
        assert seen[zone] == seen["UTC"], zone
