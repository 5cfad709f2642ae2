"""Crawl state: fetched / frontier / lineage tables + watermark cursors.

Replaces the reference's cursor files ({catalogDir}/.meta/cursor.*.json,
Cursor.cs:19-42) with per-consumer watermarks in the atomic commit log,
and its implicit "what's on disk" seen-set with an explicit ``fetched``
table. ``crawl_state`` keeps per-partition lineage + fetch metrics rows
(north_star: "checkpoints to Iceberg tables with per-partition lineage
and fetch/parse metrics").

Consumers are namespaced like the reference's ``download.{depth}`` /
``report.{name}`` cursors (O30) so independent incremental consumers can
walk the same pages log at their own pace.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from crawlspark.sources.tables import CommitLog, EpochTable

FETCHED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("priority", T.IntegerType()),
    T.StructField("discovery_ts", T.TimestampType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("status", T.StringType()),      # 'ok' | 'failed' (final outcomes only)
    T.StructField("attempts", T.IntegerType()),   # fetch attempts consumed (retry, O1)
    T.StructField("content_bytes", T.LongType()),
    # inline text-analysis columns (populated when CrawlConfig.analyze)
    T.StructField("n_tokens", T.LongType()),
    T.StructField("simhash", T.LongType()),
    T.StructField("quality_micro", T.LongType()),
])

# No ``host`` column: host is a pure function of url (regexp_extract,
# functions/urls.py) and the crawl is memory-bandwidth-bound, so the
# frontier carries the minimum row — host is re-derived AFTER the
# dequeue read / dedup shuffle, trading register-bound compute for
# bytes through every frontier shuffle, parquet encode, and read, which
# scale worse with cores.
FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("priority", T.IntegerType()),
    T.StructField("discovery_ts", T.TimestampType()),
    T.StructField("attempts", T.IntegerType()),   # failed fetch attempts so far
])

# Adaptive-backoff state (CrawlConfig.adaptive_backoff): one row per
# currently-unhealthy host — hosts that recover are dropped, so the
# table is proportional to failing hosts, not the frontier.
BACKOFF_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("consec_fails", T.IntegerType()),
])

LINEAGE_SCHEMA = T.StructType([
    T.StructField("consumer", T.StringType()),
    T.StructField("partition_id", T.IntegerType()),
    T.StructField("cursor_ts", T.TimestampType()),
    T.StructField("urls_fetched", T.LongType()),
    T.StructField("urls_failed", T.LongType()),
    T.StructField("bytes", T.LongType()),         # parquet bytes written for the partition
])


class CrawlState:
    def __init__(self, root: str):
        self.root = root
        self.log = CommitLog(root)
        self.fetched = EpochTable(root, "fetched", FETCHED_SCHEMA, self.log)
        self.frontier = EpochTable(root, "frontier", FRONTIER_SCHEMA, self.log)
        self.lineage = EpochTable(root, "crawl_state", LINEAGE_SCHEMA, self.log)
        self.backoff = EpochTable(root, "backoff", BACKOFF_SCHEMA, self.log)

    # -- watermark cursors (per consumer, O29/O30) ---------------------
    def cursor(
        self, consumer: str = "download", default: dt.datetime | None = None
    ) -> dt.datetime:
        return self.log.cursor(consumer, default)

    def next_epoch(self) -> int:
        last = self.log.last_epoch()
        return 0 if last is None else last + 1

    def commit_epoch(
        self,
        epoch: int,
        *,
        cursors: dict[str, dt.datetime] | None = None,
        stats: dict | None = None,
    ) -> None:
        meta = dict(stats or {})
        if cursors:
            meta["cursors"] = {k: v.isoformat() for k, v in cursors.items()}
        self.log.commit(epoch, meta)

    # -- convenience reads ---------------------------------------------
    def seen_urls(self, spark: SparkSession) -> DataFrame:
        return self.fetched.read(spark).select("url")

    def epoch_stats(self) -> list[dict]:
        state = self.log.read()
        return [
            {"epoch": e, **state.get("meta", {}).get(str(e), {})}
            for e in state["epochs"]
        ]
