"""The on-disk format of the crawl state and the reports
(``sources/tables.py``): zstd everywhere and v2 data pages from Spark,
read without a Spark job, and directories of the older snappy/v1 format
(or a mix of both) still read, resume and update the same."""

import datetime as dt
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.plans.epoch import CrawlConfig, catalog_crawl, web_crawl
from crawlspark.plans.reports import REPORTS, ReportStore, update_reports
from crawlspark.plans.state import CrawlState
from crawlspark.sources import tables
from crawlspark.testdata import build_pages, pages_only, write_corpus

# a parquet PageHeader opens with field 1, the PageType, as a compact-thrift
# i32 (0x15) whose zigzag varint is 0 for DATA_PAGE and 6 for DATA_PAGE_V2
_PAGE_VERSION = {0x00: 1, 0x06: 2}


def _parquet_files(root: str) -> list[str]:
    return sorted(
        p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    )


def _chunks(path: str) -> list[tuple[str, int]]:
    """(codec, data page version) of every column chunk of the file."""
    md = pq.ParquetFile(path).metadata
    out = []
    with open(path, "rb") as f:
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                f.seek(col.data_page_offset)
                head = f.read(2)
                assert head[0] == 0x15, (path, head)
                out.append((col.compression, _PAGE_VERSION[head[1]]))
    return out


def _assert_zstd_v2(root: str) -> tuple[int, int]:
    """Every column chunk under ``root`` is zstd, and every chunk Spark
    (parquet-mr) wrote has v2 data pages. Returns how many files of each
    writer held a chunk."""
    spark_files = arrow_files = 0
    for path in _parquet_files(root):
        chunks = _chunks(path)
        if not chunks:
            continue  # a 0-row file holds no column chunk
        assert {codec for codec, _ in chunks} == {"ZSTD"}, path
        if pq.ParquetFile(path).metadata.created_by.startswith("parquet-mr"):
            assert {v for _, v in chunks} == {2}, path
            spark_files += 1
        else:
            arrow_files += 1
    return spark_files, arrow_files


def _inputs(spark, tmp_path):
    paths = write_corpus(spark, str(tmp_path / "corpus"), n_pages=150, n_hosts=6)
    return {k: spark.read.parquet(v) for k, v in paths.items()}


def _parent_format(monkeypatch):
    """Write as the tables did before the format was fixed: the snappy
    codec and Spark's default v1 pages."""
    monkeypatch.setattr(tables, "WRITE_OPTIONS", {"compression": "snappy"})


def _naive_lineage(state_dir: str) -> None:
    """Rewrite the lineage files as the older writer left them: snappy,
    with a tz-naive ``cursor_ts``."""
    for path in _parquet_files(os.path.join(state_dir, "crawl_state")):
        t = pq.read_table(path)
        i = t.schema.get_field_index("cursor_ts")
        t = t.set_column(i, "cursor_ts", t["cursor_ts"].cast(pa.timestamp("us")))
        pq.write_table(t, path, compression="snappy", store_schema=False)


def test_crawl_state_is_zstd_with_v2_pages(crawl_run):
    state_dir, _ = crawl_run
    spark_files, arrow_files = _assert_zstd_v2(state_dir)
    assert spark_files > 0 and arrow_files > 0  # fetched/frontier and lineage


def test_catalog_increment_and_reports_are_zstd_with_v2_pages(spark, corpus_dir, tmp_path):
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    index = spark.read.parquet(os.path.join(corpus_dir, "index.parquet"))
    state_dir, report_dir = str(tmp_path / "state"), str(tmp_path / "reports")
    catalog_crawl(spark, pages, index, state_dir, max_commits=6)
    update_reports(spark, pages_only(pages), report_dir)
    assert _assert_zstd_v2(state_dir)[0] > 0
    spark_files, arrow_files = _assert_zstd_v2(report_dir)
    assert spark_files > 0 and arrow_files > 0  # deleted_pages and the aggregates


def test_table_read_launches_no_spark_job(spark, crawl_run):
    state = CrawlState(crawl_run[0])
    sc = spark.sparkContext
    sc.setJobGroup("table-read", "EpochTable.read")
    try:
        for table in (state.fetched, state.frontier, state.lineage):
            table.read(spark)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("table-read")) == []


def test_empty_table_read_is_a_local_relation(spark, tmp_path):
    """A table with no committed epoch reads as a LocalRelation of the
    declared schema. A Python RDD in its plan would fork Python workers
    at the first job over it (the epoch-0 seen check, say)."""
    state = CrawlState(str(tmp_path / "state"))
    for table in (state.fetched, state.frontier, state.lineage):
        df = table.read(spark)
        plan = df._jdf.queryExecution().logical().toString()
        assert "LogicalRDD" not in plan and "LocalRelation" in plan, plan
        assert df.schema == T.StructType(
            list(table.schema.fields) + [T.StructField("epoch", T.IntegerType())]
        )
        assert df.count() == 0


def _lineage(spark, state_dir: str) -> tuple[T.DataType, list[tuple]]:
    df = CrawlState(state_dir).lineage.read(spark)
    rows = sorted(tuple(r) for r in df.drop("bytes").collect())
    return df.schema["cursor_ts"].dataType, rows


def test_lineage_cursor_ts_is_a_timestamp_empty_or_not(spark, tmp_path):
    sd = str(tmp_path / "state")
    state = CrawlState(sd)
    assert _lineage(spark, sd) == (T.TimestampType(), [])
    ts = dt.datetime(2024, 3, 1, 12, 30)
    state.lineage.write_epoch_rows([("download", 0, ts, 5, 1, 100)], 0)
    state.commit_epoch(0)
    assert _lineage(spark, sd) == (T.TimestampType(), [("download", 0, ts, 5, 1, 0)])
    # a lineage dir of the older writer (tz-naive timestamps) reads the same
    _naive_lineage(sd)
    assert _lineage(spark, sd) == (T.TimestampType(), [("download", 0, ts, 5, 1, 0)])


def _state_snapshot(spark, state_dir: str) -> dict:
    state = CrawlState(state_dir)
    last = state.log.last_epoch()
    return {
        "trace": [
            (r["epoch"], r["url"], r["status"], r["text"])
            for r in state.fetched.read(spark).orderBy("epoch", "url").collect()
        ],
        "frontier": sorted(tuple(r) for r in state.frontier.read(spark, epochs=[last]).collect()),
        "lineage": _lineage(spark, state_dir),
        "epochs": state.log.committed_epochs(),
        "cursor": state.cursor("download"),
    }


def test_state_of_the_older_format_resumes_the_same(spark, tmp_path, monkeypatch):
    """A state dir written as snappy/v1 with tz-naive lineage resumes
    into a mixed-codec dir that reads like a state written whole in the
    current format."""
    inp = _inputs(spark, tmp_path)

    def crawl(sd, max_epochs):
        return web_crawl(
            spark, inp["pages"], sd, inp["seeds"],
            config=CrawlConfig(default_budget=6, max_epochs=max_epochs),
        )

    new_dir, old_dir = str(tmp_path / "new"), str(tmp_path / "old")
    crawl(new_dir, 4)
    with monkeypatch.context() as m:
        _parent_format(m)
        crawl(old_dir, 2)
    _naive_lineage(old_dir)
    crawl(old_dir, 4)

    codecs = {c for p in _parquet_files(old_dir) for c, _ in _chunks(p)}
    assert codecs == {"SNAPPY", "ZSTD"}
    assert _state_snapshot(spark, old_dir) == _state_snapshot(spark, new_dir)


def _reports_snapshot(spark, root: str) -> dict:
    store = ReportStore(root)
    out = {}
    for name in REPORTS:
        out[f"{name}.rows"] = sorted(tuple(r) for r in store.read(spark, name).collect())
        out[f"{name}.raw_rows"] = pq.read_table(os.path.join(root, f"{name}.parquet")).num_rows
        with open(os.path.join(root, f"{name}.csv"), "rb") as f:
            out[f"{name}.csv"] = f.read()
        out[f"{name}.cursor"] = store.cursor(name)
    return out


def test_reports_of_the_older_format_update_the_same(spark, tmp_path, monkeypatch):
    """A report dir whose first update was written as snappy/v1 takes a
    second update (the aggregates merge into their snappy version, the
    append report adds a zstd version beside it) and reads like a report
    dir written whole in the current format."""
    full = pages_only(build_pages(spark, 240, n_hosts=8)).cache()
    first = full.where(F.col("warc_ts") <= F.lit(dt.datetime(2024, 3, 1, 0, 7)))
    new_dir, old_dir = str(tmp_path / "new"), str(tmp_path / "old")
    update_reports(spark, first, new_dir)
    update_reports(spark, full, new_dir)
    with monkeypatch.context() as m:
        _parent_format(m)
        update_reports(spark, first, old_dir)
    update_reports(spark, full, old_dir)
    got, want = _reports_snapshot(spark, old_dir), _reports_snapshot(spark, new_dir)
    full.unpersist()
    assert got == want
