"""Incremental report updates (O16-O23): delta-merge must equal the
from-scratch aggregate, cursors are independent per report (O30)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from crawlspark.plans.reports import (
    ReportStore,
    page_count_by_day,
    page_count_by_day_kind,
    update_reports,
)
from crawlspark.testdata import build_pages, pages_only


def test_incremental_merge_equals_full_aggregate(spark, tmp_path):
    """Run reports over a growing log in two increments; the merged
    result must equal one-shot aggregation over everything (O21)."""
    full = pages_only(build_pages(spark, 240, n_hosts=8))
    cut = dt.datetime(2024, 3, 1, 0, 7)  # mid-log split
    first, rest = full.where(F.col("warc_ts") <= F.lit(cut)), full

    root = str(tmp_path / "reports")
    update_reports(spark, first, root)
    n2 = update_reports(spark, rest, root)
    assert n2["page_count_by_day"] > 0  # second run saw only the delta

    store = ReportStore(root)
    got = {
        (r["day"], r["value"]) for r in store.read(spark, "page_count_by_day").collect()
    }
    exp = {(r["day"], r["value"]) for r in page_count_by_day(full).collect()}
    assert got == exp

    got_kind = {
        (r["day"], r["details"], r["deletes"])
        for r in store.read(spark, "page_count_by_day_kind").collect()
    }
    exp_kind = {
        (r["day"], r["details"], r["deletes"])
        for r in page_count_by_day_kind(full).collect()
    }
    assert got_kind == exp_kind


def test_report_names_match_case_insensitively(spark, tmp_path):
    """UpdateReportsCommandHandler.cs:59-75 parity: names validate with
    OrdinalIgnoreCase; unknowns error listing the valid set."""
    full = pages_only(build_pages(spark, 60, n_hosts=4))
    root = str(tmp_path / "reports")
    counts = update_reports(spark, full, root, names=("Deleted_Pages", "PAGE_COUNT_BY_DAY"))
    assert set(counts) == {"deleted_pages", "page_count_by_day"}  # canonical keys
    assert ReportStore(root).read(spark, "deleted_pages").count() >= 0
    with pytest.raises(ValueError, match=r"Invalid report names: nope.*Possible report names"):
        update_reports(spark, full, root, names=("deleted_pages", "nope"))


def test_second_run_with_no_delta_is_noop(spark, tmp_path):
    full = pages_only(build_pages(spark, 100, n_hosts=5))
    root = str(tmp_path / "reports")
    update_reports(spark, full, root)
    before = sorted(ReportStore(root).read(spark, "page_count_by_day").collect())
    counts = update_reports(spark, full, root)
    assert all(v == 0 for v in counts.values())  # cursor skipped everything
    after = sorted(ReportStore(root).read(spark, "page_count_by_day").collect())
    assert before == after


def test_deleted_pages_append_report(spark, tmp_path):
    full = pages_only(build_pages(spark, 200, n_hosts=6))
    root = str(tmp_path / "reports")
    update_reports(spark, full, root, names=("deleted_pages",))
    got = ReportStore(root).read(spark, "deleted_pages")
    exp = full.where(F.col("url").rlike(r"^https://[^/]+/private/")).count()
    assert got.count() == exp
    # single-file csv mirror (CsvAppendReportVisitor.cs shape), header
    # once, round-trip timestamp format (O23)
    csv = tmp_path / "reports" / "deleted_pages.csv"
    assert csv.is_file(), "csv mirror missing"
    lines = csv.read_text().strip().splitlines()
    assert lines[0].split(",") == ["warc_ts", "url"]
    assert len(lines) == exp + 1  # header + one row per deleted page


def test_append_report_update_cost_is_o_delta(spark, tmp_path):
    """Each incremental update must ADD files, never rewrite history
    (r2 verdict 'What's wrong #3'): the first update's parquet files are
    byte-identical (same path, mtime, size) after the second update, and
    the second update appends to the CSV instead of rewriting it."""
    import os

    full = pages_only(build_pages(spark, 240, n_hosts=8))
    cut = dt.datetime(2024, 3, 1, 0, 7)
    first = full.where(F.col("warc_ts") <= F.lit(cut))
    root = str(tmp_path / "reports")

    update_reports(spark, first, root, names=("deleted_pages",))
    pq_dir = tmp_path / "reports" / "deleted_pages.parquet"
    before = {
        str(p): (p.stat().st_mtime_ns, p.stat().st_size)
        for p in pq_dir.rglob("*.parquet")
    }
    csv_len_before = (tmp_path / "reports" / "deleted_pages.csv").stat().st_size

    update_reports(spark, full, root, names=("deleted_pages",))
    after = {
        str(p): (p.stat().st_mtime_ns, p.stat().st_size)
        for p in pq_dir.rglob("*.parquet")
    }
    for path, sig in before.items():  # history untouched byte-for-byte
        assert after[path] == sig
    assert len(after) > len(before)  # the delta arrived as NEW files
    subdirs = {p.name for p in pq_dir.iterdir() if p.is_dir()}
    assert subdirs == {"epoch=0", "epoch=1"}  # one version dir per update
    # csv grew in place (append), no header duplication
    csv_text = (tmp_path / "reports" / "deleted_pages.csv").read_text()
    assert (tmp_path / "reports" / "deleted_pages.csv").stat().st_size >= csv_len_before
    assert csv_text.count("warc_ts,url") == 1
    # and the union equals the from-scratch report
    got = ReportStore(root).read(spark, "deleted_pages").count()
    exp = full.where(F.col("url").rlike(r"^https://[^/]+/private/")).count()
    assert got == exp
    assert sum(1 for ln in csv_text.strip().splitlines()[1:]) == exp


def test_report_cursors_are_independent(spark, tmp_path):
    full = pages_only(build_pages(spark, 120, n_hosts=5))
    root = str(tmp_path / "reports")
    update_reports(spark, full, root, names=("page_count_by_day",))
    store = ReportStore(root)
    assert store.cursor("page_count_by_day") > dt.datetime(2000, 1, 1)
    assert store.cursor("deleted_pages") == dt.datetime(1, 1, 1)  # untouched (O29/O30)


def test_update_reports_default_cursor_skips_history(spark, tmp_path):
    """--default-cursor-value on reports ('from 2015 onward only',
    UpdateReportsCommandHandler.cs:38-40): a brand-new report counts
    only rows after the override."""
    full = pages_only(build_pages(spark, 200, n_hosts=6))
    cut = dt.datetime(2024, 3, 1, 0, 7)
    root = str(tmp_path / "reports")
    update_reports(
        spark, full, root, names=("page_count_by_day",), default_cursor=cut
    )
    got = sum(
        r["value"] for r in ReportStore(root).read(spark, "page_count_by_day").collect()
    )
    assert got == full.where(F.col("warc_ts") > F.lit(cut)).count()
    assert 0 < got < full.count()


@pytest.mark.parametrize(
    "old_file", ["_cursor.page_count_by_day.json", "_applied.deleted_pages.json"]
)
def test_old_layout_report_dir_is_refused(tmp_path, old_file):
    """A report dir with the cursor or manifest files of the older layout
    is refused, not read: its flat {name}.parquet would be counted again
    next to the new versions. Reports are rebuilt from the pages log."""
    root = tmp_path / "reports"
    (root / "page_count_by_day.parquet").mkdir(parents=True)
    (root / old_file).write_text("{}")
    with pytest.raises(ValueError, match="delete the directory"):
        ReportStore(str(root))
