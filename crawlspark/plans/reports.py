"""Incremental reports: cursor-driven derived aggregates over the pages log.

The reference's ``update-reports`` command makes one pass over the
catalog, and its visitors merge each report in memory before rewriting
the CSV (UpdateReportsCommandHandler.cs:47-120,
CsvAggregateReportVisitor.cs:21-74). Here each report has its **own
watermark cursor** (O30), and the reports that share a cursor (normally
all three) share one aggregate scan of the pages log:

    delta = pages WHERE warc_ts > cursor                          (O5)
    days  = delta.groupBy(day).agg(details, deletes, max(warc_ts),
                                   collect_list(delete rows))     (O16, O18-O20)

``days`` is O(days) rows plus the delta's delete rows, and is collected
through Arrow: its max warc_ts is ``head``, details + deletes is every
report's delta row count, and the delete rows (gathered only when the
append report shares the cursor) are the append report's next version.
That aggregate is the only Spark action of an update: every report is
then written by the driver with pyarrow, CSV included (O17/O23). The
aggregate reports are merged on the driver (O21): the latest version,
O(days) rows read with pyarrow, key-summed with ``days`` and sorted by
day (O22). The append report (``deleted_pages``, O16) is O(delta): the
delete rows sorted by (warc_ts, url) on the driver (O22), written as one
version and appended to its CSV.

Each report commits exactly like the crawl state (``sources/tables.py``),
through its own ``CommitLog``:

    {report_dir}/{name}.parquet/_commits.json   ← versions + cursor meta
    {report_dir}/{name}.parquet/epoch={v}/      ← version v's rows
    {report_dir}/{name}.csv                     ← single-file CSV mirror

An update stages version v, writes the CSV, then commits v with the
report's cursor in the commit meta (``{"cursors": {name: head}}``) — the
one atomic step. A kill before the commit replays the same delta; a kill
after it finds the cursor advanced. The append report (``deleted_pages``)
adds one version per update and its live rows are every committed
version; its CSV grows in place and the meta also records the CSV's
committed length, to which a replay truncates a torn tail. An aggregate
report's live rows are its latest version alone, and its commit expires
the older versions from the log, so the log stays one entry long. Every
other entry of the directory (older aggregate versions, uncommitted or
torn stages) is deleted after each commit and at the start of each
update, so at rest ``{name}.parquet`` holds exactly the live rows
(readers that skip ``_``-prefixed names, such as pyarrow, need no commit
log). One log per report, not per report dir: reports update
independently (O30), and ``EpochTable.read`` treats every committed
epoch as present in its table.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.operators.ordering import EPOCH_MIN, from_micros, unix_micros, utc_lit
from crawlspark.sources.tables import CommitLog, EpochTable

ISO_O_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSXXX"  # DateTimeOffset "O" analog (O23)

# a delete page (O16): a /private/ page is the 'delete event' analog of
# nuget:PackageDelete (DeletedPackagesReportUpdater.cs:14-25)
_PRIVATE = r"^https://[^/]+/private/"


# -- report extractors (pure column logic) ----------------------------------

def page_count_by_day(delta: DataFrame) -> DataFrame:
    """Date-trunc group-count (O18, CatalogLeafCountReportUpdater.cs:18-25)."""
    return (
        delta.groupBy(F.date_trunc("DAY", F.col("warc_ts")).alias("day"))
        .agg(F.count("*").alias("value"))
    )


def page_count_by_day_kind(delta: DataFrame) -> DataFrame:
    """Conditional-count pivot (O19) + totals invariant (O20,
    CatalogLeafCountByTypeReportUpdater.cs:22-38): every page is exactly
    one of {details, delete}, so details+deletes == total."""
    return _day_counts(delta).drop("head")


def _day_counts(delta: DataFrame, rows: T.StructType | None = None) -> DataFrame:
    """``page_count_by_day_kind`` plus each day's max warc_ts as ``head``:
    the one aggregate an update runs per cursor. Given the append
    report's ``rows`` schema, it also gathers each day's delete pages as
    a ``deleted`` list of such structs (O16)."""
    kind = F.when(F.col("url").rlike(_PRIVATE), "delete").otherwise("details")
    delete = F.col("kind") == "delete"
    aggs = [
        F.sum(F.when(F.col("kind") == "details", 1).otherwise(0)).alias("details"),
        F.sum(F.when(delete, 1).otherwise(0)).alias("deletes"),
        F.count("*").alias("__total"),
        F.max("warc_ts").alias("head"),
    ]
    if rows is not None:
        page = F.struct(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in rows])
        aggs.append(F.collect_list(F.when(delete, page)).alias("deleted"))  # skips nulls
    out = (
        delta.withColumn("kind", kind)
        .groupBy(F.date_trunc("DAY", F.col("warc_ts")).alias("day"))
        .agg(*aggs)
    )
    # O20 totals invariant, enforced IN the plan (raise_error fires during
    # the aggregate job, before any commit — the reference throws during
    # visiting, CatalogLeafCountByTypeReportUpdater.cs:30-36) instead of a
    # standalone count action per update.
    guarded = F.when(
        F.col("details") + F.col("deletes") == F.col("__total"), F.col("details")
    ).otherwise(F.raise_error("unknown page kind (O20 invariant)").cast("bigint"))
    return out.withColumn("details", guarded).drop("__total")


# -- driver-side CSV formatting -------------------------------------------------

_TRIMMED = "".join(map(chr, range(33)))  # what the CSV writer strips from each end


def _iso_o(micros: int) -> str:
    """``date_format(ts, ISO_O_FMT)`` in the UTC session time zone."""
    t = from_micros(micros)
    return f"{t.year:04d}-{t:%m-%dT%H:%M:%S}.{t.microsecond:06d}0Z"


def _csv_field(value) -> str:
    """One value as Spark's CSV writer prints it with default options:
    null is empty, whitespace and control characters are stripped from
    both ends, an empty string is ``""``, and a value holding a comma,
    quote, CR or LF is quoted with ``\\`` escaping ``"`` and ``\\``."""
    if value is None:
        return ""
    if not isinstance(value, str):
        return str(value)
    value = value.strip(_TRIMMED)
    if not value:
        return '""'
    if any(c in value for c in ',"\r\n'):
        return '"' + value.replace("\\", "\\\\").replace('"', '\\"') + '"'
    return value


def csv_lines(rows: pa.Table) -> bytes:
    """``rows`` as CSV lines without a header, byte-identical to Spark's
    CSV writer after ``date_format(c, ISO_O_FMT)`` on every timestamp
    column, with or without a time zone (O17/O23)."""
    cols = []
    for col in rows.columns:
        if pa.types.is_timestamp(col.type):
            micros = col.cast(pa.timestamp("us", col.type.tz)).cast(pa.int64()).to_pylist()
            values = [None if m is None else _iso_o(m) for m in micros]
        else:
            values = col.to_pylist()
        cols.append([_csv_field(v) for v in values])
    return "".join(",".join(row) + "\n" for row in zip(*cols)).encode()


# -- incremental store -------------------------------------------------------

_DAY = T.StructField("day", T.TimestampType())

# name -> (schema, the report's values for a day's (details, deletes)).
# Values None marks the append report: it adds a version of the delta's
# rows per update instead of merging into the latest one.
_SPECS = {
    "deleted_pages": (
        T.StructType([T.StructField("warc_ts", T.TimestampType()), T.StructField("url", T.StringType())]),
        None,
    ),
    "page_count_by_day": (
        T.StructType([_DAY, T.StructField("value", T.LongType())]),
        lambda details, deletes: (details + deletes,),
    ),
    "page_count_by_day_kind": (
        T.StructType([_DAY, T.StructField("details", T.LongType()), T.StructField("deletes", T.LongType())]),
        lambda details, deletes: (details, deletes),
    ),
}

REPORTS = tuple(_SPECS)

# Per-report cursor and manifest files of the layout before reports
# moved onto CommitLog.
_OLD_LAYOUT = ("_cursor.", "_applied.")


class ReportStore:
    """The report dir: per report, a CommitLog-governed directory of
    versions plus a single-file CSV mirror."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        old = sorted(f for f in os.listdir(root) if f.startswith(_OLD_LAYOUT))
        if old:
            # reports are derived data: rebuilding beats migrating, and an
            # old flat {name}.parquet next to new versions would be
            # double-counted
            raise ValueError(
                f"report dir {root} has the older cursor-file layout "
                f"({', '.join(old)}); delete the directory and run "
                "update-reports again to rebuild the reports from the pages log"
            )

    def _table(self, name: str) -> EpochTable:
        log = CommitLog(os.path.join(self.root, f"{name}.parquet"))
        return EpochTable(self.root, f"{name}.parquet", _SPECS[name][0], log)

    @staticmethod
    def _live(name: str, table: EpochTable) -> list[int]:
        epochs = table.log.committed_epochs()
        return epochs if _SPECS[name][1] is None else epochs[-1:]

    def cursor(self, name: str, default: dt.datetime | None = None) -> dt.datetime:
        """Read-with-default (O29); ``default`` is the reference's
        --default-cursor-value (UpdateReportsCommandHandler.cs:38-40)."""
        return self._table(name).log.cursor(name, default)

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        """The report's live rows (empty before its first update)."""
        table = self._table(name)
        return table.read(spark, epochs=self._live(name, table)).drop("epoch")

    def sweep(self, name: str) -> None:
        """Delete every entry of the report's directory but the commit log
        and its live versions: older aggregate versions and whatever a
        killed update left uncommitted."""
        table = self._table(name)
        keep = {os.path.basename(table.log.path)}
        keep.update(os.path.basename(table._epoch_dir(v)) for v in self._live(name, table))
        for entry in os.listdir(table.dir):
            path = os.path.join(table.dir, entry)
            if entry in keep:
                continue
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)

    def update(
        self, name: str, days: list[tuple[int, int, int]], head: dt.datetime,
        deleted: pa.Table | None,
    ) -> None:
        """Stage the next version of ``name``, write the CSV mirror, and
        commit the version with cursor ``head``. ``days`` is the delta's
        collected ``(day micros, details, deletes)`` rows and ``deleted``
        its delete pages' rows in any order, which only the append
        report reads. Every version is written by the driver.

        Append report (O17, CsvAppendReportVisitor.cs:20-41): the version
        is ``deleted`` sorted by (warc_ts, url), so an update costs
        O(delta) and never rewrites history; the CSV rows are appended
        from the same table. Aggregate reports (O21,
        CsvAggregateReportVisitor.cs:21-74): the version is the latest
        one key-merged with ``days`` on the driver, O(days)."""
        schema, values = _SPECS[name]
        table = self._table(name)
        last = table.log.last_epoch()
        version = 0 if last is None else last + 1
        meta = {"cursors": {name: head.isoformat()}}
        if values is None:
            # O22: Arrow compares strings bytewise, as Spark orders them
            rows = deleted.sort_by([(c, "ascending") for c in schema.names])
            append_at = 0 if last is None else table.log.read()["meta"][str(last)]["csv_len"]
        else:
            rows, append_at = self._merge(name, table, last, days), None
        table.write_epoch_arrow(rows, version)
        length = self._write_csv(name, table, rows, append_at)
        if values is None:
            meta["csv_len"] = length
        table.log.commit(version, meta, expire=values is not None)
        self.sweep(name)

    @staticmethod
    def _merge(
        name: str, table: EpochTable, last: int | None, days: list[tuple[int, int, int]],
    ) -> pa.Table:
        """Version ``last`` full-outer key-merged with ``days`` by
        element-wise sum, sorted by day (O21/O22)."""
        schema, values = _SPECS[name]
        cols = schema.names[1:]
        merged: dict[int, list[int]] = {}
        if last is not None:
            old = pq.read_table(table._epoch_dir(last))
            day_us = old["day"].cast(pa.timestamp("us", old["day"].type.tz)).cast(pa.int64())
            old_values = zip(*(old[c].to_pylist() for c in cols))
            merged = {d: list(v) for d, v in zip(day_us.to_pylist(), old_values)}
        for day, details, deletes in days:
            new = values(details, deletes)
            merged[day] = [a + b for a, b in zip(merged.get(day, [0] * len(new)), new)]
        order = sorted(merged)
        arrays = [pa.array(order, pa.int64()).cast(pa.timestamp("us", "UTC"))]
        arrays += [pa.array([merged[d][i] for d in order], pa.int64()) for i in range(len(cols))]
        return pa.table(arrays, names=schema.names)

    def _write_csv(
        self, name: str, table: EpochTable, rows: pa.Table, append_at: int | None,
    ) -> int:
        """Write ``rows`` to the single-file CSV mirror, header once, and
        return its length. ``append_at`` None replaces the whole file
        through a temp file and ``os.replace``
        (CsvAggregateReportVisitor.cs:60-73); otherwise the file is
        truncated to ``append_at``, the committed length (a torn tail of
        a killed update goes), and the rows are appended
        (CsvAppendReportVisitor.cs)."""
        final = os.path.join(self.root, f"{name}.csv")
        if append_at is None:
            path, mode = os.path.join(table.dir, "_csv.tmp"), "wb"
        else:
            path, mode = final, "r+b" if os.path.exists(final) else "wb"
        with open(path, mode) as dst:
            dst.truncate(append_at or 0)
            dst.seek(0, os.SEEK_END)
            if dst.tell() == 0:
                dst.write((",".join(_SPECS[name][0].names) + "\n").encode())
            dst.write(csv_lines(rows))
            length = dst.tell()
        if append_at is None:
            os.replace(path, final)
        return length


def update_reports(
    spark: SparkSession,
    pages: DataFrame,
    report_root: str,
    names: tuple[str, ...] = REPORTS,
    default_cursor: dt.datetime | None = None,
) -> dict[str, int]:
    """Incrementally update each selected report to the pages log's head,
    each under its own cursor — independent consumers of one log (O30,
    UpdateReportsCommandHandler.cs:104-117) — and return each report's
    delta row count. ``default_cursor`` seeds brand-new report cursors
    (the reference's --default-cursor-value); committed cursors always
    win. Names match case-insensitively and unknowns list the valid set,
    mirroring UpdateReportsCommandHandler.cs:59-75's OrdinalIgnoreCase
    validator."""
    canon = {r.lower(): r for r in REPORTS}
    unknown = [n for n in names if n.lower() not in canon]
    if unknown:
        raise ValueError(
            f"Invalid report names: {', '.join(sorted(unknown))}. "
            f"Possible report names are: {', '.join(sorted(REPORTS))}"
        )
    names = tuple(dict.fromkeys(canon[n.lower()] for n in names))
    store = ReportStore(report_root)
    by_cursor: dict[dt.datetime, list[str]] = {}
    for name in names:
        store.sweep(name)  # what a killed earlier update left behind
        by_cursor.setdefault(store.cursor(name, default=default_cursor), []).append(name)
    updated = dict.fromkeys(names, 0)
    for cursor, group in by_cursor.items():
        delta = pages.where(F.col("warc_ts").isNotNull())
        if cursor > EPOCH_MIN:
            delta = delta.where(F.col("warc_ts") > utc_lit(cursor))
        # the append report's row schema, if it shares this cursor
        rows = next((_SPECS[n][0] for n in group if _SPECS[n][1] is None), None)
        # the ONE Spark action of these reports: O(days) rows plus, for the
        # append report, the delta's delete rows, collected as Arrow
        days = _day_counts(delta, rows).select(
            unix_micros(F.col("day")).alias("day"), "details", "deletes",
            unix_micros(F.col("head")).alias("head"), *([] if rows is None else ["deleted"]),
        ).toArrow()
        if not days.num_rows:
            continue  # nothing after the cursor: the skip needs no other job
        head = from_micros(pc.max(days["head"]).as_py())
        day_rows = list(zip(*(days[c].to_pylist() for c in ("day", "details", "deletes"))))
        deleted = None if rows is None else pa.Table.from_struct_array(pc.list_flatten(days["deleted"]))
        for name in group:
            store.update(name, day_rows, head, deleted)
            updated[name] = sum(details + deletes for _, details, deletes in day_rows)
    return updated
