"""Incremental reports: cursor-driven derived aggregates over the pages log.

The reference's ``update-reports`` command re-runs the crawl loop with a
report visitor and merges per-page aggregates into CSVs
(Reports/CsvReportUpdater.cs:37-59). Here each report is a derived table
over the pages log with its **own watermark cursor** (O30), updated by:

    delta  = pages WHERE warc_ts ∈ (cursor, max]          (O5)
    agg    = groupBy(key).agg(...)                         (O10/O18/O19)
    merged = (existing ∪ agg).groupBy(key).sum(...)        (O21 merge)
    write  = orderBy(key) → new version + CSV export       (O22/O17/O23)

The merge is the reference's only join-like operator: a full-outer
key-merge with element-wise sum (CsvAggregateReportVisitor.cs:21-74).
At scale the new version becomes an Iceberg ``MERGE INTO``; the delta
agg is map-side-partial and shuffles only the (tiny) key space.

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
report's live rows are its latest version alone. Every other entry of
the directory (older aggregate versions, uncommitted or torn stages) is
deleted after each commit and at the start of each update, so at rest
``{name}.parquet`` holds exactly the live rows (readers that skip
``_``-prefixed names, such as pyarrow, need no commit log). One log per
report, not per report dir: reports update independently (O30), and
``EpochTable.read`` treats every committed epoch as present in its table.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.operators.ordering import EPOCH_MIN
from crawlspark.sources.tables import CommitLog, EpochTable

ISO_O_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSSXXX"  # DateTimeOffset "O" analog (O23)


# -- report extractors (pure column logic) ----------------------------------

def deleted_pages(delta: DataFrame) -> DataFrame:
    """Append-style filter+project report (O16): /private/ pages are the
    'delete event' analog of nuget:PackageDelete
    (DeletedPackagesReportUpdater.cs:14-25)."""
    return (
        delta.where(F.col("url").rlike(r"^https://[^/]+/private/"))
        .select("warc_ts", "url")
    )


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
    kind = F.when(F.col("url").rlike(r"^https://[^/]+/private/"), "delete").otherwise("details")
    out = (
        delta.withColumn("kind", kind)
        .groupBy(F.date_trunc("DAY", F.col("warc_ts")).alias("day"))
        .agg(
            F.sum(F.when(F.col("kind") == "details", 1).otherwise(0)).alias("details"),
            F.sum(F.when(F.col("kind") == "delete", 1).otherwise(0)).alias("deletes"),
            F.count("*").alias("__total"),
        )
    )
    # O20 totals invariant, enforced IN the plan (raise_error fires during
    # the write job, before the commit — the reference throws during
    # visiting, CatalogLeafCountByTypeReportUpdater.cs:30-36) instead of a
    # standalone count action per update.
    guarded = F.when(
        F.col("details") + F.col("deletes") == F.col("__total"), F.col("details")
    ).otherwise(F.raise_error("unknown page kind (O20 invariant)").cast("bigint"))
    return out.withColumn("details", guarded).drop("__total")


# -- incremental store -------------------------------------------------------

_DAY = T.StructField("day", T.TimestampType())

# name -> (extractor, schema, sort/key columns, summed columns). Summed
# columns None marks the append report: it adds a version per update
# instead of merging into the latest one.
_SPECS = {
    "deleted_pages": (
        deleted_pages,
        T.StructType([T.StructField("warc_ts", T.TimestampType()), T.StructField("url", T.StringType())]),
        ["warc_ts", "url"], None,
    ),
    "page_count_by_day": (
        page_count_by_day,
        T.StructType([_DAY, T.StructField("value", T.LongType())]),
        ["day"], ["value"],
    ),
    "page_count_by_day_kind": (
        page_count_by_day_kind,
        T.StructType([_DAY, T.StructField("details", T.LongType()), T.StructField("deletes", T.LongType())]),
        ["day"], ["details", "deletes"],
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
        return EpochTable(self.root, f"{name}.parquet", _SPECS[name][1], log)

    @staticmethod
    def _live(name: str, table: EpochTable) -> list[int]:
        epochs = table.log.committed_epochs()
        return epochs if _SPECS[name][3] is None else epochs[-1:]

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

    def update(self, spark: SparkSession, name: str, delta: DataFrame, head: dt.datetime) -> None:
        """Stage the next version of ``name`` from the pages ``delta``,
        write the CSV mirror, and commit the version with cursor ``head``.

        Append report (O17, CsvAppendReportVisitor.cs:20-41): the version
        is the delta's rows alone, so an update costs O(delta) and never
        rewrites history. Aggregate reports (O21,
        CsvAggregateReportVisitor.cs:21-74): the version is the latest
        one full-outer key-merged with the delta's aggregate."""
        extract, _, keys, sums = _SPECS[name]
        table = self._table(name)
        last = table.log.last_epoch()
        version = 0 if last is None else last + 1
        rows = extract(delta)
        if sums is not None and last is not None:
            rows = (
                self.read(spark, name).unionByName(rows)
                .groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sums])
            )
        table.write_epoch(rows.orderBy(*keys), version)  # O22 sort
        meta = {"cursors": {name: head.isoformat()}}
        if sums is None:
            committed = 0 if last is None else table.log.read()["meta"][str(last)]["csv_len"]
            meta["csv_len"] = self._write_csv(spark, name, table, version, committed)
        else:
            self._write_csv(spark, name, table, version, None)
        table.log.commit(version, meta)
        self.sweep(name)

    def _write_csv(
        self, spark: SparkSession, name: str, table: EpochTable, version: int,
        append_at: int | None,
    ) -> int:
        """Write ``version``'s rows to the single-file CSV mirror, header
        once, round-trip timestamp format (O17/O23), and return its
        length. ``append_at`` None replaces the whole file through a temp
        file and ``os.replace`` (CsvAggregateReportVisitor.cs:60-73);
        otherwise the file is truncated to ``append_at``, the committed
        length (a torn tail of a killed update goes), and the rows are
        appended (CsvAppendReportVisitor.cs). The driver-side byte copy is
        O(version), like the reference's own file writes."""
        out = spark.read.parquet(table._epoch_dir(version)).orderBy(*_SPECS[name][2])
        header = out.columns
        for field in out.schema.fields:
            if field.dataType.typeName() == "timestamp":
                out = out.withColumn(field.name, F.date_format(field.name, ISO_O_FMT))
        stage = os.path.join(table.dir, "_csv_parts")
        out.coalesce(1).write.mode("overwrite").csv(stage)
        final = os.path.join(self.root, f"{name}.csv")
        if append_at is None:
            path, mode = os.path.join(table.dir, "_csv.tmp"), "wb"
        else:
            path, mode = final, "r+b" if os.path.exists(final) else "wb"
        with open(path, mode) as dst:
            dst.truncate(append_at or 0)
            dst.seek(0, os.SEEK_END)
            if dst.tell() == 0:
                dst.write((",".join(header) + "\n").encode())
            for part in sorted(os.listdir(stage)):
                if part.startswith("part-") and part.endswith(".csv"):
                    with open(os.path.join(stage, part), "rb") as src:
                        shutil.copyfileobj(src, dst)
            length = dst.tell()
        if append_at is None:
            os.replace(path, final)
        shutil.rmtree(stage)
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
    UpdateReportsCommandHandler.cs:104-117). ``default_cursor`` seeds
    brand-new report cursors (the reference's --default-cursor-value);
    committed cursors always win. Names match case-insensitively and
    unknowns list the valid set, mirroring
    UpdateReportsCommandHandler.cs:59-75's OrdinalIgnoreCase validator."""
    canon = {r.lower(): r for r in REPORTS}
    unknown = [n for n in names if n.lower() not in canon]
    if unknown:
        raise ValueError(
            f"Invalid report names: {', '.join(sorted(unknown))}. "
            f"Possible report names are: {', '.join(sorted(REPORTS))}"
        )
    names = tuple(dict.fromkeys(canon[n.lower()] for n in names))
    store = ReportStore(report_root)
    head = pages.agg(F.max("warc_ts")).first()[0]  # the loop's ONE standalone action
    updated: dict[str, int] = {}
    for name in names:
        store.sweep(name)  # what a killed earlier update left behind
        cursor = store.cursor(name, default=default_cursor)
        # head == max(warc_ts), so head <= cursor ⇔ the delta is empty:
        # the skip decision needs no count action at all
        if head is None or head <= cursor:
            updated[name] = 0
            continue
        delta = pages.where(F.col("warc_ts") > F.lit(cursor)) if cursor > EPOCH_MIN else pages
        delta = delta.where(F.col("warc_ts") <= F.lit(head))
        # delta row count rides the write job as an Observation — no
        # standalone delta.count() per report (2·N actions → N writes)
        obs = Observation()
        store.update(spark, name, delta.observe(obs, F.count(F.lit(1)).alias("n")), head)
        updated[name] = int(obs.get["n"])
    return updated
