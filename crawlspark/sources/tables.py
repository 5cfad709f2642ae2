"""Epoch-partitioned parquet tables with an atomic shared commit log.

The north_star asks for Iceberg tables; this sandbox has no Iceberg
runtime jar, so this module provides the same two properties the engine
actually relies on, over plain parquet:

  1. **Atomic epoch commits** — an epoch's output across *all* state
     tables (fetched, frontier, crawl_state) becomes visible in one
     atomic step: a single JSON commit-log replace (``os.replace`` is
     atomic on POSIX). A crash mid-epoch leaves staged-but-uncommitted
     directories that readers never see — exactly the reference's
     crash contract ("re-crawl, never skip", Downloader.cs:222-224).
  2. **Idempotent replay** — re-writing an epoch overwrites its
     directory, so a resumed run that re-executes the last uncommitted
     epoch converges to the same state (the analog of the reference's
     FileMode.Create overwrite, Downloader.cs:326).

Layout:  {root}/_commits.json            ← {"epochs": [0, 1, ...], ...meta}
         {root}/{table}/epoch={n}/*.parquet
         {root}/{table}/_stage_epoch={n}/ ← in-flight writes

On a real cluster this maps 1:1 onto Iceberg: ``write_epoch`` →
``writeTo(t).overwritePartitions()``, ``CommitLog`` → the Iceberg
snapshot commit; the engine code above this layer is storage-agnostic.

Reports (``plans/reports.py``) use the same log: one per report, whose
epochs are the report's versions and whose meta carries its cursor.

Partition pruning still works: reads list only committed epoch dirs, so
Spark never opens uncommitted or stale data files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawlspark.operators.ordering import EPOCH_MIN


class CommitLog:
    """Atomic JSON commit log shared by all tables of one crawl state dir
    (or by the versions of one report)."""

    def __init__(self, root: str):
        self.root = root
        self.path = os.path.join(root, "_commits.json")
        os.makedirs(root, exist_ok=True)

    def read(self) -> dict:
        if not os.path.exists(self.path):
            return {"epochs": [], "meta": {}}
        with open(self.path) as f:
            return json.load(f)

    def committed_epochs(self) -> list[int]:
        return list(self.read()["epochs"])

    def last_epoch(self) -> int | None:
        epochs = self.committed_epochs()
        return max(epochs) if epochs else None

    def cursor(self, consumer: str, default: dt.datetime | None = None) -> dt.datetime:
        """Read-with-default watermark of ``consumer``: the largest
        ``meta["cursors"][consumer]`` of any commit. With none, ``default``
        (the reference's --default-cursor-value, Cursor.cs:12-27), falling
        back to EPOCH_MIN ≙ DateTimeOffset.MinValue. A COMMITTED cursor
        always wins — the default only seeds brand-new consumers (e.g.
        'reports from 2015 onward only' on first run)."""
        found = [
            dt.datetime.fromisoformat(meta["cursors"][consumer])
            for meta in self.read().get("meta", {}).values()
            if consumer in meta.get("cursors", {})
        ]
        if found:
            return max(found)
        return default if default is not None else EPOCH_MIN

    def commit(self, epoch: int, meta: dict | None = None, *, expire: bool = False) -> None:
        """Add ``epoch`` (and its meta) to the log in one atomic replace.
        ``expire`` also drops every other epoch and its meta in that same
        replace (Iceberg ``expire_snapshots`` analog), for a table whose
        live rows are its latest epoch alone."""
        state = self.read()
        if expire:
            state["epochs"], state["meta"] = [], {}
        if epoch not in state["epochs"]:
            state["epochs"].append(epoch)
            state["epochs"].sort()
        if meta:
            state.setdefault("meta", {})[str(epoch)] = meta
        self._replace(state)

    def rollback_to(self, epoch: int) -> list[int]:
        """Iceberg ``rollback_to_snapshot`` analog: atomically truncate
        the log to epochs <= ``epoch`` and return the epochs dropped.
        Later epochs' data directories stay on disk but are INVISIBLE to
        every reader (reads list committed epochs only) — exactly
        Iceberg's model, where rollback moves the snapshot pointer and
        orphaned files wait for expire_snapshots; here the next replay
        of a dropped epoch overwrites its directory anyway."""
        state = self.read()
        dropped = [e for e in state["epochs"] if e > epoch]
        if dropped:
            state["epochs"] = [e for e in state["epochs"] if e <= epoch]
            for e in dropped:
                state.get("meta", {}).pop(str(e), None)
            self._replace(state)
        return dropped

    def _replace(self, state: dict) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)  # atomic on POSIX — the commit point


class EpochTable:
    """One epoch-partitioned parquet table governed by a CommitLog."""

    def __init__(self, root: str, name: str, schema: T.StructType, log: CommitLog):
        self.dir = os.path.join(root, name)
        self.name = name
        self.schema = schema
        self.log = log
        os.makedirs(self.dir, exist_ok=True)

    def _epoch_dir(self, epoch: int) -> str:
        return os.path.join(self.dir, f"epoch={epoch}")

    def write_epoch(self, df: DataFrame, epoch: int) -> None:
        """Stage + atomically rename one epoch partition. Does NOT make it
        visible — the caller commits via the shared CommitLog once every
        table of the epoch is staged."""
        stage = os.path.join(self.dir, f"_stage_epoch={epoch}")
        final = self._epoch_dir(epoch)
        for d in (stage, final):
            if os.path.exists(d):
                shutil.rmtree(d)  # replay overwrite (idempotent re-run)
        df.drop("epoch").write.mode("overwrite").parquet(stage)
        os.rename(stage, final)

    def write_epoch_rows(self, rows: list[tuple], epoch: int) -> None:
        """Driver-side epoch write for tiny relations (lineage/metrics):
        already-collected rows go straight to parquet via pyarrow — no
        Spark job, same directory layout and schema as write_epoch."""
        import pyarrow as pa

        pa_types = {
            "timestamp": pa.timestamp("us"), "integer": pa.int32(),
            "long": pa.int64(), "string": pa.string(), "double": pa.float64(),
        }
        arrays, names = [], []
        for i, field in enumerate(self.schema.fields):
            names.append(field.name)
            vals = [r[i] for r in rows]
            arrays.append(pa.array(vals, type=pa_types.get(field.dataType.typeName())))
        self.write_epoch_arrow(pa.table(dict(zip(names, arrays))), epoch)

    def write_epoch_arrow(self, table, epoch: int) -> None:
        """Stage + atomically rename one epoch partition holding the
        pyarrow ``table``, written by the driver (no Spark job). Same
        staging and visibility contract as write_epoch."""
        import pyarrow.parquet as pq

        stage = os.path.join(self.dir, f"_stage_epoch={epoch}")
        final = self._epoch_dir(epoch)
        for d in (stage, final):
            if os.path.exists(d):
                shutil.rmtree(d)
        os.makedirs(stage)
        # no ARROW:schema footer key: Spark ignores it, and the parquet
        # logical types already carry every type the tables use
        pq.write_table(table, os.path.join(stage, "part-0.parquet"), store_schema=False)
        os.rename(stage, final)

    def write_epoch_split(
        self,
        other: "EpochTable",
        combined: DataFrame,
        epoch: int,
        part_col: str = "__table",
    ) -> None:
        """Stage TWO tables' epoch partitions from ONE Spark action: the
        caller unions both row sets with a ``part_col`` discriminator
        (values = table names); one partitionBy write computes everything
        in a single pass over the upstream caches, then the staged
        subdirs are renamed into each table's epoch dir. Same atomicity
        contract as write_epoch — nothing is visible until the shared
        commit-log advance."""
        stage = os.path.join(self.dir, f"_stage_pair_epoch={epoch}")
        if os.path.exists(stage):
            shutil.rmtree(stage)
        combined.write.mode("overwrite").partitionBy(part_col).parquet(stage)
        for table in (self, other):
            final = table._epoch_dir(epoch)
            if os.path.exists(final):
                shutil.rmtree(final)  # replay overwrite (idempotent re-run)
            src = os.path.join(stage, f"{part_col}={table.name}")
            if os.path.exists(src):
                os.rename(src, final)
            else:  # no rows for this table this epoch: stage a 0-row file
                table.write_epoch_rows([], epoch)
        shutil.rmtree(stage, ignore_errors=True)

    def read_as_of(self, spark: SparkSession, epoch: int) -> DataFrame:
        """Time travel (Iceberg ``VERSION AS OF``): the table as it was
        when ``epoch`` was the latest committed snapshot — committed
        rows with epoch <= the requested one. Readers of a live crawl
        can pin an epoch and see a consistent state while later epochs
        keep committing."""
        return self.read(
            spark, epochs=[e for e in self.log.committed_epochs() if e <= epoch]
        )

    def read(self, spark: SparkSession, epochs: list[int] | None = None) -> DataFrame:
        """Committed rows only (optionally a subset of epochs), with the
        ``epoch`` partition column attached."""
        committed = self.log.committed_epochs()
        if epochs is not None:
            committed = [e for e in committed if e in set(epochs)]
        dirs = [self._epoch_dir(e) for e in committed if os.path.exists(self._epoch_dir(e))]
        full_schema = T.StructType(list(self.schema.fields) + [T.StructField("epoch", T.IntegerType())])
        if not dirs:
            return spark.createDataFrame([], full_schema)
        df = spark.read.option("basePath", self.dir).parquet(*dirs)
        return df.withColumn("epoch", F.col("epoch").cast("int")).select(
            *[f.name for f in full_schema.fields]
        )
