"""Cursor, ordering, and budget operators — the reference's crawl core.

Each function is one operator from SURVEY.md §2, expressed as a lazy
DataFrame transformation (Catalyst sees the whole plan; filters push down
to the parquet scan, aggregates get map-side partials, windows get a
single shuffle on their partition keys).

Reference parity citations:
  cursor_filter         — Downloader.cs:232-244 (O5): half-open (cursor, max]
  ordered_limit         — Downloader.cs:101-110 (O7): MaxPages take-K
  distinct_commits      — Downloader.cs:129-135 (O8)
  commit_budget_cutoff  — Downloader.cs:137-146 (O9): whole commits only

Driver-side timestamps (cursors, page heads, discovery stamps) are naive
datetimes in UTC. They cross into Spark only through ``utc_lit`` and come
back only through ``unix_micros`` + ``from_micros``: ``F.lit`` of a naive
datetime reads it as local time (``time.mktime``), and a collected
TIMESTAMP comes back as local naive time, so either would shift every
bound by the process time zone's offset.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EPOCH_MIN = dt.datetime(1, 1, 1)  # DateTimeOffset.MinValue analog (Cursor.cs:28)
_UNIX = dt.datetime(1970, 1, 1)


def utc_lit(v: dt.datetime) -> Column:
    """The naive UTC datetime ``v`` as a TIMESTAMP literal, whatever the
    process time zone. Against a TIMESTAMP_NTZ column the literal is cast
    to NTZ in the UTC session time zone, and comparisons with it still
    push down to the parquet scan."""
    return F.timestamp_micros(F.lit((v - _UNIX) // dt.timedelta(microseconds=1)))


def unix_micros(ts: Column) -> Column:
    """Microseconds since the Unix epoch of a TIMESTAMP or TIMESTAMP_NTZ
    column: the form a timestamp is collected in. ``F.unix_micros``
    rejects NTZ; the cast is a no-op for TIMESTAMP and reads NTZ as UTC,
    the session time zone."""
    return F.unix_micros(ts.cast("timestamp"))


def from_micros(us: int | None) -> dt.datetime | None:
    """The naive UTC datetime of a collected ``unix_micros`` value."""
    return None if us is None else _UNIX + dt.timedelta(microseconds=us)


def cursor_filter(
    df: DataFrame,
    cursor: dt.datetime | None,
    max_ts: dt.datetime | Column | None = None,
    ts_col: str = "commit_ts",
) -> DataFrame:
    """Keep rows in the half-open interval (cursor, max_ts]. Either bound
    may be None/open. Plain comparison predicates → parquet pushdown and
    partition pruning do the incremental-scan skipping."""
    out = df
    if cursor is not None:
        out = out.where(F.col(ts_col) > utc_lit(cursor))
    if max_ts is not None:
        bound = max_ts if isinstance(max_ts, Column) else utc_lit(max_ts)
        out = out.where(F.col(ts_col) <= bound)
    return out


def ordered_limit(df: DataFrame, k: int | None, order_cols: list[str]) -> DataFrame:
    """Top-K of a total order (MaxPages). Spark plans orderBy+limit as
    TakeOrderedAndProject — per-partition heaps + driver merge, no full
    sort, no full shuffle."""
    if k is None:
        return df.orderBy(*order_cols)
    return df.orderBy(*order_cols).limit(k)


def distinct_commits(df: DataFrame, ts_col: str = "commit_ts") -> DataFrame:
    return df.select(ts_col).distinct().orderBy(ts_col)


def commit_budget_cutoff(df: DataFrame, remaining: int, ts_col: str = "commit_ts") -> DataFrame:
    """Keep only the first ``remaining`` whole commits of the global
    commit order — a commit is never split (Downloader.cs:137-146).
    The first N distinct commit timestamps are an ordered limit
    (TakeOrderedAndProject: per-partition heaps + driver merge, no
    single-partition window), semi-joined back against the rows.

    ``remaining`` is clamped at 0: a driver computing
    ``budget - consumed`` may go negative, and the total function
    returns an empty frame there (the pre-r2 rank-filter behavior)
    instead of raising inside ``limit``."""
    commits = df.select(ts_col).distinct().orderBy(ts_col).limit(max(remaining, 0))
    return df.join(F.broadcast(commits), ts_col, "left_semi")

