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
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EPOCH_MIN = dt.datetime(1, 1, 1)  # DateTimeOffset.MinValue analog (Cursor.cs:28)


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
    if cursor is not None and cursor > EPOCH_MIN:
        out = out.where(F.col(ts_col) > F.lit(cursor))
    if max_ts is not None:
        bound = max_ts if isinstance(max_ts, Column) else F.lit(max_ts)
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

