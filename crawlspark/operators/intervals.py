"""Bucketed interval join — the at-scale form of "assign each row to the
time interval containing its timestamp".

Not on the crawl path: ``catalog_crawl`` no longer joins leaves to
pages, because the leaves of a prefix of the catalog's pages are one
``warc_ts`` range (plans/epoch.py). The join stays for the query
catalogue's ``interval_bucket_join`` query and its tests.

The reference resolves catalog leaf→page membership by scanning page
bounds per leaf (Downloader.cs:120-131: each item compared against the
page's commit-timestamp range). The naive Spark translation is a theta
join, which Catalyst can only execute as a BroadcastNestedLoopJoin:
every row evaluates O(#intervals) range predicates. Fine for a few
hundred catalog pages; wrong for 10^10 rows x 10^5 pages.

Because catalog intervals PARTITION the time axis (disjoint, contiguous:
(prev page_ts, page_ts]), membership is discretizable: slice the domain
into fixed-width buckets, explode each interval into the buckets it
overlaps (intervals are disjoint, so total exploded rows <= n_buckets +
n_intervals — still a tiny broadcast), give every row its bucket key
with the same formula, and BroadcastHashJoin on the bucket with the
exact range predicate as a residual filter. Each row then probes a hash
table and tests the 1-2 intervals sharing its bucket — O(1) per row,
independent of interval count.

Exactness is unconditional, not probabilistic:
- same-formula bucketing on both sides, and x -> floor((x - lo) / w) is
  monotone (IEEE division by a positive constant preserves order), so a
  row with lo < ts <= hi lands inside [bucket(lo+1us), bucket(hi)] —
  the exploded range — and the clamp to [0, nb-1] is applied on both
  sides consistently;
- the residual range predicate rejects every bucket-collision false
  positive, so the output EQUALS the theta join's (pinned by
  tests/test_catalog.py equality test).

Everything is a single lazy plan: the domain stats (min/max bound,
interval count) come from a 1-row aggregate of the tiny bounds side
that is broadcast-cross-joined into both inputs — no driver action.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawlspark.operators.ordering import unix_micros

_HELPERS = ("_dom_lo", "_w", "_nb")


def _clamp(bucket: Column, nb: Column) -> Column:
    return F.greatest(F.lit(0).cast("long"), F.least(nb - F.lit(1), bucket))


def _bucket_of(ts_micros: Column) -> Column:
    return F.floor((ts_micros - F.col("_dom_lo")) / F.col("_w")).cast("long")


def bucketed_interval_join(
    rows: DataFrame,
    bounds: DataFrame,
    *,
    ts_col: str,
    lo_col: str = "prev_ts",
    hi_col: str = "page_ts",
    buckets_per_bound: int = 4,
) -> DataFrame:
    """Inner-join ``rows`` to the ``bounds`` interval satisfying
    ``lo_col < rows.ts_col <= hi_col`` via bucket equi-join + residual
    range filter (BroadcastHashJoin, never a nested loop).

    ``bounds`` must be small (it is broadcast — one row per catalog
    page) with half-open disjoint intervals; rows matching no interval
    are dropped, exactly like the theta join. Output columns: all of
    ``rows`` then all of ``bounds``.
    """
    stats = bounds.agg(
        unix_micros(F.min(hi_col)).alias("_dom_lo"),
        unix_micros(F.max(hi_col)).alias("_dom_hi"),
        F.count(F.lit(1)).alias("_n"),
    ).select(
        "_dom_lo",
        # width >= 1us guards the single-instant domain; nb buckets keep
        # the exploded bounds side ~buckets_per_bound rows per interval
        F.greatest(
            F.lit(1).cast("long"),
            F.floor(
                (F.col("_dom_hi") - F.col("_dom_lo"))
                / (F.lit(buckets_per_bound) * F.col("_n"))
            ).cast("long"),
        ).alias("_w"),
        (F.lit(buckets_per_bound) * F.col("_n")).cast("long").alias("_nb"),
    )

    b = bounds.crossJoin(F.broadcast(stats))
    b_start = _clamp(_bucket_of(unix_micros(F.col(lo_col)) + F.lit(1)), F.col("_nb"))
    b_end = _clamp(_bucket_of(unix_micros(F.col(hi_col))), F.col("_nb"))
    # bounds-side columns carry an internal prefix through the join:
    # rows and bounds share lineage via the stats subtree, so qualified
    # dataframe references would be ambiguous to the analyzer
    exploded = (
        b.withColumn("_bb", F.explode(F.sequence(b_start, b_end)))
        .select("_bb", *[F.col(c).alias(f"_b_{c}") for c in bounds.columns])
    )

    r = rows.crossJoin(F.broadcast(stats))
    r = r.withColumn(
        "_rb", _clamp(_bucket_of(unix_micros(F.col(ts_col))), F.col("_nb"))
    ).drop(*_HELPERS)

    joined = r.join(
        F.broadcast(exploded),
        (F.col("_rb") == F.col("_bb"))
        & (F.col(ts_col) > F.col(f"_b_{lo_col}"))
        & (F.col(ts_col) <= F.col(f"_b_{hi_col}")),
    )
    return joined.select(
        *rows.columns, *[F.col(f"_b_{c}").alias(c) for c in bounds.columns]
    )
