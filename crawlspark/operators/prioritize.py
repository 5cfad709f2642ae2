"""Frontier reprioritization — external score tables drive visit order.

The frontier's default order is (priority, discovery_ts, url) with
priority inherited as parent+1 (BFS-ish). Real crawls re-order the
frontier from graph signals — Cho, Garcia-Molina & Page, "Efficient
Crawling Through URL Ordering" (WWW 1998) showed in-link-count /
PageRank ordering finds important pages far sooner than BFS; OPIC
(Abiteboul et al. 2003) made it incremental. This module is the glue:
any (url, priority) relation — in-link counts, PageRank scores,
sitemap <priority> — merges into the pending frontier before the
politeness dequeue.

Scale shape: ONE left equi-join on url per epoch. The pending frontier
is already hash-partitioned on url (plans/epoch.py width-normalizes on
exactly that key), so a score table pre-partitioned the same way
co-locates; smaller score tables broadcast under the session threshold.
Unscored urls keep their inherited priority — the join never drops or
duplicates frontier rows (scores are min-deduped on url first).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def apply_priority_scores(
    pending: DataFrame,
    scores: DataFrame,
    url_col: str = "url",
    priority_col: str = "priority",
) -> DataFrame:
    """Override frontier priorities from ``scores`` (url, priority).
    Lower priority dequeues earlier, matching the frontier order."""
    sc = scores.groupBy(url_col).agg(F.min(priority_col).alias("__score_pri"))
    return (
        pending.join(sc, url_col, "left")
        .withColumn(
            priority_col,
            F.coalesce(F.col("__score_pri"), F.col(priority_col)).cast("int"),
        )
        .drop("__score_pri")
    )

