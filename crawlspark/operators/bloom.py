"""JVM bloom-filter URL-seen set, folded forward incrementally.

north_star: "a partitioned bloom/cuckoo-filter URL-seen set (broadcast
shards rebuilt per epoch)". The filter is Spark's own
``org.apache.spark.util.sketch.BloomFilter`` over ``xxhash64(url)``:
built by ``DataFrame.stat.bloomFilter`` (per-partition filters merged by
the aggregation, so the driver receives one filter's bytes, whatever the
partition count) and probed by Catalyst's ``BloomFilterMightContain``
expression — the same pair Spark's runtime join filters use. Build,
fold and probe run in the JVM and start no Python worker; the driver's
Python side only hands the filter's bytes to the probe plan.

The filter is sized once for a capacity and each epoch merges
(``mergeInPlace``) a filter of only that epoch's newly-final URLs
(O(delta) work, not O(history)), with an automatic grow-and-rebuild from
the full seen set when the URL count outgrows capacity. Candidate urls
that are *definitely not seen* skip the exact anti-join entirely; only
the "maybe seen" residue (true hits + false positives) pays for the join
against the fetched table. The exact anti-join backstop means bloom false
positives can never change the visited set — property pinned by
tests/test_web_crawl.py. Two urls colliding on ``xxhash64`` are one more
source of false positives, rescued the same way.

Generalizes the reference's never-revisit guarantee (the cursor
predicate, Downloader.cs:239-240) to an unordered 10^10-url frontier.

Sizing: bits = -n·ln(fpp)/ln(2)² (``BloomFilter.optimalNumOfBits``); at
10^6 urls and fpp=1% the serialized filter is 1.2 MB. The probe plan
takes it from a scalar subquery over a one-row local relation, not from
a binary literal: Spark prints a binary literal as hex in every plan
description it renders (per query and per adaptive re-plan), which at
10^6 capacity is 9.6 MB of text and 0.2 s per render, growing linearly
with capacity. The subquery prints as one line and runs on the driver
without a job.
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Spark 4.1 does not register BloomFilterMightContain as a SQL function,
# so the probe builds the Catalyst expression directly; these two classes
# are the only internal Spark API the package uses.
MIGHT_CONTAIN_CLASS = "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain"
EXPRESSION_UTILS_CLASS = "org.apache.spark.sql.classic.ExpressionUtils"


def might_contain(spark: SparkSession, bloom: bytes, value: Column) -> Column:
    """``BloomFilterMightContain(bloom, value)``: true when the serialized
    filter ``bloom`` may hold the long ``value``, false when it certainly
    does not. Raises RuntimeError naming both internal classes if the
    Spark build no longer exposes them."""
    one_row = spark.createDataFrame(pa.table({"bloom": pa.array([bloom], pa.binary())}))
    try:
        jvm = spark._jvm
        utils = reduce(getattr, EXPRESSION_UTILS_CLASS.split("."), jvm)
        expr_cls = reduce(getattr, MIGHT_CONTAIN_CLASS.split("."), jvm)
        expr = expr_cls(
            utils.expression(one_row.scalar()._jc), utils.expression(value._jc)
        )
        return Column(utils.column(expr))
    except (TypeError, Py4JError) as e:  # a moved class is a non-callable JavaPackage
        raise RuntimeError(
            f"bloom probe needs Spark's internal {MIGHT_CONTAIN_CLASS} built through "
            f"{EXPRESSION_UTILS_CLASS}.column; this Spark build does not provide them: {e}"
        ) from e


def _build(spark: SparkSession, urls: DataFrame, url_col: str, capacity: int, fpp: float):
    """A JVM BloomFilter of ``xxhash64(url)`` sized for ``capacity`` urls.
    Filters of one capacity and fpp have equal bit and hash counts, so
    they merge."""
    bits = spark._jvm.org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(capacity, fpp)
    hashed = urls.select(F.xxhash64(url_col).alias("__h"))
    return hashed._jdf.stat().bloomFilter("__h", capacity, bits)


def _serialize(spark: SparkSession, jfilter) -> bytes:
    out = spark._jvm.java.io.ByteArrayOutputStream()
    jfilter.writeTo(out)
    return bytes(out.toByteArray())


class IncrementalSeen:
    """Driver-carried seen-set bloom state for the epoch loop.

    Per epoch the engine folds only that epoch's newly-final urls into
    the filter (one small aggregation over the cached epoch delta, merged
    in place on the driver's JVM) — never a full-history rebuild. When
    ``count`` outgrows ``capacity`` the filter is rebuilt once from the
    committed seen set at 4× capacity (amortized O(log) rebuilds over a
    crawl); between rebuilds the configured fpp holds. Correctness never
    depends on fpp: the exact anti-join backstop rescues all false
    positives."""

    def __init__(self, spark: SparkSession, *, capacity: int = 1_000_000, fpp: float = 0.01):
        self.spark = spark
        self.fpp = fpp
        self.capacity = max(capacity, 1024)
        self.count = 0
        self.filter = None  # JVM BloomFilter, built by the first fold
        self._bytes: bytes | None = None

    @property
    def serialized(self) -> bytes | None:
        """The filter's bytes for ``seen_filter`` (None while empty)."""
        if self._bytes is None and self.count > 0:
            self._bytes = _serialize(self.spark, self.filter)
        return self._bytes if self.count > 0 else None

    def fold(self, urls: DataFrame, n_new: int, url_col: str = "url") -> None:
        """Merge a delta of ``n_new`` urls (O(delta) executor work)."""
        if n_new <= 0:
            return
        delta = _build(self.spark, urls, url_col, self.capacity, self.fpp)
        self.filter = delta if self.filter is None else self.filter.mergeInPlace(delta)
        self.count += n_new
        self._bytes = None

    def rebuild_if_needed(self, seen: DataFrame, url_col: str = "url") -> bool:
        """Grow 4× and rebuild from the full committed seen set when the
        count exceeds capacity. Returns True if a rebuild happened."""
        if self.count <= self.capacity:
            return False
        while self.capacity < 2 * self.count:
            self.capacity *= 4
        self.filter = _build(self.spark, seen, url_col, self.capacity, self.fpp)
        self._bytes = None
        return True


def seen_filter(
    spark: SparkSession,
    candidates: DataFrame,
    seen_urls: DataFrame,
    *,
    url_col: str = "url",
    use_bloom: bool = True,
    bloom: bytes | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """candidates ∖ seen, exactly. With the bloom pre-filter, only the
    'maybe seen' residue joins against the seen table; 'definitely new'
    rows bypass the shuffle. Pass ``bloom`` (IncrementalSeen.serialized)
    to reuse one filter across calls; without it the filter is built here
    from ``seen_urls``. Falls back to a plain left_anti when bloom is
    disabled, and returns the candidates when the seen set is empty."""
    if not use_bloom:
        return candidates.join(seen_urls.select(url_col), url_col, "left_anti")
    if bloom is None:
        n_seen = seen_urls.count()
        if n_seen == 0:
            return candidates
        bloom = _serialize(spark, _build(spark, seen_urls, url_col, n_seen, fpp))

    tagged = candidates.withColumn(
        "__maybe", might_contain(spark, bloom, F.xxhash64(url_col))
    )
    new = tagged.where(~F.col("__maybe")).drop("__maybe")
    residue = (
        tagged.where(F.col("__maybe")).drop("__maybe")
        .join(seen_urls.select(url_col), url_col, "left_anti")
    )
    return new.unionByName(residue)
