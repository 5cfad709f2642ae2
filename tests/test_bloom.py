"""Bloom seen-set unit properties: a fold over many partitions equals a
sequential build, the incremental fold-forward equals a one-shot build
byte for byte, a rebuild grows capacity and keeps every member, and the
internal Spark API the probe needs is still there."""

import pytest
from pyspark.sql import functions as F

from crawlspark.operators import bloom
from crawlspark.operators.bloom import IncrementalSeen, might_contain


def _urls_df(spark, lo, hi=None, prefix="https://h.example/p"):
    lo, hi = (0, lo) if hi is None else (lo, hi)
    return spark.range(lo, hi).select(
        F.concat(F.lit(prefix), F.col("id").cast("string")).alias("url")
    )


def _all_members(spark, seen: IncrementalSeen, urls) -> bool:
    probe = urls.select(might_contain(spark, seen.serialized, F.xxhash64("url")).alias("m"))
    return probe.where(~F.col("m")).count() == 0


def test_distributed_fold_equals_sequential_add(spark):
    seq = IncrementalSeen(spark, capacity=2000)
    seq.fold(_urls_df(spark, 500).coalesce(1), n_new=500)
    dist = IncrementalSeen(spark, capacity=2000)
    dist.fold(_urls_df(spark, 500).repartition(8), n_new=500)
    assert seq.serialized == dist.serialized


def test_incremental_equals_oneshot(spark):
    inc = IncrementalSeen(spark, capacity=2000)
    for lo, hi in ((0, 300), (300, 700), (700, 1000)):
        inc.fold(_urls_df(spark, lo, hi), n_new=hi - lo)
    assert inc.count == 1000

    oneshot = IncrementalSeen(spark, capacity=2000)
    oneshot.fold(_urls_df(spark, 1000).repartition(4), n_new=1000)
    assert inc.serialized == oneshot.serialized
    # no false negatives, ever
    assert _all_members(spark, inc, _urls_df(spark, 1000))


def test_rebuild_grows_capacity_and_keeps_members(spark):
    inc = IncrementalSeen(spark, capacity=1024)
    inc.fold(_urls_df(spark, 3000), n_new=3000)
    small = len(inc.serialized)
    assert inc.rebuild_if_needed(_urls_df(spark, 3000))
    assert inc.capacity >= 2 * 3000
    assert len(inc.serialized) > small
    assert _all_members(spark, inc, _urls_df(spark, 3000))
    assert not inc.rebuild_if_needed(_urls_df(spark, 3000))


def test_might_contain_internal_api_probes_members(spark):
    """Spark does not register BloomFilterMightContain as a SQL function;
    the probe reaches it through ExpressionUtils. If an upgrade moves
    either class, this fails with a message naming both."""
    seen = IncrementalSeen(spark, capacity=1024)
    seen.fold(_urls_df(spark, 100), n_new=100)
    assert _all_members(spark, seen, _urls_df(spark, 100))


def test_might_contain_names_the_moved_api(spark, monkeypatch):
    monkeypatch.setattr(bloom, "MIGHT_CONTAIN_CLASS", "org.apache.spark.sql.NoSuchExpression")
    with pytest.raises(RuntimeError, match="NoSuchExpression.*ExpressionUtils"):
        might_contain(spark, b"", F.lit(1).cast("long"))
