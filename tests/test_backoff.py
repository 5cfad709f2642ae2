"""Adaptive per-host backoff: state transitions, budget deration, and
the end-to-end budget shrink through the real crawl (incl. resume)."""

import datetime as dt

from pyspark.sql import functions as F

from crawlspark.operators.politeness import derate_budgets, update_backoff


def _stats(spark, rows):
    return spark.createDataFrame(rows, "host string, n_bad long")


def _backoff(spark, rows):
    return spark.createDataFrame(rows, "host string, consec_fails int")


def test_update_backoff_transitions(spark):
    prev = _backoff(spark, [("a", 2), ("b", 1), ("c", 3)])
    # a fails again (+1), b comes back clean (reset/drop), c untouched
    # (keep), d fails for the first time (1)
    stats = _stats(spark, [("a", 5), ("b", 0), ("d", 1)])
    got = sorted((r.host, r.consec_fails) for r in update_backoff(prev, stats).collect())
    assert got == [("a", 3), ("c", 3), ("d", 1)]


def test_update_backoff_first_epoch(spark):
    stats = _stats(spark, [("a", 2), ("b", 0)])
    got = sorted((r.host, r.consec_fails) for r in update_backoff(None, stats).collect())
    assert got == [("a", 1)]


def test_derate_budgets(spark):
    backoff = _backoff(spark, [("h1", 1), ("h2", 3), ("h3", 2)])
    budgets = spark.createDataFrame(
        [("h3", 16), ("h9", 7)], "host string, tokens_per_epoch int"
    )
    got = {
        r.host: r.tokens_per_epoch
        for r in derate_budgets(budgets, backoff, default_budget=4).collect()
    }
    # h1: 4>>1=2; h2: 4>>3=0 -> clamp 1; h3: explicit 16>>2=4; h9: untouched 7
    assert got == {"h1": 2, "h2": 1, "h3": 4, "h9": 7}
    got_none = {
        r.host: r.tokens_per_epoch
        for r in derate_budgets(None, backoff, default_budget=4).collect()
    }
    assert got_none == {"h1": 2, "h2": 1, "h3": 1}


def _mini_corpus(spark):
    """Host a.example: 7 urls, NONE in pages (every fetch fails final at
    max_attempts=1). Host b.example: 12 urls, all present."""
    ts = dt.datetime(2024, 3, 1)
    ok_urls = [f"https://b.example/p{i:02d}" for i in range(12)]
    bad_urls = [f"https://a.example/p{i}" for i in range(7)]
    pages = spark.createDataFrame(
        [(u, ts, b"<html><body>x</body></html>", "en") for u in ok_urls],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    seeds = spark.createDataFrame([(u,) for u in ok_urls + bad_urls], "url string")
    return pages, seeds


def _per_epoch_host_counts(spark, state_dir):
    from crawlspark.plans.state import CrawlState

    f = CrawlState(state_dir).fetched.read(spark)
    return {
        (r.epoch, r.host): r.n
        for r in f.groupBy("epoch", "host").agg(F.count("*").alias("n")).collect()
    }


def test_crawl_backoff_shrinks_failing_host_budget(spark, tmp_path):
    from crawlspark.plans.epoch import CrawlConfig, web_crawl

    pages, seeds = _mini_corpus(spark)
    cfg = CrawlConfig(
        default_budget=4, max_attempts=1, max_epochs=10, adaptive_backoff=True
    )
    sd = str(tmp_path / "s_on")
    web_crawl(spark, pages, sd, seeds, config=cfg)
    got = _per_epoch_host_counts(spark, sd)
    # failing host: 4 -> 2 -> 1 (budget halves per failing epoch);
    # healthy host: full 4 every epoch
    assert got[(0, "a.example")] == 4 and got[(0, "b.example")] == 4
    assert got[(1, "a.example")] == 2 and got[(1, "b.example")] == 4
    assert got[(2, "a.example")] == 1 and got[(2, "b.example")] == 4

    # control: without backoff the failing host drains at full budget
    sd_off = str(tmp_path / "s_off")
    web_crawl(
        spark, pages, sd_off, seeds,
        config=CrawlConfig(default_budget=4, max_attempts=1, max_epochs=10),
    )
    off = _per_epoch_host_counts(spark, sd_off)
    assert off[(0, "a.example")] == 4 and off[(1, "a.example")] == 3


def test_derated_default_budgets_start_no_python_worker(spark, tmp_path, monkeypatch):
    """With no budget table, every epoch's derated budgets come from the
    backoff state alone: no Python RDD in their plan (it would fork
    Python workers every epoch), and the same budgets as the full join
    with an empty table gave."""
    import crawlspark.plans.epoch as epoch_mod
    from crawlspark.plans.epoch import CrawlConfig, web_crawl

    plans = []

    def derate(host_budgets, backoff, default_budget):
        out = derate_budgets(host_budgets, backoff, default_budget)
        plans.append(out._jdf.queryExecution().logical().toString())
        return out

    monkeypatch.setattr(epoch_mod, "derate_budgets", derate)
    pages, seeds = _mini_corpus(spark)
    sd = str(tmp_path / "s")
    cfg = CrawlConfig(default_budget=4, max_attempts=1, max_epochs=3, adaptive_backoff=True)
    web_crawl(spark, pages, sd, seeds, config=cfg)
    assert len(plans) == 2  # epochs 1 and 2 carry backoff rows
    assert not any("LogicalRDD" in p for p in plans), plans
    got = _per_epoch_host_counts(spark, sd)
    assert [got[(e, "a.example")] for e in range(3)] == [4, 2, 1]
    assert [got[(e, "b.example")] for e in range(3)] == [4, 4, 4]


def test_crawl_backoff_survives_resume(spark, tmp_path):
    from crawlspark.plans.epoch import CrawlConfig, web_crawl

    pages, seeds = _mini_corpus(spark)
    sd = str(tmp_path / "s_resume")
    cfg1 = CrawlConfig(
        default_budget=4, max_attempts=1, max_epochs=1, adaptive_backoff=True
    )
    web_crawl(spark, pages, sd, seeds, config=cfg1)
    cfg2 = CrawlConfig(
        default_budget=4, max_attempts=1, max_epochs=10, adaptive_backoff=True
    )
    web_crawl(spark, pages, sd, seeds, config=cfg2)
    got = _per_epoch_host_counts(spark, sd)
    # the resumed run must continue the deration sequence, not restart it
    assert got[(1, "a.example")] == 2
    assert got[(2, "a.example")] == 1
