"""Frontier reprioritization: score merge semantics and the end-to-end
visit-order flip through the real dequeue."""

from pyspark.sql import functions as F

from crawlspark.functions.urls import host_of
from crawlspark.operators.prioritize import apply_priority_scores


def test_apply_priority_scores_merge(spark):
    pending = spark.createDataFrame(
        [("u1", 3), ("u2", 3), ("u3", 7)], "url string, priority int"
    )
    scores = spark.createDataFrame(
        [("u2", -5), ("u2", -2), ("u9", -9)], "url string, priority int"
    )
    got = sorted(
        (r.url, r.priority)
        for r in apply_priority_scores(pending, scores).collect()
    )
    # u2 takes the MIN score; u1/u3 keep inherited; u9 never joins in
    assert got == [("u1", 3), ("u2", -5), ("u3", 7)]


def test_crawl_priority_flips_visit_order(spark, tmp_path):
    """budget=1, one epoch: by default each host fetches its smallest
    url; scoring a host's LARGEST seed url to priority -5 must flip
    that host's pick — through robots, salting, and the real dequeue."""
    from crawlspark.plans.epoch import CrawlConfig, web_crawl
    from crawlspark.plans.state import CrawlState
    from crawlspark.testdata import write_corpus

    paths = write_corpus(spark, str(tmp_path / "corpus"), n_pages=150, n_hosts=6)
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])

    per_host = (
        seeds.withColumn("host", host_of(F.col("url")))
        .groupBy("host")
        .agg(F.min("url").alias("lo"), F.max("url").alias("hi"), F.count("*").alias("n"))
        .where(F.col("n") >= 2)
        .collect()
    )
    assert per_host, "corpus must have a host with >= 2 seeds"
    victims = {r.host: (r.lo, r.hi) for r in per_host}

    cfg = CrawlConfig(default_budget=1, max_epochs=1)
    sd0 = str(tmp_path / "s0")
    web_crawl(spark, pages, sd0, seeds, config=cfg)
    got0 = {
        r.host: r.url
        for r in CrawlState(sd0).fetched.read(spark).select("host", "url").collect()
    }

    scores = spark.createDataFrame(
        [(hi, -5) for (_, hi) in victims.values()], "url string, priority int"
    )
    sd1 = str(tmp_path / "s1")
    web_crawl(spark, pages, sd1, seeds, priorities=scores, config=cfg)
    got1 = {
        r.host: r.url
        for r in CrawlState(sd1).fetched.read(spark).select("host", "url").collect()
    }

    flipped = 0
    for host, (lo, hi) in victims.items():
        if lo == hi:
            continue
        assert got0.get(host) == lo, f"default pick for {host} should be min url"
        assert got1.get(host) == hi, f"scored pick for {host} should be the boosted url"
        flipped += 1
    assert flipped > 0
