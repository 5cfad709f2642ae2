"""Engine vs pure-Python simulator: identical visited set, order, text.

The BASELINE.json correctness gate: "same seed list + politeness budget
yields the identical visited-URL set and order" and "byte-identical
extracted text per url".
"""

import os

import pytest
from pyspark.sql import functions as F

from crawlspark.plans.epoch import CrawlConfig, web_crawl
from crawlspark.plans.state import CrawlState
from tests.simulator import simulate_web_crawl


def _load_inputs(spark, corpus_dir):
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(corpus_dir, "seeds.parquet"))
    robots = spark.read.parquet(os.path.join(corpus_dir, "robots.parquet"))
    budgets = spark.read.parquet(os.path.join(corpus_dir, "host_budgets.parquet"))
    return pages, seeds, robots, budgets


def _engine_trace(spark, state_dir):
    state = CrawlState(state_dir)
    rows = (
        state.fetched.read(spark)
        .orderBy("epoch", "priority", "discovery_ts", "url")
        .select("epoch", "url", "text", "status")
        .collect()
    )
    epochs: dict[int, list] = {}
    for r in rows:
        epochs.setdefault(r["epoch"], []).append(r)
    return epochs


def test_engine_matches_simulator(spark, corpus_dir, crawl_run):
    state_dir, _ = crawl_run
    pages, seeds, robots, budgets = _load_inputs(spark, corpus_dir)
    sim = simulate_web_crawl(
        {r["url"]: {"html": bytes(r["html"]), "text": r["text"]} for r in pages.collect()},
        [(r["url"], r["priority"]) for r in seeds.collect()],
        robots={r["host"]: list(r["disallow_prefixes"]) for r in robots.collect()},
        budgets={r["host"]: r["tokens_per_epoch"] for r in budgets.collect()},
        default_budget=8, max_epochs=20,
    )
    eng = _engine_trace(spark, state_dir)
    committed = CrawlState(state_dir).log.committed_epochs()
    assert len(committed) == len(sim.epochs), "epoch counts differ"
    for e, sim_urls in enumerate(sim.epochs):
        eng_urls = [r["url"] for r in eng.get(e, [])]
        assert eng_urls == sim_urls, f"visit order differs at epoch {e}"
    # byte-identical text per url
    eng_texts = {r["url"]: r["text"] for rows in eng.values() for r in rows if r["status"] == "ok"}
    assert eng_texts == sim.texts


def test_retry_and_flaky_pages_match_simulator(spark, tmp_path):
    """O1 fetch retry (Downloader.cs:297-318): transiently-failing pages
    are re-queued with attempts+1 and succeed on a later epoch; pages
    absent from the snapshot exhaust max_attempts and land as final
    'failed' rows. Engine == pure-Python simulator, row for row."""
    from crawlspark.testdata import write_corpus

    d = str(tmp_path / "c")
    paths = write_corpus(spark, d, n_pages=150, n_hosts=6)
    pages = spark.read.parquet(paths["pages"])
    # deterministic transient failures: ~1/5 of urls become available on
    # attempt 2; ~1/11 are dropped from the snapshot entirely (never ok)
    pages = pages.where(F.pmod(F.xxhash64("url"), F.lit(11)) != 0).withColumn(
        "available_from_attempt",
        F.when(F.pmod(F.xxhash64("url"), F.lit(5)) == 0, F.lit(2)).otherwise(F.lit(1)),
    )
    seeds = spark.read.parquet(paths["seeds"])
    sd = str(tmp_path / "s")
    stats = web_crawl(
        spark, pages, sd, seeds,
        config=CrawlConfig(default_budget=6, max_epochs=25, max_attempts=3),
    )
    sim = simulate_web_crawl(
        {
            r["url"]: {"html": bytes(r["html"]),
                       "available_from_attempt": r["available_from_attempt"]}
            for r in pages.collect()
        },
        [(r["url"], r["priority"]) for r in seeds.collect()],
        default_budget=6, max_epochs=25, max_attempts=3,
    )
    state = CrawlState(sd)
    assert len(state.log.committed_epochs()) == len(sim.epochs)
    rows = (
        state.fetched.read(spark)
        .orderBy("epoch", "priority", "discovery_ts", "url")
        .collect()
    )
    eng: dict[int, list] = {}
    for r in rows:
        eng.setdefault(r["epoch"], []).append(r)
    for e, sim_urls in enumerate(sim.epochs):
        assert [r["url"] for r in eng.get(e, [])] == sim_urls, f"epoch {e}"
    for r in rows:
        assert r["attempts"] == sim.attempts[r["url"]], r["url"]
        if r["status"] == "ok":
            assert r["text"] == sim.texts[r["url"]]
        else:
            assert r["text"] is None
    assert sorted(r["url"] for r in rows if r["status"] == "failed") == sorted(sim.failed)
    # the retry machinery actually exercised
    assert any(r["attempts"] > 1 for r in rows)
    assert sum(s["urls_retrying"] for s in stats) > 0
    assert sum(s["urls_failed"] for s in stats) > 0
    # final outcomes are unique per url even across retries
    fetched = state.fetched.read(spark)
    assert fetched.count() == fetched.select("url").distinct().count()


def test_visited_set_is_duplicate_free(spark, crawl_run):
    state_dir, _ = crawl_run
    fetched = CrawlState(state_dir).fetched.read(spark)
    assert fetched.count() == fetched.select("url").distinct().count()


def test_robots_never_visited(spark, corpus_dir, crawl_run):
    state_dir, _ = crawl_run
    _, _, robots, _ = _load_inputs(spark, corpus_dir)
    fetched = CrawlState(state_dir).fetched.read(spark)
    blocked = (
        fetched.join(robots, "host")
        .where(
            F.exists(
                "disallow_prefixes",
                lambda p: F.regexp_extract("url", r"https://[^/]+(/.*)", 1).startswith(p),
            )
        )
        .count()
    )
    assert blocked == 0


def test_per_host_budget_respected_every_epoch(spark, corpus_dir, crawl_run):
    state_dir, _ = crawl_run
    _, _, _, budgets = _load_inputs(spark, corpus_dir)
    fetched = CrawlState(state_dir).fetched.read(spark)
    over = (
        fetched.join(budgets, "host", "left")
        .groupBy("epoch", "host", "tokens_per_epoch")
        .count()
        .where(F.col("count") > F.coalesce("tokens_per_epoch", F.lit(8)))
        .count()
    )
    assert over == 0


def test_bloom_does_not_change_visited_set(spark, tmp_path):
    """Property from SURVEY.md §7.3: the bloom pre-filter must never
    change the final visited set (exact anti-join backstop)."""
    from crawlspark.testdata import write_corpus

    d = str(tmp_path / "c")
    paths = write_corpus(spark, d, n_pages=120, n_hosts=6)
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    traces = {}
    for flag in (True, False):
        sd = str(tmp_path / f"s{flag}")
        web_crawl(
            spark, pages, sd, seeds,
            # bloom_min_seen=0 forces the bloom path from the first epoch
            # (the cost-based default would stay on the exact anti-join
            # at this corpus size)
            config=CrawlConfig(default_budget=6, max_epochs=15, use_bloom=flag,
                               bloom_min_seen=0),
        )
        traces[flag] = [
            (r["epoch"], r["url"])
            for r in CrawlState(sd).fetched.read(spark).orderBy("epoch", "url").collect()
        ]
    assert traces[True] == traces[False]


def test_bloom_activation_midcrawl_preserves_visited_set(spark, tmp_path):
    """The cost-based bloom switch (exact anti-join below bloom_min_seen,
    bloom shards + catch-up fold above) must never change the visited
    set — activate it mid-crawl and compare against never-activating."""
    from crawlspark.testdata import write_corpus

    d = str(tmp_path / "c")
    paths = write_corpus(spark, d, n_pages=120, n_hosts=6)
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    traces = {}
    for mid in (40, 10 ** 9):  # activates around epoch 2 vs never
        sd = str(tmp_path / f"s{mid}")
        web_crawl(
            spark, pages, sd, seeds,
            config=CrawlConfig(default_budget=6, max_epochs=15, bloom_min_seen=mid),
        )
        traces[mid] = [
            (r["epoch"], r["url"])
            for r in CrawlState(sd).fetched.read(spark).orderBy("epoch", "url").collect()
        ]
    assert traces[40] == traces[10 ** 9]


def test_global_budget_caps_epoch(spark, tmp_path):
    from crawlspark.testdata import write_corpus

    d = str(tmp_path / "c")
    paths = write_corpus(spark, d, n_pages=120, n_hosts=6)
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    sd = str(tmp_path / "s")
    web_crawl(
        spark, pages, sd, seeds,
        config=CrawlConfig(default_budget=8, max_epochs=4, global_budget_per_epoch=10),
    )
    per_epoch = CrawlState(sd).fetched.read(spark).groupBy("epoch").count().collect()
    assert len(per_epoch) > 0
    assert all(r["count"] <= 10 for r in per_epoch)


def test_global_budget_matches_simulator(spark, tmp_path):
    """Under global_budget_per_epoch the epoch fetches the first N rows
    of the per-host top-K in visit order, and the rows past the limit
    stay pending: engine == simulator epoch by epoch, so no url is lost
    to, or doubled in, the remainder."""
    from crawlspark.testdata import write_corpus

    d = str(tmp_path / "c")
    paths = write_corpus(spark, d, n_pages=120, n_hosts=6)
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    robots = spark.read.parquet(paths["robots"])
    budgets = spark.read.parquet(paths["host_budgets"])
    sd = str(tmp_path / "s")
    web_crawl(
        spark, pages, sd, seeds, robots=robots, host_budgets=budgets,
        config=CrawlConfig(default_budget=8, max_epochs=8, global_budget_per_epoch=10),
    )
    sim = simulate_web_crawl(
        {r["url"]: {"html": bytes(r["html"])} for r in pages.collect()},
        [(r["url"], r["priority"]) for r in seeds.collect()],
        robots={r["host"]: list(r["disallow_prefixes"]) for r in robots.collect()},
        budgets={r["host"]: r["tokens_per_epoch"] for r in budgets.collect()},
        default_budget=8, global_budget=10, max_epochs=8,
    )
    eng = _engine_trace(spark, sd)
    assert len(CrawlState(sd).log.committed_epochs()) == len(sim.epochs) == 8
    for e, sim_urls in enumerate(sim.epochs):
        assert [r["url"] for r in eng.get(e, [])] == sim_urls, f"visit order differs at epoch {e}"
    assert all(len(urls) == 10 for urls in sim.epochs)
    fetched = CrawlState(sd).fetched.read(spark)
    assert fetched.count() == fetched.select("url").distinct().count()


def test_normalize_urls_collapses_aliases(spark, tmp_path):
    """With normalize_urls=True, alias forms of one URL (case, default
    port, fragment) collapse to a single canonical frontier row — one
    fetch, no politeness double-spend."""
    import datetime as dt

    from pyspark.sql import Row

    base_ts = dt.datetime(2024, 3, 1)
    pages = spark.createDataFrame([
        Row(url="https://site.example/a", warc_ts=base_ts,
            html=b"<html><body><p>hello doc</p></body></html>", lang="en"),
    ])
    seeds = spark.createDataFrame([
        Row(url="HTTPS://Site.Example/a", priority=0),
        Row(url="https://site.example:443/a", priority=0),
        Row(url="https://site.example/a#frag", priority=0),
    ])
    sd = str(tmp_path / "s")
    stats = web_crawl(
        spark, pages, sd, seeds,
        config=CrawlConfig(default_budget=8, max_epochs=2, normalize_urls=True),
    )
    fetched = CrawlState(sd).fetched.read(spark).collect()
    assert len(fetched) == 1
    assert fetched[0]["url"] == "https://site.example/a"
    assert fetched[0]["status"] == "ok"
    assert sum(s["urls_dequeued"] for s in stats) == 1  # one canonical row total


def test_respect_crawl_delay_budgets(spark, tmp_path):
    """CrawlConfig.respect_crawl_delay: a robots Crawl-delay translates
    into a per-host per-epoch fetch cap (floor(delay_epoch_seconds /
    delay)), taking the stricter of delay-derived and explicit
    budgets."""
    from crawlspark.testdata import write_corpus

    d = str(tmp_path / "c")
    paths = write_corpus(spark, d, n_pages=200, n_hosts=4)
    pages = spark.read.parquet(paths["pages"])
    seeds = spark.read.parquet(paths["seeds"])
    hosts = sorted(r.host for r in pages.select(
        F.regexp_extract("url", r"https://([^/]+)", 1).alias("host")
    ).distinct().collect())
    h_delay, h_both = hosts[0], hosts[1]
    # h_delay: delay 30s → floor(60/30) = 2 fetches/epoch
    # h_both: delay says 3 (60/20), explicit budget says 1 → stricter = 1
    robots = spark.createDataFrame(
        [(h_delay, [], 30.0), (h_both, [], 20.0)],
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    explicit = spark.createDataFrame(
        [(h_both, 1)], "host string, tokens_per_epoch int"
    )
    sd = str(tmp_path / "s")
    web_crawl(
        spark, pages, sd, seeds, robots=robots, host_budgets=explicit,
        config=CrawlConfig(
            default_budget=50, max_epochs=4,
            respect_crawl_delay=True, delay_epoch_seconds=60.0,
        ),
    )
    per_epoch = (
        CrawlState(sd).fetched.read(spark)
        .select("epoch", F.regexp_extract("url", r"https://([^/]+)", 1).alias("host"))
        .groupBy("epoch", "host").count().collect()
    )
    caps = {h_delay: 2, h_both: 1}
    for r in per_epoch:
        if r.host in caps:
            assert r["count"] <= caps[r.host], (r.host, r.epoch, r["count"])
    # the delay-capped hosts did fetch (budget floor, not a block)
    fetched_hosts = {r.host for r in per_epoch}
    assert h_delay in fetched_hosts and h_both in fetched_hosts


def test_polite_epoch_runs_few_jobs_over_pinned_relations(spark, corpus_dir, tmp_path, monkeypatch):
    """Epoch 1 of a polite crawl (robots, budgets, bloom from the
    start) runs at most 19 jobs; over lazy caches it ran 26, and with a
    broadcast fetch join beside the shuffle-hash one 20. A cached
    relation runs a job per reference to it, and shows in the write's
    plan as an InMemoryRelation; a pinned one is a Scan ExistingRDD.
    The epoch's plans read the pages snapshot once: the fetch is one
    join that yields hits and misses together."""
    import crawlspark.plans.epoch as epoch_mod
    from crawlspark.sources.tables import EpochTable

    pages, seeds, robots, budgets = _load_inputs(spark, corpus_dir)
    sd = str(tmp_path / "state")
    cfg = CrawlConfig(default_budget=4, bloom_min_seen=0, max_epochs=1)
    web_crawl(spark, pages, sd, seeds, robots=robots, host_budgets=budgets, config=cfg)

    plans = []
    pages_scans = []
    split = EpochTable.write_epoch_split
    pin = epoch_mod.pin

    def count_pages_scans(df):
        # a pages relation is the only one with an html column
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        pages_scans.append(
            sum("html#" in line for line in plan.splitlines() if "Relation " in line)
        )

    def spy(self, other, df, epoch):
        count_pages_scans(df)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return split(self, other, df, epoch)

    def spy_pin(df, pinned=None):
        count_pages_scans(df)
        return pin(df, pinned)

    monkeypatch.setattr(EpochTable, "write_epoch_split", spy)
    monkeypatch.setattr(epoch_mod, "pin", spy_pin)
    cfg.max_epochs = 2
    sc = spark.sparkContext
    sc.setJobGroup("polite-epoch-job-count", "web_crawl epoch 1")
    try:
        stats = web_crawl(
            spark, pages, sd, seeds, robots=robots, host_budgets=budgets, config=cfg
        )
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("polite-epoch-job-count")
    assert [s["epoch"] for s in stats] == [1] and stats[0]["urls_dequeued"] > 0
    assert 0 < len(jobs) <= 19, len(jobs)
    assert sum(pages_scans) == 1, pages_scans
    assert len(plans) == 1
    assert "InMemoryRelation" not in plans[0] and "Scan ExistingRDD" in plans[0], plans[0]
