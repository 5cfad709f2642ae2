"""The epoch driver loops: web-frontier crawl and catalog-parity crawl.

Both are *batch-incremental*: each epoch is one DataFrame batch job whose
outputs commit atomically (SURVEY.md §1.3 — the reference processes
"everything newer than the cursor" then exits, Downloader.cs:37-80).

``web_crawl``   — the north_star engine: frontier → robots → salted
                  per-host top-K dequeue → fetch-with-retry (join against
                  the pages snapshot, Downloader.cs:297-318 retry bound)
                  → expression text extract → link discovery → next-epoch
                  frontier. Visit order is a property of the data:
                  (epoch, priority, discovery_ts, url).

``catalog_crawl`` — reference-parity incremental catalog walk with
                  MaxPages / MaxCommits budget semantics pinned by the
                  reference's integration tests
                  (DownloadCommandHandlerIntegrationTests.cs:83-158).
                  An increment selects its leaves with one pushed-down
                  ``warc_ts`` range, so it reads O(delta) of the pages
                  log in three actions (index head, commit cutoff,
                  write): five Spark jobs, where the leaf-to-page join
                  it replaces took seventeen.

Scale + latency design (100 TB / 10^10-frontier; also the sandbox's
scaling-efficiency lever — constant per-job driver latency dominates
small runs, so the loop runs a FIXED, small number of actions per epoch):

  * **Frontier invariant**: the committed frontier never contains a
    seen (finally-fetched) url, so the dequeue path needs NO seen-set
    work at all; the seen filter runs once, on newly-discovered links,
    inside the frontier-build job.
  * **Three pins and ONE write action per epoch.** The relations the
    epoch reads more than once (the top-K's ``phase1``, ``dequeued`` and
    the fetched-outcome ``base``) are each materialized once, eagerly,
    by ``session.pin`` (a local checkpoint), so the write reads flat
    ``Scan ExistingRDD`` leaves. They are pins and not caches because
    AQE plans every reference to a cached relation as a query stage of
    its own, and stages that start before the cache is filled each run
    a job over it (a polite-benchmark epoch ran 24 jobs over caches,
    17.5 over pins). The write stages both the fetched table and the
    next frontier (union + partitionBy discriminator, split into each
    table's epoch dir), plus an O(delta) bloom fold only while the
    bloom is active. Everything else the driver needs (row counts,
    per-partition lineage, cursor, break conditions) comes from one
    Observation attached to the write plan and from parquet FOOTER
    metadata of the written files — O(#files) driver work, no data-page
    reads, no standalone count() actions.
  * the seen-set bloom is folded forward incrementally (O(epoch delta)):
    Spark's JVM bloom filter, merged on the driver and probed by a
    Catalyst expression (operators/bloom.py);
  * extraction runs as Catalyst expressions, so the default loop starts
    no Python worker. An epoch that meets payloads that are not valid
    UTF-8 (gzip members, poison blobs) is staged again on the Arrow UDF,
    and later epochs of the state dir start there (functions/extract.py).
  * the per-host window is the salted two-phase top-K (politeness.py) —
    no hot-host task;
  * the fetch is an equi-join on ``url`` — small dequeues broadcast (the
    100 TB pages side is never shuffled), large ones use one right-outer
    shuffle-hash join; at production scale the pages table is bucketed
    by url hash so this join co-locates without shuffling pages.

Fetch retry (O1, Downloader.cs:297-318 — 3 attempts per url): a url
whose fetch misses is re-queued to the next epoch's frontier with
``attempts+1`` until ``max_attempts``, then recorded with status
'failed'. The reference retries in-process within one download; the
batch analog retries across epochs — same bound, same permanence of the
final failure. The ``fetched`` table holds only FINAL outcomes ('ok' /
'failed'), which keeps it duplicate-free and keeps the frontier
invariant exact. The pages snapshot may carry an optional
``available_from_attempt`` column (attempt number, 1-based, at which the
fetch starts succeeding) to model deterministic transient failures;
absent means available on the first attempt.
"""

from __future__ import annotations

import datetime as dt
import glob as _glob
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from crawlspark.functions.extract import (
    extract_page,
    extract_text,
    extract_text_udf,
    needs_python,
)
from crawlspark.functions.urls import host_of, is_valid_http_url, normalize_url
from crawlspark.operators.bloom import IncrementalSeen, seen_filter
# bucketed_interval_join and commit_budget_cutoff are unused here since
# catalog_crawl selects its leaves with one warc_ts range: the traced
# benchmark (perfbench/tracing.py) wraps both as attributes of this
# module and does not start without them.
from crawlspark.operators.intervals import bucketed_interval_join  # noqa: F401
from crawlspark.operators.ordering import (
    EPOCH_MIN,
    commit_budget_cutoff,  # noqa: F401
    cursor_filter,
    from_micros,
    ordered_limit,
    unix_micros,
    utc_lit,
)
from crawlspark.operators.blocklist import filter_blocked_hosts
from crawlspark.operators.prioritize import apply_priority_scores
from crawlspark.operators.urltraps import filter_crawl_traps
from crawlspark.operators.politeness import (
    ORDER_COLS,
    apply_robots,
    budgets_from_crawl_delay,
    derate_budgets,
    update_backoff,
    topk_per_host_split,
)
from crawlspark.plans.state import CrawlState
from crawlspark.session import pin, unpin, unpin_all

DISCOVERY_BASE = dt.datetime(2024, 1, 1)


def _discovery_ts(epoch: int) -> dt.datetime:
    """Deterministic discovery timestamp per epoch (no wall-clock)."""
    return DISCOVERY_BASE + dt.timedelta(minutes=epoch)


def _utc_naive(v: dt.datetime | None) -> dt.datetime | None:
    if v is not None and v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _needed_python(stats: list[dict]) -> bool:
    """Whether a committed epoch or increment met payloads only the
    Python extraction reads byte-identically (functions/extract.py)."""
    return any(s.get("python_fallback_rows", 0) > 0 for s in stats)


def _dir_files(epoch_dir: str) -> list[str]:
    return sorted(_glob.glob(os.path.join(epoch_dir, "*.parquet")))


def _dir_row_count(epoch_dir: str) -> tuple[int, int]:
    """(row count, file count) of a written epoch dir from parquet FOOTER
    metadata only — free driver-side reads, no Spark action."""
    import pyarrow.parquet as pq

    files = _dir_files(epoch_dir)
    return sum(pq.ParquetFile(p).metadata.num_rows for p in files), len(files)


def _lineage_from_footers(epoch_dir: str) -> list[tuple]:
    """Per-partition lineage from parquet FOOTER metadata only (replaces
    a per-row driver-side read — O(#files), no data pages): one file ≙
    one partition; ok rows have non-null ``text`` and failed rows never
    do, so row-group null counts split the outcome; ``warc_ts`` min/max
    statistics give the partition cursor (written as TIMESTAMP_MICROS so
    footers carry stats — session.py); bytes is the partition's parquet
    size on disk. The exact global sum of fetched content_bytes lives in
    the epoch stats, measured by the write job's Observation."""
    import pyarrow.parquet as pq

    rows: list[tuple] = []
    for pid, path in enumerate(_dir_files(epoch_dir)):
        md = pq.ParquetFile(path).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        n = md.num_rows
        failed = 0
        max_ts: dt.datetime | None = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            st_text = g.column(names["text"]).statistics
            failed += st_text.null_count if st_text is not None else 0
            st_warc = g.column(names["warc_ts"]).statistics
            if st_warc is not None and st_warc.has_min_max:
                v = _utc_naive(st_warc.max)
                if max_ts is None or v > max_ts:
                    max_ts = v
        rows.append((pid, max_ts, n - failed, failed, os.path.getsize(path)))
    return rows


@dataclass
class CrawlConfig:
    """Engine knobs + the reference's config guardrails (O15,
    Downloader.cs:55-63)."""

    default_budget: int = 4          # per-host tokens per epoch
    salt: int = 8                    # pseudo-hosts per host in phase-1 top-K
    max_epochs: int = 100
    global_budget_per_epoch: int | None = None
    max_total_urls: int | None = None
    max_attempts: int = 3            # fetch retries per url (Downloader.cs:299)
    use_bloom: bool = True
    # Canonicalize every seed and discovered link (functions/urls.py
    # normalize_url: lowercase scheme+host, strip default ports /
    # fragments / FQDN dots) BEFORE dedup and the seen-set, so URL
    # variants collapse to one frontier row and politeness accounting
    # can't be dodged by case/port/fragment aliases. Off by default:
    # the synthetic corpora are already canonical, and the 5 regexp
    # passes per raw link are measurable in the link stage; real-web
    # deployments should turn it on.
    normalize_urls: bool = False
    # Reject spider-trap-shaped links at admission (path depth, query
    # param fanout, repeated path segments, URL length — the Heritrix
    # guard family; operators/urltraps.py). Pure column expressions on
    # the link stage, no shuffle. Off by default for reference-parity
    # crawls (the catalog's URL space is finite by construction); any
    # open-web deployment should turn it on — an unbounded calendar
    # trap otherwise owns the frontier within a few epochs.
    trap_guard: bool = False
    # Respect robots.txt Crawl-delay by deriving per-host token budgets
    # (floor(delay_epoch_seconds / delay), min 1) from the robots table's
    # crawl_delay_s column and taking the STRICTER of that and any
    # explicit host_budgets row. Off by default: delay semantics assume
    # a wall-clock epoch cadence only the deployment knows.
    respect_crawl_delay: bool = False
    delay_epoch_seconds: float = 60.0
    bloom_fpp: float = 0.01
    bloom_capacity: int = 1_000_000  # initial sizing; grows 4x on overflow
    # cost-based activation: below this seen-set size the exact
    # anti-join after the link dedup is cheaper than a per-epoch filter
    # fold plus a probe and a second pass over the links (the seen urls
    # fit in a broadcast); above it the broadcast is impossible and the
    # bloom prefilter carries the check. Set 0 to force bloom from the
    # first epoch (tests do).
    bloom_min_seen: int = 2_000_000
    # Exponential per-host budget backoff on fetch failures: a host
    # whose attempts keep failing (5xx storm, dead site) gets its
    # dequeue budget halved per consecutive failing epoch
    # (max(1, budget >> consec_fails)) and restored the first clean
    # epoch. State is the tiny per-host `backoff` table (only unhealthy
    # hosts carry rows), written per epoch and read back on resume.
    # Costs one extra per-host aggregate over the pinned epoch outcomes
    # plus one small write per epoch — opt-in.
    adaptive_backoff: bool = False
    # Inline text analysis on fetch (tokens/simhash/quality). COST NOTE:
    # ~1.5x the analyze-off epoch wall at bench scale (the analyze
    # on/off row in BENCH/BASELINE.md), dominated by the Arrow simhash
    # UDF (textops.simhash64_udf — C md5 + numpy bit math with a
    # Zipf-friendly token-weight memo; the column-expression HOF shape
    # was 8-10x because Catalyst re-evaluates HOF lambdas per element)
    # plus quality_micro's stopword replace passes. No shuffle either
    # way. The explode+agg shape (simhash64_agg) is cheaper per token
    # but needs a token-level shuffle — at 100 TB that moves far more
    # bytes than the UDF burns cycles; run it as a post-crawl batch pass
    # when whole-corpus analysis is the goal, keep analyze=True for
    # always-on QA that tolerates the 1.5x.
    analyze: bool = False
    broadcast_threshold: int = 100_000  # dequeues larger than this use a shuffle-hash join

    def validate(self) -> None:
        if self.default_budget < 1:
            raise ValueError("default_budget must be >= 1")
        if self.salt < 1:
            raise ValueError("salt must be >= 1")
        if self.global_budget_per_epoch is not None and self.global_budget_per_epoch < 1:
            raise ValueError("global_budget_per_epoch must be >= 1")
        if self.max_attempts < 1:
            raise ValueError("max_attempts must be >= 1")


def _normalize_seeds(seeds: DataFrame, canonicalize: bool = False) -> DataFrame:
    """Validate, default-fill, and dedupe the seed list (min priority
    wins, matching the simulator's pending-merge rule). No host column —
    like the frontier table, host is derived post-shuffle (see
    FRONTIER_SCHEMA note). ``canonicalize`` applies normalize_url
    BEFORE the dedupe so URL aliases collapse to one seed."""
    cols = seeds.columns
    url = normalize_url(F.col("url")) if canonicalize else F.col("url")
    out = seeds.select(
        url.alias("url"),
        (F.col("priority") if "priority" in cols else F.lit(0)).cast("int").alias("priority"),
    )
    return (
        out.where(is_valid_http_url(F.col("url")))
        .groupBy("url").agg(F.min("priority").alias("priority"))
        .select(
            "url",
            "priority",
            utc_lit(_discovery_ts(0)).alias("discovery_ts"),
            F.lit(0).alias("attempts"),
        )
    )


def web_crawl(
    spark: SparkSession,
    pages: DataFrame,
    state_dir: str,
    seeds: DataFrame,
    *,
    robots: DataFrame | None = None,
    host_budgets: DataFrame | None = None,
    blocklist: DataFrame | None = None,
    priorities: DataFrame | None = None,
    config: CrawlConfig | None = None,
    logger=None,
) -> list[dict]:
    """Run the frontier crawl to exhaustion (or budget), resuming from
    the last committed epoch. Returns per-epoch stats dicts.

    Assumes ``pages`` is url-unique (a snapshot, per BASELINE.json
    input_hint) — the fetch join is then 1:1 and the dequeue count can be
    recovered from the fetch job itself."""
    cfg = config or CrawlConfig()
    cfg.validate()
    from crawlspark.logging import NullLogger

    log = logger if logger is not None else NullLogger()
    # verbose config dump, the reference's startup block (Downloader.cs:39-53)
    log.debug("Configuration:")
    log.debug("Default budget: {}", cfg.default_budget)
    log.debug("Max epochs: {}", cfg.max_epochs)
    log.debug("Max attempts: {}", cfg.max_attempts)
    log.debug("Bloom seen-set: {}", cfg.use_bloom)
    log.debug("Respect crawl-delay: {}", cfg.respect_crawl_delay)
    state = CrawlState(state_dir)
    start = state.next_epoch()
    stats_out: list[dict] = []
    prior = state.epoch_stats()
    # final outcomes only (ok + failed) — retried urls are still pending
    total_final = sum(s.get("urls_fetched", 0) + s.get("urls_failed", 0) for s in prior)
    # sticky: once an epoch needed the Python extraction, later ones start there
    python = _needed_python(prior)

    # what the run holds in the session, released however it ends:
    # the pinned broadcast sides and the current epoch's pins
    pinned: list[DataFrame] = []
    epoch_pins: list[DataFrame] = []
    try:
        # pin the tiny broadcast sides once per RUN: every epoch job
        # broadcasts them, and without this each broadcast re-scans the
        # user's source (parquet/CSV) from scratch — O(#epochs) re-reads
        if robots is not None:
            robots = pin(robots, pinned)
        if (
            cfg.respect_crawl_delay
            and robots is not None
            and "crawl_delay_s" in robots.columns
        ):
            delay_b = budgets_from_crawl_delay(robots, cfg.delay_epoch_seconds)
            if host_budgets is None:
                host_budgets = delay_b
            else:
                # a host present in both tables gets the stricter budget
                a = host_budgets.select("host", F.col("tokens_per_epoch").alias("__a"))
                b = delay_b.select("host", F.col("tokens_per_epoch").alias("__b"))
                host_budgets = a.join(b, "host", "full").select(
                    "host",
                    F.least(
                        F.coalesce("__a", "__b"), F.coalesce("__b", "__a")
                    ).alias("tokens_per_epoch"),
                )
        if host_budgets is not None:
            host_budgets = pin(host_budgets, pinned)

        backoff_df = None  # (host, consec_fails), carried across epochs
        if cfg.adaptive_backoff:
            prev_ep = state.next_epoch() - 1
            if prev_ep >= 0 and os.path.isdir(state.backoff._epoch_dir(prev_ep)):
                backoff_df = state.backoff.read(spark, epochs=[prev_ep]).drop("epoch")

        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        has_avail = "available_from_attempt" in pages.columns
        pages_cols = ["url", "warc_ts", "html", "lang"] + (
            ["available_from_attempt"] if has_avail else []
        )
        pages_sel = pages.select(*pages_cols)

        seen_bloom: IncrementalSeen | None = None
        if cfg.use_bloom:
            seen_bloom = IncrementalSeen(
                spark, capacity=max(cfg.bloom_capacity, 2 * total_final), fpp=cfg.bloom_fpp,
            )
            # (no eager fold here: the per-epoch catch-up below folds the
            # committed history once the seen set crosses bloom_min_seen —
            # this also covers resume)

        trace = os.environ.get("CRAWLSPARK_TRACE") == "1"
        tmark = [time.time()]

        def _t(label: str) -> None:
            if trace:
                now = time.time()
                print(f"    [epoch trace] {label}: {now - tmark[0]:.2f}s", flush=True)
                tmark[0] = now

        seed_count: int | None = None

        for epoch in range(start, cfg.max_epochs):
            if cfg.max_total_urls is not None and total_final >= cfg.max_total_urls:
                break
            tmark[0] = time.time()
            # tag every job this epoch submits — the Spark UI groups them,
            # and event-log analysis (perfbench/tracing.py) tells the epoch
            # loop's jobs from setup jobs by this prefix
            spark.sparkContext.setLocalProperty(
                "spark.job.description", f"crawl-epoch-{epoch}:{state_dir}"
            )

            # 1. pending frontier: previous epoch's remainder, or the seeds.
            #    The frontier invariant guarantees pending ∩ seen = ∅, so no
            #    seen-set filtering happens on this path at all.
            if epoch == 0:
                if seed_count is None:
                    seed_count = seeds.count()  # one tiny metadata-only job
                pending = _normalize_seeds(seeds, cfg.normalize_urls)
                if blocklist is not None:
                    # a blocked host is never fetched, even from the seed
                    # list; same suffix-match chain as link admission
                    pending = filter_blocked_hosts(pending, blocklist)
                pending = pending.repartition(n_shuffle, "url")
                est_dequeued = seed_count
            else:
                fdir = state.frontier._epoch_dir(epoch - 1)
                pending_rows, pending_files = _dir_row_count(fdir)
                if pending_rows == 0:
                    break
                pending = state.frontier.read(spark, epochs=[epoch - 1]).drop("epoch")
                # width-normalize: a small frontier read yields fewer input
                # splits than cores, starving every pre-shuffle step. One
                # cheap narrow-row shuffle fixes it; skipped when the source
                # is already wide (the at-scale case).
                if pending_files < max(2, n_shuffle // 2):
                    pending = pending.repartition(n_shuffle, "url")
                est_dequeued = pending_rows
            if cfg.global_budget_per_epoch is not None:
                est_dequeued = min(est_dequeued, cfg.global_budget_per_epoch)

            if priorities is not None:
                # external visit-order signal (in-link counts / PageRank /
                # sitemap priority — operators/prioritize.py): one url-keyed
                # left join; unscored rows keep their inherited priority
                pending = apply_priority_scores(pending, priorities)

            # host re-derived AFTER the frontier read / width repartition —
            # the stored frontier row and every pre-dequeue shuffle stay
            # host-free (bandwidth), the regex is codegen'd compute (scales)
            pending = pending.withColumn("host", host_of(F.col("url")))

            # 2. robots + politeness dequeue (salted two-phase per-host top-K).
            #    The split variant yields the selected set AND the remainder
            #    from one pinned phase-1 pass — no remainder anti-join over
            #    the frontier.
            allowed = apply_robots(pending, robots)
            epoch_budgets = host_budgets
            if cfg.adaptive_backoff and backoff_df is not None:
                # exponential deration for currently-unhealthy hosts; tiny
                # table, broadcast at the dequeue join like any budget table
                epoch_budgets = derate_budgets(
                    host_budgets, backoff_df, cfg.default_budget
                )
            dequeued, remaining, phase1 = topk_per_host_split(
                allowed, epoch_budgets, cfg.default_budget, salt=cfg.salt,
            )
            epoch_pins.append(phase1)
            if cfg.global_budget_per_epoch is not None:
                # the first global_budget rows of the per-host top-K in
                # visit order; the rows past the limit stay pending (an
                # anti-join over the small pinned top-K, not the frontier)
                per_host = pin(dequeued, epoch_pins)
                dequeued = pin(
                    ordered_limit(per_host, cfg.global_budget_per_epoch, list(ORDER_COLS)),
                    epoch_pins,
                )
                remaining = remaining.unionByName(
                    per_host.join(dequeued.select("url"), "url", "left_anti")
                )
            else:
                dequeued = pin(dequeued, epoch_pins)

            # 3. "fetch": equi-join against the pages snapshot. Small dequeues
            #    broadcast (one pages scan with all columns + one url-only
            #    columnar scan for the misses semi-join — the 100 TB table is
            #    never shuffled); large dequeues use ONE right-outer
            #    shuffle-hash join that yields hits and misses together —
            #    building a multi-hundred-MB broadcast relation is
            #    single-threaded driver work and anti-scales.
            small = est_dequeued <= cfg.broadcast_threshold
            if small:
                found = pages_sel.join(F.broadcast(dequeued), "url", "inner")
                found_urls = pages_sel.select("url").join(
                    F.broadcast(dequeued.select("url")), "url", "left_semi"
                )
                notfound = dequeued.join(found_urls, "url", "left_anti").select(
                    "url", "host", "priority", "discovery_ts", "attempts",
                    F.lit(None).cast("timestamp").alias("warc_ts"),
                    F.lit(None).cast("binary").alias("html"),
                    F.lit(None).cast("string").alias("lang"),
                    *(
                        [F.lit(None).cast("int").alias("available_from_attempt")]
                        if has_avail else []
                    ),
                )
                joined = found.select(*notfound.columns).unionByName(notfound)
            else:
                joined = pages_sel.join(dequeued.hint("SHUFFLE_HASH"), "url", "right")

            att1 = (F.col("attempts") + 1).cast("int")
            avail = (
                F.coalesce(F.col("available_from_attempt"), F.lit(1)) if has_avail else F.lit(1)
            )
            ok = F.col("html").isNotNull() & (att1 >= avail)
            status = (
                F.when(ok, F.lit("ok"))
                .when(att1 >= F.lit(cfg.max_attempts), F.lit("failed"))
                .otherwise(F.lit("retry"))
            )
            # cost-based seen-check: once the seen set outgrows a broadcast
            # (bloom_min_seen), the bloom filter prefilters links BEFORE the
            # groupBy shuffle and only the maybe-seen residue joins the seen
            # table. Below the threshold, the exact anti-join runs AFTER the
            # groupBy (reusing its url partitioning) against a broadcastable
            # seen side — no per-epoch fold and no second pass over the links.
            # Catch-up fold: first epoch above the threshold (or a resume)
            # folds the committed history once; OR-ing is idempotent.
            bloom_active = seen_bloom is not None and total_final >= cfg.bloom_min_seen
            if bloom_active and seen_bloom.count < total_final:
                seen_bloom.fold(state.seen_urls(spark), n_new=total_final - seen_bloom.count)
                seen_bloom.rebuild_if_needed(state.seen_urls(spark))

            # The extraction runs as expressions unless the state dir already
            # met payloads they cannot read (``python``). The write's
            # Observation counts such payloads; when there are any, the epoch
            # is staged again on the Python UDF (staged dirs stay invisible
            # until the commit below, and the re-write overwrites them), and
            # ``python`` stays True for the epochs after it.
            for python in (python, True):
                base = joined.select(
                    "url", "host", "priority", "discovery_ts",
                    F.when(ok, F.col("warc_ts")).alias("warc_ts"),
                    extract_page(F.col("html"), python).alias("page"),
                    F.when(ok, F.col("lang")).alias("lang"),
                    status.alias("status"),
                    F.when(ok, F.length("html").cast("long"))
                    .otherwise(F.lit(0)).alias("content_bytes"),
                    att1.alias("attempts"),
                    ok.alias("__ok"),
                    (ok & needs_python(F.col("html"))).alias("__py"),
                ).select(
                    "url", "host", "priority", "discovery_ts", "warc_ts",
                    F.when(F.col("__ok"), F.col("page.text")).alias("text"),
                    F.when(F.col("__ok"), F.col("page.links")).alias("links"),
                    "lang", "status", "attempts", "content_bytes", "__py",
                )
                # analysis in a second projection so the extraction column is
                # referenced (and evaluated) exactly once
                if cfg.analyze:
                    # simhash via the Arrow UDF, not the HOF expression: Catalyst
                    # re-evaluates HOF lambdas per element, and the 64-lane
                    # interpreted accumulate made analyze=True ~8x slower than
                    # off (textops.simhash64_udf docstring; bench analyze row)
                    from crawlspark.operators.textops import (
                        quality_micro,
                        simhash64_udf,
                        token_count,
                    )

                    base = base.withColumns({
                        "n_tokens": token_count(F.col("text")),
                        "simhash": simhash64_udf(F.col("text")),
                        "quality_micro": quality_micro(F.col("text")),
                    })
                else:
                    base = base.withColumns({
                        "n_tokens": F.lit(None).cast("long"),
                        "simhash": F.lit(None).cast("long"),
                        "quality_micro": F.lit(None).cast("long"),
                    })
                # single pages scan + single html decode; html never pinned
                base = pin(base, epoch_pins)
                # ONE observation on the full dequeued-outcome relation: row
                # counts, byte sum and cursor come out of the write job itself —
                # no standalone count() actions (driver-latency lever). The
                # observe node sits ABOVE the pin and only on the branch
                # feeding write A, so it fires exactly once.
                obs = Observation(f"epoch_{epoch}_py" if python else f"epoch_{epoch}")
                base_obs = base.observe(
                    obs,
                    F.count(F.lit(1)).alias("n_dequeued"),
                    F.count(F.when(F.col("status") == "ok", 1)).alias("n_ok"),
                    F.count(F.when(F.col("status") == "failed", 1)).alias("n_failed"),
                    F.sum("content_bytes").alias("bytes"),
                    unix_micros(F.max("warc_ts")).alias("max_warc"),
                    F.count(F.when(F.col("__py"), 1)).alias("n_python"),
                )

                # 4. stage the fetched table: FINAL outcomes only ('ok'/'failed');
                #    'retry' rows go back to the frontier instead (O1 retry).
                fetched_out = base_obs.where(F.col("status") != "retry").drop("links", "__py")

                # 5. discover outlinks → next frontier.
                #      next = dedupe(remaining ∪ retries ∪ (links ∖ seen)) ∖ finals
                #    where dedupe keeps the min (discovery_ts, priority) entry —
                #    an existing pending/retrying row always beats a fresh
                #    re-discovery (its discovery_ts is older), matching the
                #    sequential-reference semantics. Only the LINKS see the
                #    seen-set (bloom prefilter + exact anti-join backstop on the
                #    maybe-seen residue); remaining and retries are unseen by the
                #    frontier invariant. finals excludes this epoch's outcomes.
                # No host here: host_of is a regex per row and links are PRE-dedup
                # (the same url can appear from thousands of pages) — deriving
                # host after the groupBy shuffle computes it once per SURVIVOR
                # and keeps the biggest shuffle of the epoch host-free.
                raw_url = F.explode("links").alias("url")
                links = base.where(F.col("status") == "ok").select(
                    raw_url, (F.col("priority") + 1).alias("priority")
                )
                if cfg.normalize_urls:
                    # canonicalize BEFORE validity/dedup/seen — alias forms of
                    # one URL must collapse to a single frontier row
                    links = links.withColumn("url", normalize_url(F.col("url")))
                links = links.where(is_valid_http_url(F.col("url")))
                if blocklist is not None:
                    # per-label-depth broadcast hash anti-joins — narrow, the
                    # blocklist broadcast is built once per run and reused
                    links = filter_blocked_hosts(links, blocklist)
                if cfg.trap_guard:
                    # trap-shaped links never reach dedup/seen/frontier: the
                    # guard runs pre-shuffle on the raw link stream, so an
                    # unbounded URL family costs only its extraction bytes
                    links = filter_crawl_traps(links)
                links = (
                    links.withColumn("discovery_ts", utc_lit(_discovery_ts(epoch + 1)))
                    .withColumn("attempts", F.lit(0))
                )
                if bloom_active and total_final > 0:
                    # (before the first commit the seen set is empty, and
                    # seen_filter would run a count job to filter nothing)
                    # seen_filter evaluates its input twice (definitely-new +
                    # maybe-seen residue branches), so it must run over a CHEAP
                    # plan — the link explode straight off the pinned `base`,
                    # never a post-shuffle relation.
                    links = seen_filter(
                        spark, links, state.seen_urls(spark),
                        use_bloom=True,
                        bloom=seen_bloom.serialized,
                    )
                frontier_cols = ["url", "priority", "discovery_ts", "attempts"]
                next_frontier = (
                    remaining.select(*frontier_cols)
                    .unionByName(base.where(F.col("status") == "retry").select(*frontier_cols))
                    .unionByName(links.select(*frontier_cols))
                    .groupBy("url")
                    .agg(F.min(F.struct("discovery_ts", "priority", "attempts")).alias("s"))
                    .select(
                        "url",
                        F.col("s.priority").alias("priority"),
                        F.col("s.discovery_ts").alias("discovery_ts"),
                        F.col("s.attempts").alias("attempts"),
                    )
                    .join(
                        base.where(F.col("status") != "retry").select("url").hint("SHUFFLE_HASH"),
                        "url", "left_anti",
                    )
                )
                if not bloom_active and total_final > 0:
                    # exact path: remaining/retries are unseen by the frontier
                    # invariant, so this is a no-op for them; links to seen urls
                    # drop here. Runs on the deduped set, post-shuffle.
                    # SHUFFLE_HASH (here and on the finals anti-join above):
                    # catalyst would pick broadcast for a sub-threshold seen
                    # side, but building a 10^5-10^6-url hashed relation is
                    # SERIAL driver work — a per-epoch constant that anti-scales
                    # (same reason the large fetch join avoids broadcast). The
                    # left side is already url-partitioned by the groupBy, so
                    # only the small right side shuffles, fully parallel.
                    next_frontier = next_frontier.join(
                        state.seen_urls(spark).hint("SHUFFLE_HASH"), "url", "left_anti"
                    )

                # 6. ONE write action stages BOTH tables: fetched rows and next
                #    frontier union under a discriminator column, partitionBy
                #    splits them into each table's epoch dir. One pass over the
                #    pins, one job's worth of scheduling per epoch.
                combined = fetched_out.withColumn("__table", F.lit("fetched")).unionByName(
                    next_frontier.withColumn("__table", F.lit("frontier")),
                    allowMissingColumns=True,
                )
                state.fetched.write_epoch_split(state.frontier, combined, epoch)  # ACTION A
                m = obs.get
                if python or m["n_python"] == 0:
                    break
                epoch_pins.remove(base)
                unpin(base)
            _t("write fetched+frontier")
            n_dequeued = m["n_dequeued"]
            n_ok, n_failed = m["n_ok"], m["n_failed"]
            n_final = n_ok + n_failed
            n_retry = n_dequeued - n_final
            if n_dequeued == 0:
                # nothing was pending beyond robots-blocked leftovers: the
                # crawl is complete. The uncommitted epoch dirs are invisible
                # to readers; remove them for tidiness.
                import shutil
                shutil.rmtree(state.fetched._epoch_dir(epoch), ignore_errors=True)
                shutil.rmtree(state.frontier._epoch_dir(epoch), ignore_errors=True)
                break
            n_frontier, _nf = _dir_row_count(state.frontier._epoch_dir(epoch))

            # 7. per-partition lineage + fetch metrics (north_star checkpoint)
            #    from the written files' FOOTERS — no extra action, O(#files).
            lineage_rows = _lineage_from_footers(state.fetched._epoch_dir(epoch))
            state.lineage.write_epoch_rows([("download", *r) for r in lineage_rows], epoch)

            if cfg.adaptive_backoff:
                # fold this epoch's per-host outcomes into the backoff state
                # (ONE tiny aggregate over the pinned outcomes) and persist
                # it pre-commit like the other epoch tables; re-read from
                # parquet so the carried relation outlives unpin(base)
                host_stats = base.groupBy("host").agg(
                    F.count(F.when(F.col("status") != "ok", 1)).alias("n_bad")
                )
                state.backoff.write_epoch(
                    update_backoff(backoff_df, host_stats), epoch
                )
                # read the STAGED dir directly (EpochTable.read only serves
                # committed epochs, and the commit happens below); explicit
                # schema so an all-healthy (0-row) epoch still reads
                backoff_df = spark.read.schema(state.backoff.schema).parquet(
                    state.backoff._epoch_dir(epoch)
                )
                _t("backoff fold")

            # 8. ONE atomic commit for all three tables.
            max_warc = from_micros(m["max_warc"]) or EPOCH_MIN
            cursor = max(state.cursor("download"), max_warc)
            epoch_stats = {
                "epoch": epoch,
                "urls_dequeued": int(n_dequeued),
                "urls_fetched": int(n_ok),
                "urls_failed": int(n_failed),
                "urls_retrying": int(n_retry),
                "urls_pending_after": int(n_frontier),
                "bytes": int(m["bytes"] or 0),
                "python_fallback_rows": int(m["n_python"]),
            }
            state.commit_epoch(epoch, cursors={"download": cursor}, stats=epoch_stats)
            stats_out.append(epoch_stats)
            log.info("Epoch {}: committed", epoch)
            with log.indent():
                log.info("Fetched {} urls ({} failed, {} retrying)", n_ok, n_failed, n_retry)
                log.debug("Frontier pending after: {}", int(n_frontier))
                log.debug("Bytes fetched: {}", int(m["bytes"] or 0))
            total_final += n_final

            # 9. fold this epoch's newly-final urls into the carried bloom
            #    (ACTION C — small, O(delta)); grow-and-rebuild only when the
            #    count outgrows capacity. Runs only while the bloom is
            #    active (above bloom_min_seen) and a further epoch will
            #    consume it — otherwise the catch-up fold at activation (or
            #    on resume) rebuilds from the committed history.
            if bloom_active and n_frontier > 0 and epoch + 1 < cfg.max_epochs:
                seen_bloom.fold(
                    base.where(F.col("status") != "retry").select("url"), n_new=n_final
                )
                seen_bloom.rebuild_if_needed(state.seen_urls(spark))
                _t("bloom fold")

            unpin_all(epoch_pins)
            if n_frontier == 0:
                break
        return stats_out
    finally:
        unpin_all(epoch_pins)
        unpin_all(pinned)


def visited_trace(spark: SparkSession, state_dir: str) -> DataFrame:
    """The reproducible visit order — the golden-trace artifact. Order is
    recovered from data, never from execution timing (SURVEY.md §4)."""
    state = CrawlState(state_dir)
    return state.fetched.read(spark).orderBy("epoch", "priority", "discovery_ts", "url")


# ---------------------------------------------------------------------------
# Reference-parity catalog crawl (depths + MaxPages/MaxCommits budgets)
# ---------------------------------------------------------------------------

# All four reference depths (DownloadDepth.cs:11-27): service_index ≙
# ServiceIndex (0), index ≙ CatalogIndex (1), page ≙ CatalogPage (2),
# leaf ≙ CatalogLeaf (3).
DEPTHS = ("service_index", "index", "page", "leaf")


def catalog_crawl(
    spark: SparkSession,
    pages: DataFrame,
    index: DataFrame,
    state_dir: str,
    *,
    depth: str = "leaf",
    max_pages: int | None = None,
    max_commits: int | None = None,
    consumer: str = "download",
    default_cursor: dt.datetime | None = None,
    json_formatting: str = "unchanged",
    mirror_dir: str | None = None,
    format_paths: bool = False,
    logger=None,
) -> dict:
    """One incremental run over the catalog: the set-based equivalent of
    the reference's sequential page loop (Downloader.cs:91-195).

    * pages newer than the cursor, ordered by (page_ts, page_no), first
      ``max_pages`` (O5+O6+O7); their count and newest page_ts ``hi``
      are one collected row;
    * leaves bounded by *their page's advertised* page_ts — leaves newer
      than the index claims defer to the next run (Downloader.cs:126);
    * ``max_commits`` keeps only the first N whole commits of the global
      commit order — never splits a commit (O8+O9). The driver collects
      the last of the first N distinct ``warc_ts`` in ``(cursor, hi]``
      (an ordered limit) and lowers ``hi`` to it, or to the cursor when
      the range holds no leaf. It applies at BOTH page and leaf depth
      (the reference pins MaxCommits at CatalogPage depth too:
      DownloadCommandHandlerIntegrationTests MaxCommits — the cursor
      stops at the last included commit so later commits re-crawl);
    * cursor advances to the max fully-included commit (min-watermark
      collapses to this under atomic epoch commits, O12/O13).

    Leaf membership is the one range ``cursor < warc_ts <= hi`` on the
    pages scan; both bounds reach the parquet scan's pushed filters, so
    row-group statistics skip the already-crawled log. The range is
    exactly the leaves of the selected pages. Page p holds the leaves in
    ``(prev page_ts, p.page_ts]``, and these intervals partition time
    from EPOCH_MIN. The selected pages are a prefix, in (page_ts,
    page_no) order, of the pages after the cursor, so the page before
    the first of them (if any) has page_ts <= cursor. Their intervals
    are contiguous, and with ``warc_ts > cursor`` they cover
    ``(cursor, hi]`` exactly; a page that shares page_ts with the one
    before it holds the empty interval, wherever ``max_pages`` cuts.
    Leaves newer than every advertised page_ts lie above any ``hi`` and
    still defer (Downloader.cs:126). The increment's row count, newest
    ``warc_ts`` and Python-fallback count come from an Observation on
    its write, as in ``web_crawl``.

    Assumes commits do not span catalog pages and page order equals
    commit order — true of the NuGet catalog and of our corpus.

    ``mirror_dir`` enables the physical disk mirror (O2, one file per
    leaf document under ``mirror_dir/host/path``); ``format_paths``
    applies the reference's directory-fanout sharding to those paths
    (O26 page buckets + O25 timestamp explosion, PathFormatter.cs:30-60).
    """
    if depth not in DEPTHS:
        raise ValueError(f"depth must be one of {DEPTHS}")
    if max_commits is not None and DEPTHS.index(depth) < DEPTHS.index("page"):
        raise ValueError("max_commits requires depth >= page (Downloader.cs:55-58)")
    if max_pages is not None and DEPTHS.index(depth) < DEPTHS.index("index"):
        raise ValueError("max_pages requires depth >= index (Downloader.cs:60-63)")
    if json_formatting not in ("unchanged", "pretty", "pretty_when_unindented", "minify"):
        raise ValueError(f"unknown json_formatting {json_formatting!r}")
    from crawlspark.logging import NullLogger

    log = logger if logger is not None else NullLogger()
    # verbose config dump (Downloader.cs:39-53) — same keys, table world
    log.debug("Configuration:")
    log.debug("Depth: {}", depth)
    log.debug("JSON formatting: {}", json_formatting)
    log.debug("Max pages: {}", max_pages)
    log.debug("Max commits: {}", max_commits)
    log.debug("Save to disk: {}", mirror_dir is not None)
    log.debug("Format paths: {}", format_paths)
    state = CrawlState(state_dir)
    run = state.next_epoch()
    python = _needed_python(state.epoch_stats())

    if depth == "service_index":
        # ServiceIndex depth fetches + validates only the service index
        # and returns before any catalog work — no cursor is read or
        # advanced (Downloader.cs:65-69). The table analog of "parse the
        # service index and find the Catalog/3.0.0 resource" is probing
        # the catalog index's schema for the columns every deeper depth
        # relies on.
        missing = {"page_no", "page_ts"} - set(index.columns)
        if missing:  # "No Catalog/3.0.0 resource was found" analog
            raise ValueError(f"catalog index missing columns: {sorted(missing)}")
        state.commit_epoch(run, stats={"service_index": 1})
        return {"run": run, "pages": 0, "leaves": 0, "cursor": None}

    cursor = state.cursor(consumer, default=default_cursor)

    log.info("Downloading catalog index")  # Downloader.cs:93
    # the index head: how many pages are selected and the newest page_ts
    # among them, in one collected row (the index is tiny by design)
    sel_pages = ordered_limit(
        cursor_filter(index, cursor, ts_col="page_ts"), max_pages, ["page_ts", "page_no"]
    )
    n_pages, hi_us = sel_pages.agg(F.count(F.lit(1)), unix_micros(F.max("page_ts"))).first()
    with log.indent():
        log.debug("Found {} pages with new data.", n_pages)  # Downloader.cs:99
    if n_pages == 0:
        return {"run": run, "pages": 0, "leaves": 0, "cursor": cursor}
    hi = from_micros(hi_us)
    if depth == "index":
        state.commit_epoch(run, cursors={consumer: hi}, stats={"pages": n_pages})
        return {"run": run, "pages": n_pages, "leaves": 0, "cursor": hi}

    if max_commits is not None:
        # the first max_commits whole commits of (cursor, hi]: lowering hi
        # to the last of them keeps exactly those commits in the range
        commits = cursor_filter(pages, cursor, hi, ts_col="warc_ts").select("warc_ts").distinct()
        cut_us = (
            ordered_limit(commits, max(max_commits, 0), ["warc_ts"])
            .agg(unix_micros(F.max("warc_ts"))).first()[0]
        )
        hi = cursor if cut_us is None else from_micros(cut_us)

    if depth == "page":
        # Page depth enumerates leaf items without downloading them, but
        # MaxCommits still bounds the commits processed and the cursor
        # stops at the last included commit — the reference re-crawls the
        # remainder next run, never skips (Downloader.cs:222-224).
        state.commit_epoch(run, cursors={consumer: hi}, stats={"pages": n_pages})
        return {"run": run, "pages": n_pages, "leaves": 0, "cursor": hi}

    # one range predicate on the pages scan; both bounds push down
    leaves = cursor_filter(pages, cursor, hi, ts_col="warc_ts")
    pinned: list[DataFrame] = []
    try:
        if mirror_dir is not None:
            # the mirror and the fetched write both read the leaves
            leaves = pin(leaves, pinned)

        if json_formatting != "unchanged":
            # --format-paths-style mirroring (DownloadCommandHandler.cs:49-52,
            # 99): the document persisted to the mirror is the O3-rewritten
            # JSON body, not the raw bytes. Expects JSON documents (the
            # reference's catalog is all JSON; its parser throws on garbage
            # too, JsonFileHelper.cs:86-89).
            from crawlspark.operators.jsonfmt import rewrite_json

            leaves = rewrite_json(
                leaves.withColumn("__doc", F.col("html").cast("string")),
                "__doc", mode=json_formatting, out_col="__mirror", flag_col="__rw",
            )
            text_col = F.col("__mirror")
        else:
            text_col = extract_text_udf(F.col("html")) if python else extract_text(F.col("html"))

        if mirror_dir is not None:
            # O2 physical disk mirror with the --format-paths fanout toggle
            # (DownloadCommandHandler.cs:49-52, Downloader.cs:246-296): the
            # mirrored body is the (possibly O3-rewritten) document, the path
            # is the reference's host/path mapping with 500-page bucket dirs
            # and y/m/d/h timestamp explosion when format_paths is on.
            from crawlspark.functions.paths import mirror_path
            from crawlspark.sources.mirror import write_mirror

            body = text_col if json_formatting != "unchanged" else F.col("html").cast("string")
            write_mirror(
                leaves.select(
                    mirror_path(F.col("url"), format_paths=format_paths).alias("dest"),
                    body.alias("content"),
                ),
                mirror_dir,
            )

        def fetched_rows(src, text_col):
            return src.select(
                "url",
                host_of(F.col("url")).alias("host"),
                F.lit(0).alias("priority"),
                utc_lit(_discovery_ts(run)).alias("discovery_ts"),
                "warc_ts",
                text_col.alias("text"),
                "lang",
                F.lit("ok").alias("status"),
                F.lit(1).alias("attempts"),
                F.length("html").cast("long").alias("content_bytes"),
                F.lit(None).cast("long").alias("n_tokens"),
                F.lit(None).cast("long").alias("simhash"),
                F.lit(None).cast("long").alias("quality_micro"),
            )

        # the write job itself measures the increment (as in web_crawl)
        obs = Observation(f"catalog_{run}")
        observed = leaves.observe(
            obs,
            unix_micros(F.max("warc_ts")).alias("mx"),
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(needs_python(F.col("html")), 1)).alias("n_python"),
        )
        state.fetched.write_epoch(fetched_rows(observed, text_col), run)
        agg = obs.get
        if agg["n_python"] and json_formatting == "unchanged" and not python:
            # payloads the text expression cannot read: redo the staged
            # (still uncommitted) increment with the Python UDF
            state.fetched.write_epoch(fetched_rows(leaves, extract_text_udf(F.col("html"))), run)
        new_cursor = max(cursor, from_micros(agg["mx"]) or EPOCH_MIN)
        n_leaves = int(agg["n"])
        with log.indent():
            log.info("Processing {} catalog pages", n_pages)  # Downloader.cs:123
            with log.indent():
                log.info("Downloaded {} catalog leaves", n_leaves)  # Downloader.cs:151
        state.commit_epoch(
            run, cursors={consumer: new_cursor},
            stats={
                "pages": n_pages, "urls_fetched": n_leaves,
                "python_fallback_rows": int(agg["n_python"]),
            },
        )
        return {"run": run, "pages": n_pages, "leaves": n_leaves, "cursor": new_cursor}
    finally:
        # a failed increment must not leave its pin in the session
        unpin_all(pinned)
