"""Politeness: robots filtering and skew-aware per-host top-K dequeue.

Generalizes the reference's single global ``--parallel-downloads`` bound
(DownloadCommandHandler.cs:53-56, Downloader.cs:166-181) into per-host
token budgets, and its SHA-prefix directory binning (DirectoryBins.cs)
into the salted two-phase window that kills host skew — the explicit
requirement of BASELINE.json north_rule ("salted
repartitionAndSortWithinPartitions by (host_hash, priority,
discovery_ts) to kill host-skew hotspots").

Why two phases: ``row_number() OVER (PARTITION BY host ...)`` shuffles
every row of a hot host into ONE task. With a Zipf frontier (one host =
10% of 10^10 URLs) that task never finishes. Phase 1 splits each host
into ``salt`` pseudo-hosts — ``pmod(xxhash64(url), salt)`` — and takes a
local top-K per (host, salt); this bounds phase-2 input to at most
``salt × K`` rows per host, so the final exact per-host window runs on a
small, skew-free relation. The result is provably identical to the
unsalted window: the global per-host top-K by (priority, discovery_ts,
url) is contained in the union of per-salt top-Ks, because each salt
class loses only rows ranked below K within that class.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from crawlspark.functions.urls import path_of
from crawlspark.session import pin

ORDER_COLS = ("priority", "discovery_ts", "url")


def parse_robots_txt(
    robots_bodies: DataFrame, host_col: str = "host", body_col: str = "robots_txt"
) -> DataFrame:
    """Parse raw robots.txt bodies into the engine's robots cache shape
    ``(host, disallow_prefixes: array<string>)`` — the step between a
    real fetch of ``/robots.txt`` and :func:`apply_robots`.

    Single-pass line fold as ONE column expression (``aggregate`` with a
    struct accumulator — no UDF, no shuffle): a ``User-agent:`` line
    opens a group (``*`` groups apply to us); consecutive stacked
    ``User-agent`` lines extend the same group, so ``User-agent: a`` /
    ``User-agent: *`` / ``Disallow: /x`` applies, in either order;
    ``Disallow:`` with an empty value (allow-all) contributes nothing;
    ``#`` comments and blank lines are ignored ENTIRELY (RFC 9309 §2.2
    strips comments before parsing, so they don't break a stacked
    user-agent run: ``User-agent: *`` / ``# note`` / ``User-agent: x``
    keeps both agents in one group). Non-* rules are ignored (the
    engine identifies as the wildcard agent).

    Also captures the de-facto ``Crawl-delay:`` directive for groups
    that apply to us (last occurrence wins) as ``crawl_delay_s``
    (double seconds, NULL when absent) — feed it to
    :func:`budgets_from_crawl_delay` for per-host token budgets — and
    ``Sitemap:`` directives (sitemaps.org protocol: host-global, NOT
    scoped to any user-agent group, so they accumulate whether or not a
    group applies to us) as ``sitemap_urls`` in file order (an empty
    array when the body has none). A Sitemap line is a
    regular directive line: like any non-UA record it ends a stacked
    user-agent run."""
    body = F.col(body_col)
    lines = F.split(body, "\r?\n")
    init = F.struct(
        F.lit(False).alias("on"),        # inside a group that includes *
        F.lit(False).alias("ua_run"),    # previous line was a User-agent line
        F.array().cast("array<string>").alias("acc"),
        F.array().cast("array<string>").alias("alw"),
        F.lit(None).cast("string").alias("cd"),
        F.array().cast("array<string>").alias("sm"),
    )

    def step(s, ln):
        ua = F.regexp_extract(ln, r"(?i)^\s*user-agent\s*:\s*([^#\s]+)", 1)
        dis = F.regexp_extract(ln, r"(?i)^\s*disallow\s*:\s*([^#\s]*)", 1)
        # anchored, so 'Disallow:' can never feed the allow extractor
        alw = F.regexp_extract(ln, r"(?i)^\s*allow\s*:\s*([^#\s]*)", 1)
        cdv = F.regexp_extract(ln, r"(?i)^\s*crawl-delay\s*:\s*([0-9]*\.?[0-9]+)", 1)
        smv = F.regexp_extract(ln, r"(?i)^\s*sitemap\s*:\s*([^#\s]+)", 1)
        is_ua = ua != ""
        # comment / blank lines are stripped before parsing (RFC 9309):
        # they must not end a stacked user-agent run
        is_noise = ln.rlike(r"^\s*(#.*)?$")
        # a UA line extends the current group only if the previous line
        # was also a UA line; otherwise it starts a fresh group
        on = F.when(is_ua, (ua == "*") | (s.on & s.ua_run)).otherwise(s.on)
        acc = F.when(on & ~is_ua & (dis != ""), F.array_append(s.acc, dis)).otherwise(s.acc)
        alw_acc = F.when(on & ~is_ua & (alw != ""), F.array_append(s.alw, alw)).otherwise(s.alw)
        cd = F.when(on & ~is_ua & (cdv != ""), cdv).otherwise(s.cd)
        sm = F.when(smv != "", F.array_append(s.sm, smv)).otherwise(s.sm)
        return F.when(is_noise, s).otherwise(
            F.struct(on.alias("on"), is_ua.alias("ua_run"), acc.alias("acc"),
                     alw_acc.alias("alw"), cd.alias("cd"), sm.alias("sm"))
        )

    # fold once into a struct column, pick fields in a SECOND select:
    # two downstream references stop CollapseProject from inlining the
    # whole line fold into each output column (the winnow barrier trick)
    folded = F.aggregate(
        lines, init, step,
        lambda s: F.struct(s.acc.alias("acc"), s.alw.alias("alw"),
                           s.cd.alias("cd"), s.sm.alias("sm")),
    )
    return robots_bodies.select(
        F.col(host_col).alias("host"), folded.alias("__r")
    ).select(
        "host",
        F.col("__r.acc").alias("disallow_prefixes"),
        F.col("__r.alw").alias("allow_prefixes"),
        F.col("__r.cd").cast("double").alias("crawl_delay_s"),
        F.col("__r.sm").alias("sitemap_urls"),
    )


def budgets_from_crawl_delay(
    robots: DataFrame, epoch_seconds: float, min_tokens: int = 1
) -> DataFrame:
    """Per-host politeness budgets from parsed ``Crawl-delay`` values:
    ``tokens_per_epoch = floor(epoch_seconds / delay)``, clamped to at
    least ``min_tokens`` so an absurd delay still makes progress. Hosts
    without a delay are absent from the result (they get the caller's
    ``default_budget``). The output is the ``host_budgets`` table shape
    consumed by :func:`topk_per_host_split` — one tiny row per host,
    broadcast at the dequeue join."""
    return (
        robots.where(F.col("crawl_delay_s").isNotNull() & (F.col("crawl_delay_s") > 0))
        .select(
            "host",
            F.greatest(
                F.floor(F.lit(float(epoch_seconds)) / F.col("crawl_delay_s")),
                F.lit(min_tokens),
            ).cast("int").alias("tokens_per_epoch"),
        )
    )


def _rule_regex(p: Column) -> Column:
    """RFC 9309 path rule → anchored Java/RE2 regex: every regex
    metachar escaped, then the rule's ``*`` (match any sequence) and a
    TRAILING ``$`` (end anchor) restored. regexp_like is a search, so
    the leading ``^`` gives prefix semantics when no ``$`` is present —
    exactly the REP matching model."""
    rx = F.regexp_replace(p, r"([.^$*+?()\[\]{}|\\])", r"\\$1")
    rx = F.regexp_replace(rx, r"\\\*", ".*")
    rx = F.regexp_replace(rx, r"\\\$$", r"\$")
    return F.concat(F.lit("^"), rx)


def _rule_matches(path: Column, p: Column) -> Column:
    """One robots rule against one path: plain rules are prefix
    compares (the cheap common case); rules carrying ``*`` or a
    trailing ``$`` go through the regex translation."""
    wild = p.contains("*") | p.endswith("$")
    return F.when(wild, F.regexp_like(path, _rule_regex(p))).otherwise(
        path.startswith(p)
    )


def apply_robots(candidates: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop candidate urls blocked by the host's robots rules under RFC
    9309 longest-match precedence: the most specific (longest rule
    text) matching rule decides, and on a disallow/allow tie of equal
    length the allow (least restrictive) wins — so a url is dropped iff
    its longest matching disallow rule is strictly longer than its
    longest matching allow rule. Rules may carry the RFC's ``*``
    wildcard and trailing ``$`` anchor (§2.2.3); rule "length" is the
    raw rule text's length, wildcards included (the common
    implementation convention). A robots frame without an
    ``allow_prefixes`` column (the bare pre-Allow cache shape) behaves
    as before: any disallow match blocks. robots is tiny (one row per
    host) → broadcast left join, no shuffle of candidates."""
    if robots is None:
        return candidates
    joined = candidates.join(F.broadcast(robots), "host", "left")
    # stage the path once: a lambda closing over path_of(url) would
    # re-run the extraction regexp per prefix element (HOF rule)
    joined = joined.withColumn("__path", path_of(F.col("url")))

    def longest(col_name: str):
        arr = (
            F.coalesce(F.col(col_name), F.array().cast("array<string>"))
            if col_name in joined.columns
            else F.array().cast("array<string>")
        )
        return F.coalesce(
            F.array_max(
                F.transform(
                    F.filter(arr, lambda p: _rule_matches(F.col("__path"), p)),
                    lambda p: F.length(p),
                )
            ),
            F.lit(0),
        )

    blocked = longest("disallow_prefixes") > longest("allow_prefixes")
    # drop() ignores absent columns, so both robots shapes — the bare
    # (host, disallow_prefixes) cache and parse_robots_txt's output with
    # allow_prefixes / crawl_delay_s / sitemap_urls — pass through
    # without widening the candidate schema
    return joined.where(~blocked).drop(
        "__path", "disallow_prefixes", "allow_prefixes",
        "crawl_delay_s", "sitemap_urls",
    )


def topk_per_host_split(
    candidates: DataFrame,
    host_budgets: DataFrame | None,
    default_budget: int,
    salt: int = 8,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Politeness dequeue returning (dequeued, remainder, phase1).

    ``dequeued`` is the top-``budget`` urls per host in deterministic
    (priority, discovery_ts, url) order. Budget comes from the broadcast
    host_budgets(host, tokens_per_epoch) table, defaulting to
    ``default_budget`` for unlisted hosts. Salted two-phase top-K (see
    module docstring): both windows shuffle by their partition keys
    only, and phase 2's input is ≤ salt × max_budget rows per host.

    ``remainder`` (the rows NOT selected) comes from the same pinned
    phase-1 relation instead of a later anti-join — one fewer shuffle
    per epoch, and it is exact: phase-1 dropped rows (rank within (host,
    salt) beyond budget) are by construction outside the per-host top-K,
    and phase-2 ranks the pruned survivors exactly. ``phase1`` is
    materialized here, once (``session.pin``); the caller unpins it
    when done.
    """
    df = candidates
    if host_budgets is not None:
        df = df.join(F.broadcast(host_budgets), "host", "left")
        df = df.withColumn(
            "__budget", F.coalesce(F.col("tokens_per_epoch"), F.lit(default_budget))
        ).drop("tokens_per_epoch")
    else:
        df = df.withColumn("__budget", F.lit(default_budget))

    order = [F.col(c) for c in ORDER_COLS]
    df = df.withColumn("__salt", F.pmod(F.xxhash64("url"), F.lit(salt)).cast("int"))
    w1 = Window.partitionBy("host", "__salt").orderBy(*order)
    phase1 = pin(df.withColumn("__rn1", F.row_number().over(w1)))

    out_cols = [c for c in candidates.columns]
    kept = phase1.where(F.col("__rn1") <= F.col("__budget"))
    w2 = Window.partitionBy("host").orderBy(*order)
    ranked = kept.withColumn("__rn2", F.row_number().over(w2))
    dequeued = ranked.where(F.col("__rn2") <= F.col("__budget")).select(*out_cols)
    remainder = (
        phase1.where(F.col("__rn1") > F.col("__budget")).select(*out_cols)
        .unionByName(ranked.where(F.col("__rn2") > F.col("__budget")).select(*out_cols))
    )
    return dequeued, remainder, phase1


# ---------------------------------------------------------------------------
# Adaptive per-host backoff — exponential budget deration on failure
# ---------------------------------------------------------------------------

def update_backoff(prev: DataFrame | None, host_stats: DataFrame) -> DataFrame:
    """Fold one epoch's per-host outcomes into the backoff state.

    ``host_stats`` carries (host, n_bad) for every host ATTEMPTED this
    epoch (n_bad = failed + retrying fetches). Transition:

      * attempted with failures  → consec_fails = prev + 1
      * attempted, all clean     → reset (row dropped — a healthy host
        carries no state)
      * not attempted this epoch → keep prev (a backed-off host with a
        shrunken budget must not be forgiven for merely being throttled)

    The output holds ONLY hosts with consec_fails > 0, so the relation
    stays proportional to the set of currently-unhealthy hosts — tiny
    next to the frontier at any scale."""
    if prev is None:
        j = host_stats.withColumn("consec_fails", F.lit(None).cast("int"))
    else:
        j = host_stats.join(prev.select("host", "consec_fails"), "host", "full")
    consec = (
        F.when(F.col("n_bad") > 0, F.coalesce(F.col("consec_fails"), F.lit(0)) + 1)
        .when(F.col("n_bad") == 0, F.lit(0))
        .otherwise(F.col("consec_fails"))  # untouched host: n_bad is NULL
    )
    return j.select(
        "host", consec.cast("int").alias("consec_fails")
    ).where(F.col("consec_fails") > 0)


def derate_budgets(
    host_budgets: DataFrame | None,
    backoff: DataFrame,
    default_budget: int,
    min_tokens: int = 1,
) -> DataFrame:
    """Effective per-host budget table for the dequeue:
    tokens = max(min_tokens, base >> consec_fails) — exponential backoff
    on the host's explicit budget (or the default). Hosts in neither
    table keep the caller-side default via topk's coalesce. The shift is
    capped at 30 so a long-failing host can't overflow into the sign
    bit; it bottoms out at min_tokens long before that."""
    j = backoff.select("host", "consec_fails")
    if host_budgets is None:
        base = F.lit(default_budget)
    else:
        j = host_budgets.select("host", "tokens_per_epoch").join(j, "host", "full")
        base = F.coalesce(F.col("tokens_per_epoch"), F.lit(default_budget))
    consec = F.least(F.coalesce(F.col("consec_fails"), F.lit(0)), F.lit(30))
    # base / 2^consec: dividing by a power of two only shifts the double
    # exponent, so the quotient is exact and the int cast is a true floor
    halved = (base.cast("double") / F.pow(F.lit(2.0), consec)).cast("int")
    tokens = F.greatest(F.lit(min_tokens), halved)
    return j.select("host", tokens.cast("int").alias("tokens_per_epoch"))
