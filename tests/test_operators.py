"""Unit tests for the core relational operators (SURVEY.md §2)."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from crawlspark.functions.urls import hash_prefix_bin, host_of, path_of
from crawlspark.operators.bloom import IncrementalSeen, might_contain, seen_filter
from crawlspark.operators.ordering import (
    commit_budget_cutoff,
    cursor_filter,
    ordered_limit,
)
from crawlspark.operators.politeness import apply_robots, topk_per_host_split
from crawlspark.session import unpin

TS = dt.datetime(2024, 3, 1)


def _persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _events(spark, n=100):
    rows = [
        Row(commit_ts=TS + dt.timedelta(minutes=i // 4), url=f"https://h{i % 7}.example/p{i}")
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def test_hash_prefix_bin_matches_reference_golden(spark):
    """DirectoryBinsTests.cs:8-18 pins sha256('newtonsoft.json') → 2c/4c/f1."""
    df = spark.createDataFrame([Row(key="newtonsoft.json")])
    out = df.select(hash_prefix_bin("key", levels=3).alias("bin")).first()["bin"]
    assert out == "2c/4c/f1"


def test_cursor_filter_half_open_interval(spark):
    df = _events(spark)
    lo, hi = TS + dt.timedelta(minutes=2), TS + dt.timedelta(minutes=5)
    got = cursor_filter(df, lo, hi).select("commit_ts").distinct().collect()
    mins = sorted((r["commit_ts"] - TS).total_seconds() / 60 for r in got)
    assert mins == [3, 4, 5]  # (lo, hi]: excludes 2, includes 5


def test_commit_budget_cutoff_keeps_whole_commits(spark):
    df = _events(spark, n=40)  # 10 commits × 4 rows
    out = commit_budget_cutoff(df, 3)
    assert out.count() == 12
    assert out.select("commit_ts").distinct().count() == 3
    # never splits a commit: each kept commit has all 4 rows
    per = out.groupBy("commit_ts").count().collect()
    assert all(r["count"] == 4 for r in per)


def test_ordered_limit_is_topk_of_total_order(spark):
    df = _events(spark, n=30)
    got = [r["url"] for r in ordered_limit(df, 5, ["commit_ts", "url"]).collect()]
    exp = [
        r["url"]
        for r in sorted(df.collect(), key=lambda r: (r["commit_ts"], r["url"]))[:5]
    ]
    assert got == exp


@pytest.mark.parametrize("salt", [1, 4, 16])
def test_salted_topk_equals_unsalted_window(spark, salt):
    """The salted two-phase dequeue must be exactly the per-host top-K."""
    rows = [
        Row(
            url=f"https://h{i % 3}.example/p{i:04d}",
            host=f"h{i % 3}.example",
            priority=i % 5,
            discovery_ts=TS + dt.timedelta(minutes=i % 11),
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(rows)
    held = _persisted_rdds(spark)
    dequeued, _, phase1 = topk_per_host_split(df, None, default_budget=7, salt=salt)
    got = {r["url"] for r in dequeued.collect()}
    unpin(phase1)
    assert _persisted_rdds(spark) == held
    w = Window.partitionBy("host").orderBy("priority", "discovery_ts", "url")
    exp = {
        r["url"]
        for r in df.withColumn("rn", F.row_number().over(w)).where("rn <= 7").collect()
    }
    assert got == exp


def test_topk_respects_per_host_budget_table(spark):
    rows = [
        Row(url=f"https://h{i % 2}.example/p{i:03d}", host=f"h{i % 2}.example",
            priority=0, discovery_ts=TS)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows)
    budgets = spark.createDataFrame([Row(host="h0.example", tokens_per_epoch=3)])
    held = _persisted_rdds(spark)
    dequeued, _, phase1 = topk_per_host_split(df, budgets, default_budget=5)
    out = dequeued.groupBy("host").count().collect()
    unpin(phase1)
    assert _persisted_rdds(spark) == held
    got = {r["host"]: r["count"] for r in out}
    assert got == {"h0.example": 3, "h1.example": 5}


def test_apply_robots_blocks_prefixes(spark):
    rows = [
        Row(url="https://a.example/private/x", host="a.example"),
        Row(url="https://a.example/page/y", host="a.example"),
        Row(url="https://b.example/private/z", host="b.example"),
    ]
    df = spark.createDataFrame(rows)
    robots = spark.createDataFrame([Row(host="a.example", disallow_prefixes=["/private/"])])
    got = {r["url"] for r in apply_robots(df, robots).collect()}
    assert got == {"https://a.example/page/y", "https://b.example/private/z"}


def test_url_parsing(spark):
    df = spark.createDataFrame([Row(url="https://h5.example/page/p7")])
    row = df.select(host_of("url").alias("h"), path_of("url").alias("p")).first()
    assert row["h"] == "h5.example" and row["p"] == "/page/p7"


def test_bloom_no_false_negatives(spark):
    added = spark.createDataFrame([Row(url=f"https://h{i}.example/p{i}") for i in range(500)])
    seen = IncrementalSeen(spark, capacity=1024)
    seen.fold(added, n_new=500)
    probe = added.select(might_contain(spark, seen.serialized, F.xxhash64("url")).alias("m"))
    assert all(r["m"] for r in probe.collect())


def test_seen_filter_matches_exact_anti_join(spark):
    cand = spark.createDataFrame([Row(url=f"https://h.example/p{i}") for i in range(400)])
    seen = spark.createDataFrame([Row(url=f"https://h.example/p{i}") for i in range(0, 400, 3)])
    exact = {r["url"] for r in cand.join(seen, "url", "left_anti").collect()}
    bloom = {r["url"] for r in seen_filter(spark, cand, seen, use_bloom=True).collect()}
    assert bloom == exact


def test_commit_budget_cutoff_negative_remaining_is_empty(spark):
    # a driver computing budget - consumed can go negative; the total
    # function returns an empty frame, it never raises (ADVICE r2)
    df = spark.range(4).withColumnRenamed("id", "commit_ts")
    assert commit_budget_cutoff(df, -1).count() == 0
    assert commit_budget_cutoff(df, 0).count() == 0


def test_normalize_url_rules(spark):
    from pyspark.sql import Row

    from crawlspark.functions.urls import normalize_url

    cases = {
        "HTTPS://Example.COM/Path/File": "https://example.com/Path/File",
        "https://example.com:443/a": "https://example.com/a",
        "http://example.com:80/a": "http://example.com/a",
        "https://example.com:8443/a": "https://example.com:8443/a",  # non-default kept
        "https://example.com./a": "https://example.com/a",
        "https://example.com/a#frag": "https://example.com/a",
        "https://example.com": "https://example.com/",
        "https://example.com/A/b?Q=1": "https://example.com/A/b?Q=1",  # path/query case kept
        "HTTPS://EXAMPLE.COM.:443/x#y": "https://example.com/x",
    }
    df = spark.createDataFrame([Row(i=i, u=u) for i, u in enumerate(cases)])
    got = {r.i: r.n for r in df.select("i", normalize_url("u").alias("n")).collect()}
    for i, (src, want) in enumerate(cases.items()):
        assert got[i] == want, f"{src!r}: {got[i]!r} != {want!r}"


def test_normalize_url_duckdb_parity(spark):
    import duckdb
    from pyspark.sql import Row

    from crawlspark.functions.urls import normalize_url, normalize_url_sql

    urls = [
        "HTTPS://Example.COM/Path", "https://h.example:443/a#f",
        "http://H.example:80", "https://a.b.c./d?x=Y#z",
        "https://example.com:9443/keep", "https://example.com",
    ]
    df = spark.createDataFrame([Row(u=u) for u in urls])
    got_spark = sorted(r.n for r in df.select(normalize_url("u").alias("n")).collect())
    con = duckdb.connect()
    vals = ", ".join(f"('{u}')" for u in urls)
    got_duck = sorted(
        r[0] for r in con.sql(
            f"SELECT {normalize_url_sql('u')} FROM (VALUES {vals}) t(u)"
        ).fetchall()
    )
    assert got_spark == got_duck


def test_parse_robots_txt_goldens(spark):
    from pyspark.sql import Row

    from crawlspark.operators.politeness import apply_robots, parse_robots_txt

    bodies = {
        "a.example": "User-agent: *\nDisallow: /private/\nDisallow: /tmp\n",
        "b.example": (
            "# comment\nUser-agent: googlebot\nDisallow: /g-only/\n\n"
            "User-agent: ourbot\nUser-agent: *\nDisallow: /mixed/\n"
        ),
        "c.example": "User-agent: *\nDisallow:\n",        # allow-all
        "d.example": "User-agent: *\r\nDisallow: /crlf/ # inline\r\n",
        "e.example": "User-agent: googlebot\nDisallow: /x/\n",  # not for us
        "f.example": "",
        # RFC 9309: comments / blank lines must not break a stacked
        # user-agent run (ADVICE r3 — ua_run preserved through noise)
        "g.example": (
            "User-agent: *\n# interleaved comment\nUser-agent: otherbot\n"
            "Disallow: /p\n"
        ),
        "h.example": "User-agent: otherbot\n\nUser-agent: *\nDisallow: /q\n",
    }
    df = spark.createDataFrame([Row(host=h, robots_txt=b) for h, b in bodies.items()])
    got = {r.host: list(r.disallow_prefixes) for r in parse_robots_txt(df).collect()}
    assert got["a.example"] == ["/private/", "/tmp"]
    assert got["b.example"] == ["/mixed/"]   # stacked UA group includes *
    assert got["c.example"] == []
    assert got["d.example"] == ["/crlf/"]
    assert got["e.example"] == []
    assert got["f.example"] == []
    assert got["g.example"] == ["/p"]  # comment inside the UA run
    assert got["h.example"] == ["/q"]  # blank line inside the UA run
    # parsed output feeds apply_robots directly
    cand = spark.createDataFrame([
        Row(url="https://a.example/private/x", host="a.example"),
        Row(url="https://a.example/public/x", host="a.example"),
        Row(url="https://e.example/x/y", host="e.example"),
    ])
    kept = {r.url for r in apply_robots(cand, parse_robots_txt(df)).collect()}
    assert kept == {"https://a.example/public/x", "https://e.example/x/y"}


def test_parse_robots_sitemap_directives(spark):
    from pyspark.sql import Row

    from crawlspark.operators.politeness import (
        parse_robots_txt,
        sitemaps_from_robots,
    )

    bodies = {
        # sitemaps are host-global: captured even inside a group that
        # does NOT apply to us, and outside any group
        "a.example": (
            "Sitemap: https://a.example/sm0.xml\n"
            "User-agent: googlebot\nDisallow: /g/\n"
            "Sitemap: https://a.example/sm1.xml\n"
            "User-agent: *\nDisallow: /p/\n"
        ),
        # case-insensitive key, inline comment stripped by [^#\s]
        "b.example": "sitemap: https://b.example/s.xml # primary\n",
        # a Sitemap line between stacked UA lines ends the run: the *
        # group below starts fresh, so /x applies but googlebot's
        # stacking does not leak into it
        "c.example": (
            "User-agent: googlebot\nSitemap: https://c.example/s.xml\n"
            "User-agent: *\nDisallow: /x\n"
        ),
        "d.example": "User-agent: *\nDisallow: /y\n",  # none
    }
    df = spark.createDataFrame([Row(host=h, robots_txt=b) for h, b in bodies.items()])
    parsed = parse_robots_txt(df)
    got = {r.host: list(r.sitemap_urls) for r in parsed.collect()}
    assert got["a.example"] == [
        "https://a.example/sm0.xml", "https://a.example/sm1.xml",
    ]
    assert got["b.example"] == ["https://b.example/s.xml"]
    assert got["c.example"] == ["https://c.example/s.xml"]
    assert got["d.example"] == []
    dis = {r.host: list(r.disallow_prefixes) for r in parsed.collect()}
    assert dis["a.example"] == ["/p/"]
    assert dis["c.example"] == ["/x"]
    fetch = {(r.host, r.sitemap_url) for r in sitemaps_from_robots(parsed).collect()}
    assert ("b.example", "https://b.example/s.xml") in fetch
    assert not any(h == "d.example" for h, _ in fetch)


def test_parse_robots_txt_is_expression_only(spark):
    from pyspark.sql import Row

    from crawlspark.operators.politeness import parse_robots_txt

    df = spark.createDataFrame([Row(host="h", robots_txt="User-agent: *\nDisallow: /a")])
    plan = parse_robots_txt(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan  # no UDF in the parse


def test_parse_robots_crawl_delay_and_budgets(spark):
    from pyspark.sql import Row

    from crawlspark.operators.politeness import (
        budgets_from_crawl_delay,
        parse_robots_txt,
    )

    bodies = {
        # delay in our group
        "a.example": "User-agent: *\nCrawl-delay: 10\nDisallow: /p\n",
        # delay only in someone else's group → ignored
        "b.example": "User-agent: googlebot\nCrawl-delay: 1\nUser-agent: *\nDisallow: /q\n",
        # fractional delay, last occurrence wins across applicable groups
        "c.example": (
            "User-agent: *\nCrawl-delay: 2\n\n"
            "User-agent: x\nUser-agent: *\nCrawl-delay: 0.5\n"
        ),
        # no delay anywhere
        "d.example": "User-agent: *\nDisallow: /r\n",
    }
    df = spark.createDataFrame([Row(host=h, robots_txt=b) for h, b in bodies.items()])
    parsed = parse_robots_txt(df)
    got = {r.host: r.crawl_delay_s for r in parsed.collect()}
    assert got == {"a.example": 10.0, "b.example": None, "c.example": 0.5,
                   "d.example": None}
    # disallow parsing is unchanged by the delay lines
    dis = {r.host: list(r.disallow_prefixes) for r in parsed.collect()}
    assert dis["a.example"] == ["/p"] and dis["b.example"] == ["/q"]

    budgets = {r.host: r.tokens_per_epoch
               for r in budgets_from_crawl_delay(parsed, epoch_seconds=60).collect()}
    # floor(60/10)=6; floor(60/0.5)=120; no-delay hosts absent
    assert budgets == {"a.example": 6, "c.example": 120}
    # min_tokens clamp: a day-long delay still crawls one url per epoch
    huge = spark.createDataFrame(
        [("z", [], 86400.0)],
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )
    assert budgets_from_crawl_delay(huge, epoch_seconds=60).first().tokens_per_epoch == 1


def test_apply_robots_allow_longest_match_precedence(spark):
    """RFC 9309 §2.2.2: most specific rule wins; allow wins exact ties."""
    rows = [
        Row(url="https://a.example/private/public/x", host="a.example"),
        Row(url="https://a.example/private/y", host="a.example"),
        Row(url="https://a.example/tie", host="a.example"),
        Row(url="https://a.example/open", host="a.example"),
    ]
    df = spark.createDataFrame(rows)
    robots = spark.createDataFrame([Row(
        host="a.example",
        disallow_prefixes=["/private/", "/tie"],
        allow_prefixes=["/private/public/", "/tie"],
    )])
    got = {r["url"] for r in apply_robots(df, robots).collect()}
    assert got == {
        "https://a.example/private/public/x",   # longer allow overrides
        "https://a.example/tie",                # equal length: allow wins
        "https://a.example/open",               # no rule matches
    }


def test_parse_robots_txt_captures_allow_rules(spark):
    from crawlspark.operators.politeness import apply_robots, parse_robots_txt

    df = spark.createDataFrame(
        [Row(host="h.example", robots_txt=(
            "User-agent: *\nDisallow: /m/\nAllow: /m/ok\nAllow:\n"
            "User-agent: other\nAllow: /not-ours\n"))]
    )
    parsed_row = parse_robots_txt(df).first()
    assert list(parsed_row.disallow_prefixes) == ["/m/"]
    # empty Allow contributes nothing; other-agent group ignored
    assert list(parsed_row.allow_prefixes) == ["/m/ok"]
    cand = spark.createDataFrame([
        Row(url="https://h.example/m/ok/page", host="h.example"),
        Row(url="https://h.example/m/no", host="h.example"),
    ])
    kept = {r.url for r in apply_robots(cand, parse_robots_txt(df)).collect()}
    assert kept == {"https://h.example/m/ok/page"}


def test_surt_key_goldens_and_twin(spark):
    import duckdb
    import pandas as pd

    from crawlspark.functions.urls import surt_key, surt_key_sql

    rows = [
        (0, "https://www.Example.org/a?b=1#frag"),
        (1, "http://sub.host.example.com:8080/p/q"),
        (2, "https://example.com"),
        (3, "https://one.example.com./dot"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r.surt for r in df.select("doc_id", surt_key("url").alias("surt")).collect()}
    assert got[0] == "org,example,www)/a?b=1"
    assert got[1] == "com,example,host,sub)/p/q"   # port stripped
    assert got[2] == "com,example)/"               # empty path -> /
    # subdomains of one domain share a key prefix (the range-scan point)
    assert got[0].startswith("org,example") and got[3].startswith(",com,example,one")
    con = duckdb.connect()
    con.register("u", pd.DataFrame(rows, columns=["doc_id", "url"]))
    exp = dict(con.sql(f"SELECT doc_id, {surt_key_sql('url')} FROM u").fetchall())
    assert got == exp


def test_apply_robots_wildcard_and_anchor_rules(spark):
    """RFC 9309 §2.2.3: '*' matches any sequence, trailing '$' anchors
    the end; regex metachars in rules stay literal."""
    rows = [
        Row(url="https://a.example/fish1.php", host="a.example"),
        Row(url="https://a.example/fishx/y.php", host="a.example"),
        Row(url="https://a.example/fish", host="a.example"),
        Row(url="https://a.example/dir/", host="a.example"),
        Row(url="https://a.example/dir/page", host="a.example"),
        Row(url="https://a.example/p.q/r", host="a.example"),
        Row(url="https://a.example/pxq/r", host="a.example"),
    ]
    df = spark.createDataFrame(rows)
    robots = spark.createDataFrame(
        [("a.example", ["/fish*.php", "/dir/$", "/p.q/"], [])],
        "host string, disallow_prefixes array<string>, allow_prefixes array<string>",
    )
    got = {r["url"].split(".example")[1] for r in apply_robots(df, robots).collect()}
    assert got == {"/fish", "/dir/page", "/pxq/r"}


def test_apply_robots_wildcard_allow_overrides(spark):
    # longest rule text wins across wildcard rules too
    rows = [
        Row(url="https://a.example/media/file.pdf", host="a.example"),
        Row(url="https://a.example/media/file.html", host="a.example"),
    ]
    df = spark.createDataFrame(rows)
    robots = spark.createDataFrame([Row(
        host="a.example",
        disallow_prefixes=["/media/"],
        allow_prefixes=["/media/*.html"],
    )])
    got = {r["url"] for r in apply_robots(df, robots).collect()}
    assert got == {"https://a.example/media/file.html"}
