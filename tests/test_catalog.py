"""Catalog-parity crawl: staged snapshots + budget semantics.

Mirrors the reference's integration theory matrix
(DownloadCommandHandlerIntegrationTests.cs): staged catalog evolution
Step1→Step4, MaxPages split, MaxCommits split with partial-page
re-processing, exact cursor values, depth variants.
"""

import datetime as dt
import os

import pytest

from crawlspark.plans.epoch import catalog_crawl
from crawlspark.plans.state import CrawlState
from tests.simulator import EPOCH_MIN, simulate_catalog_run


def _step(spark, staged_dir, name):
    pages = spark.read.parquet(os.path.join(staged_dir, name, "pages.parquet"))
    index = spark.read.parquet(os.path.join(staged_dir, name, "index.parquet"))
    return pages, index


def _visited(spark, state_dir, run):
    rows = (
        CrawlState(state_dir).fetched.read(spark)
        .where(f"epoch = {run}")
        .orderBy("warc_ts", "url")
        .collect()
    )
    return [r["url"] for r in rows]


def _sim_inputs(pages, index):
    return (
        [{"url": r["url"], "warc_ts": r["warc_ts"]} for r in pages.collect()],
        [{"page_no": r["page_no"], "page_ts": r["page_ts"]} for r in index.collect()],
    )


def test_steps_incremental_crawl_matches_simulator(spark, staged_dir, tmp_path):
    """Run once per staged snapshot; each run picks up exactly the delta."""
    sd = str(tmp_path / "state")
    cursor = EPOCH_MIN
    for i, step in enumerate(["step1", "step2a", "step2b", "step3", "step4"]):
        pages, index = _step(spark, staged_dir, step)
        res = catalog_crawl(spark, pages, index, sd, depth="leaf")
        sim_pages, sim_index = _sim_inputs(pages, index)
        sim_visited, sim_cursor = simulate_catalog_run(sim_pages, sim_index, cursor)
        if sim_visited:
            assert _visited(spark, sd, res["run"]) == sim_visited, f"{step} delta differs"
        assert res["leaves"] == len(sim_visited), f"{step}: re-fetched covered rows"
        if res["leaves"]:
            assert res["cursor"] == sim_cursor, f"{step} cursor differs"
        cursor = max(cursor, sim_cursor)


def test_step2a_defers_unadvertised_leaves(spark, staged_dir, tmp_path):
    """Leaves present in pages but newer than the index's advertised
    page_ts must NOT be fetched (Downloader.cs:126), then appear once
    the index catches up (step2b)."""
    sd = str(tmp_path / "state")
    pages1, index1 = _step(spark, staged_dir, "step1")
    catalog_crawl(spark, pages1, index1, sd, depth="leaf")

    pages2a, index2a = _step(spark, staged_dir, "step2a")
    res2a = catalog_crawl(spark, pages2a, index2a, sd, depth="leaf")
    assert res2a["leaves"] == 0  # new leaves exist but are unadvertised

    pages2b, index2b = _step(spark, staged_dir, "step2b")
    res2b = catalog_crawl(spark, pages2b, index2b, sd, depth="leaf")
    assert res2b["leaves"] == pages2b.count() - pages1.count()


def test_max_pages_split(spark, staged_dir, tmp_path):
    """MaxPages=2 leaves later pages for the next run
    (VerifyStep123And4_MaxPages2, tests:83-119)."""
    pages, index = _step(spark, staged_dir, "step4")
    sim_pages, sim_index = _sim_inputs(pages, index)

    sd = str(tmp_path / "state")
    cursor = EPOCH_MIN
    total_runs = 0
    engine_all, sim_all = [], []
    while True:
        res = catalog_crawl(spark, pages, index, sd, depth="leaf", max_pages=2)
        sim_visited, cursor = simulate_catalog_run(sim_pages, sim_index, cursor, max_pages=2)
        assert res["leaves"] == len(sim_visited)
        if res["leaves"] == 0:
            break
        engine_all.extend(_visited(spark, sd, res["run"]))
        sim_all.extend(sim_visited)
        assert res["cursor"] == cursor
        total_runs += 1
        assert total_runs < 20
    assert engine_all == sim_all
    assert total_runs > 1  # the budget actually split the catalog


def test_max_commits_split_never_splits_a_commit(spark, staged_dir, tmp_path):
    """MaxCommits walks whole commits only; a partially-covered page is
    re-processed next run (VerifyStep123And4_MaxCommits4, tests:121-158)."""
    pages, index = _step(spark, staged_dir, "step4")
    sim_pages, sim_index = _sim_inputs(pages, index)

    sd = str(tmp_path / "state")
    cursor = EPOCH_MIN
    engine_all, sim_all = [], []
    runs = 0
    while True:
        res = catalog_crawl(spark, pages, index, sd, depth="leaf", max_commits=3)
        sim_visited, cursor = simulate_catalog_run(sim_pages, sim_index, cursor, max_commits=3)
        assert res["leaves"] == len(sim_visited)
        if res["leaves"] == 0:
            break
        got = _visited(spark, sd, res["run"])
        assert got == sim_visited
        # whole-commit invariant: distinct commits this run <= 3
        ts = (
            CrawlState(sd).fetched.read(spark)
            .where(f"epoch = {res['run']}")
            .select("warc_ts").distinct().count()
        )
        assert ts <= 3
        engine_all.extend(got)
        sim_all.extend(sim_visited)
        runs += 1
        assert runs < 30
    assert engine_all == sim_all and runs > 1


def test_page_depth_max_commits_bounds_cursor(spark, staged_dir, tmp_path):
    """At depth='page' MaxCommits still bounds the processed commits and
    the cursor stops at the last included commit, so later commits
    re-crawl next run — the reference pins MaxCommits at CatalogPage
    depth (DownloadCommandHandlerIntegrationTests MaxCommits4: the
    cursor stops at the 4th commit). Cursor trajectory must equal the
    sequential simulator's run for run."""
    pages, index = _step(spark, staged_dir, "step4")
    sim_pages, sim_index = _sim_inputs(pages, index)
    sd = str(tmp_path / "state")
    cursor = EPOCH_MIN
    runs = 0
    while True:
        res = catalog_crawl(spark, pages, index, sd, depth="page", max_commits=3)
        if res["pages"] == 0:
            break
        _, sim_cursor = simulate_catalog_run(sim_pages, sim_index, cursor, max_commits=3)
        assert res["cursor"] == sim_cursor, f"run {runs}"
        cursor = sim_cursor
        runs += 1
        assert runs < 30
    assert runs > 1  # the commit budget actually split the catalog


def test_depth_index_only_advances_cursor(spark, staged_dir, tmp_path):
    pages, index = _step(spark, staged_dir, "step4")
    sd = str(tmp_path / "state")
    res = catalog_crawl(spark, pages, index, sd, depth="index")
    assert res["leaves"] == 0
    assert res["cursor"] == max(r["page_ts"] for r in index.collect())
    # nothing left for a leaf crawl of the same consumer
    res2 = catalog_crawl(spark, pages, index, sd, depth="leaf")
    assert res2["pages"] == 0


def test_guardrails(spark, staged_dir, tmp_path):
    pages, index = _step(spark, staged_dir, "step1")
    with pytest.raises(ValueError):
        catalog_crawl(spark, pages, index, str(tmp_path / "x"), depth="index", max_commits=2)


def test_independent_consumers_have_independent_cursors(spark, staged_dir, tmp_path):
    """O30: per-consumer cursor namespacing over the same log."""
    pages, index = _step(spark, staged_dir, "step3")
    sd = str(tmp_path / "state")
    r1 = catalog_crawl(spark, pages, index, sd, depth="leaf", consumer="download")
    assert r1["leaves"] > 0
    r2 = catalog_crawl(spark, pages, index, sd, depth="leaf", consumer="report.deleted")
    assert r2["leaves"] == r1["leaves"]  # fresh cursor sees everything again


def test_depth_service_index_touches_nothing(spark, staged_dir, tmp_path):
    """ServiceIndex depth (DownloadDepth.cs:11-14, Downloader.cs:65-69):
    validate the service index and return — no pages processed, no
    cursor created; a later leaf run starts from scratch."""
    sd = str(tmp_path / "state")
    pages, index = _step(spark, staged_dir, "step1")
    res = catalog_crawl(spark, pages, index, sd, depth="service_index")
    assert res["pages"] == 0 and res["leaves"] == 0 and res["cursor"] is None
    state = CrawlState(sd)
    assert state.cursor("download") == EPOCH_MIN  # nothing advanced
    # the run itself committed (resume numbering continues past it)
    res2 = catalog_crawl(spark, pages, index, sd, depth="leaf")
    assert res2["run"] == res["run"] + 1
    assert res2["leaves"] > 0  # the full catalog was still pending


def test_depth_service_index_validates_catalog_resource(spark, staged_dir, tmp_path):
    """Missing catalog columns ≙ 'No Catalog/3.0.0 resource was found'
    (Downloader.cs:71-77)."""
    pages, index = _step(spark, staged_dir, "step1")
    with pytest.raises(ValueError, match="catalog index missing"):
        catalog_crawl(
            spark, pages, index.drop("page_ts"), str(tmp_path / "x"),
            depth="service_index",
        )


def test_all_four_depths_run_on_the_same_snapshot(spark, staged_dir, tmp_path):
    """The reference's integration matrix runs every DownloadDepth
    (DownloadCommandHandlerIntegrationTests.cs:61-74); each depth does
    strictly more work than the previous."""
    pages, index = _step(spark, staged_dir, "step4")
    results = {}
    for depth in ("service_index", "index", "page", "leaf"):
        sd = str(tmp_path / f"state_{depth}")
        results[depth] = catalog_crawl(spark, pages, index, sd, depth=depth)
    assert results["service_index"]["pages"] == 0
    assert results["index"]["pages"] > 0 and results["index"]["leaves"] == 0
    assert results["page"]["pages"] == results["index"]["pages"]
    assert results["leaf"]["leaves"] > 0
    # index/page/leaf all advance the cursor to the same head
    assert results["page"]["cursor"] == results["index"]["cursor"]
    assert results["leaf"]["cursor"] == results["index"]["cursor"]


def test_max_pages_guardrail_requires_index_depth(spark, staged_dir, tmp_path):
    pages, index = _step(spark, staged_dir, "step1")
    with pytest.raises(ValueError, match="max_pages requires"):
        catalog_crawl(
            spark, pages, index, str(tmp_path / "x"),
            depth="service_index", max_pages=2,
        )


def test_default_cursor_value_seeds_new_consumer(spark, staged_dir, tmp_path):
    """--default-cursor-value (Cursor.cs:12-27): a brand-new cursor
    starts at the override, so history before it is never crawled; a
    committed cursor beats the default on later runs."""
    import datetime as dt

    pages, index = _step(spark, staged_dir, "step4")
    full = catalog_crawl(spark, pages, index, str(tmp_path / "all"), depth="leaf")
    ts = sorted(r["warc_ts"] for r in pages.collect())
    mid = ts[len(ts) // 2]
    sd = str(tmp_path / "late")
    late = catalog_crawl(spark, pages, index, sd, depth="leaf", default_cursor=mid)
    assert 0 < late["leaves"] < full["leaves"]
    got = {r["url"] for r in CrawlState(sd).fetched.read(spark).collect()}
    exp = {r["url"] for r in pages.collect() if r["warc_ts"] > mid}
    assert got == exp
    # committed cursor wins over a (lower) default on the next run
    again = catalog_crawl(
        spark, pages, index, sd, depth="leaf", default_cursor=dt.datetime(2000, 1, 1)
    )
    assert again["leaves"] == 0 or again["pages"] == 0


def test_json_formatting_on_download_path(spark, tmp_path):
    """--json-formatting (--format-paths analog,
    DownloadCommandHandler.cs:49-52,99): the mirrored document is the
    O3-rewritten JSON body. Golden: minify byte-equals python compact
    dumps; unchanged keeps extraction."""
    import datetime as dt
    import json as _json

    from pyspark.sql import Row

    docs = [
        '{"id": 1, "nested": {"a": [1, 2]}}',
        '{\n  "id": 2,\n  "b": "café"\n}',
    ]
    base = dt.datetime(2024, 3, 1)
    pages = spark.createDataFrame([
        Row(url=f"https://cat.example/leaf/{i}", warc_ts=base + dt.timedelta(minutes=i + 1),
            html=d.encode(), lang="en")
        for i, d in enumerate(docs)
    ])
    index = spark.createDataFrame(
        [Row(page_no=0, page_ts=base + dt.timedelta(minutes=len(docs) + 1))]
    )
    sd = str(tmp_path / "state")
    res = catalog_crawl(
        spark, pages, index, sd, depth="leaf", json_formatting="minify"
    )
    assert res["leaves"] == len(docs)
    got = {
        r["url"]: r["text"] for r in CrawlState(sd).fetched.read(spark).collect()
    }
    for i, d in enumerate(docs):
        exp = _json.dumps(_json.loads(d), separators=(",", ":"), ensure_ascii=False)
        assert got[f"https://cat.example/leaf/{i}"] == exp


# -- range selection vs the sequential simulator ------------------------------

BASE = dt.datetime(2024, 5, 1)


def _minute_catalog(spark, tmp_path, n_commits, index_rows, leaves_per_commit=3):
    """Commit c (1..n_commits) stamped BASE + c minutes, with
    ``leaves_per_commit`` leaves; ``index_rows`` is (page_no, minute) per
    page. Pages are written by pyarrow with naive timestamps, so
    ``warc_ts`` reads back as TIMESTAMP_NTZ, as on the benchmark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    leaves = [
        (f"https://h{(c + j) % 3}.example/c{c}/l{j}", BASE + dt.timedelta(minutes=c))
        for c in range(1, n_commits + 1) for j in range(leaves_per_commit)
    ]
    path = str(tmp_path / "pages.parquet")
    pq.write_table(pa.table({
        "url": [u for u, _ in leaves],
        "warc_ts": pa.array([t for _, t in leaves], pa.timestamp("us")),
        "html": [f"<p>{u}</p>".encode() for u, _ in leaves],
        "lang": ["en"] * len(leaves),
    }), path)
    index = spark.createDataFrame(
        [(no, BASE + dt.timedelta(minutes=m)) for no, m in index_rows],
        "page_no long, page_ts timestamp",
    )
    return spark.read.parquet(path), index


# (n_commits, index (page_no, minute), max_pages, max_commits)
_SELECTION_CASES = {
    "duplicate_page_ts": (12, [(0, 3), (1, 3), (2, 6), (3, 6), (4, 9), (5, 12)], 1, None),
    "page_no_order_differs": (12, [(7, 3), (2, 6), (9, 9), (0, 12)], 2, None),
    "index_lags_newest_commit": (12, [(0, 4), (1, 8)], None, None),
    "cursor_mid_page": (12, [(0, 3), (1, 6), (2, 9), (3, 12)], None, 2),
    "max_pages_and_max_commits": (15, [(0, 3), (1, 6), (2, 9), (3, 12), (4, 15)], 2, 4),
    "max_commits_zero": (6, [(0, 3), (1, 6)], None, 0),
}


@pytest.mark.parametrize("case", sorted(_SELECTION_CASES))
def test_range_selection_matches_simulator(spark, tmp_path, case):
    """Every increment's fetched leaves, in visit order, and its cursor
    equal the sequential reference loop's, until a run fetches nothing."""
    n_commits, index_rows, max_pages, max_commits = _SELECTION_CASES[case]
    pages, index = _minute_catalog(spark, tmp_path, n_commits, index_rows)
    sim_pages, sim_index = _sim_inputs(pages, index)
    sd = str(tmp_path / "state")
    cursor = EPOCH_MIN
    for _ in range(20):
        res = catalog_crawl(
            spark, pages, index, sd, depth="leaf", max_pages=max_pages, max_commits=max_commits,
        )
        sim_visited, cursor = simulate_catalog_run(
            sim_pages, sim_index, cursor, max_pages=max_pages, max_commits=max_commits,
        )
        assert res["leaves"] == len(sim_visited)
        assert res["cursor"] == cursor
        if not sim_visited:
            break
        assert _visited(spark, sd, res["run"]) == sim_visited
    else:
        pytest.fail("the catalog never drained")


def _pushed_filters(df) -> str:
    """The PushedFilters of every scan in ``df``'s physical plan, read
    from the nodes' metadata (the plan string abbreviates them)."""
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    out = []
    for i in range(leaves.length()):
        md = leaves.apply(i).metadata()
        if md.contains("PushedFilters"):
            out.append(md.apply("PushedFilters"))
    return " ".join(out)


def test_leaf_increment_runs_few_jobs_and_pushes_both_bounds(spark, tmp_path, monkeypatch):
    """A leaf-depth max_commits increment is an index head, a commit
    cutoff and the write: a handful of Spark jobs, not one per step of
    a leaf-to-page join. Its leaf selection is one warc_ts range whose
    bounds both reach the parquet scan."""
    from crawlspark.plans import epoch

    pages, index = _minute_catalog(spark, tmp_path, 12, [(0, 3), (1, 6), (2, 9), (3, 12)])
    sd = str(tmp_path / "state")
    catalog_crawl(spark, pages, index, sd, depth="leaf", max_commits=2)

    ranges = []

    def spy(df, cursor, max_ts=None, ts_col="commit_ts"):
        out = epoch_cursor_filter(df, cursor, max_ts, ts_col)
        if ts_col == "warc_ts":
            ranges.append(out)
        return out

    epoch_cursor_filter = epoch.cursor_filter
    monkeypatch.setattr(epoch, "cursor_filter", spy)
    sc = spark.sparkContext
    sc.setJobGroup("catalog-increment-job-count", "catalog_crawl job count")
    try:
        res = catalog_crawl(spark, pages, index, sd, depth="leaf", max_commits=2)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("catalog-increment-job-count")
    assert res["leaves"] == 6
    assert 0 < len(jobs) <= 5, len(jobs)
    pushed = _pushed_filters(ranges[-1])
    assert "GreaterThan(warc_ts," in pushed and "LessThanOrEqual(warc_ts," in pushed, pushed
