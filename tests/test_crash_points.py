"""Fault injection: a kill before any filesystem mutation of an update,
followed by a resume, must leave exactly what an uninterrupted run
leaves — no dropped or duplicated URL, no lost or double-counted report
row (the reference's "re-crawl, never skip" contract).

``crash_at(k)`` counts the Python-level mutations the engine makes
(``os.rename``, ``os.replace``, ``shutil.rmtree``, Spark's parquet and
CSV writes, the driver's pyarrow parquet writes) and raises in place of
the k-th, so mutation k and all after it never happen. Each test sweeps
k over every mutation of one call (an update, a catalog increment, a
``web_crawl`` epoch), and checks that the killed call left no cached
data in the session.
"""

import contextlib
import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from crawlspark.plans.epoch import CrawlConfig, catalog_crawl, visited_trace, web_crawl
from crawlspark.plans.reports import REPORTS, ReportStore, update_reports
from crawlspark.plans.state import CrawlState
from crawlspark.testdata import build_pages, pages_only


class Crash(Exception):
    """The injected failure: the process dies here."""


@contextlib.contextmanager
def crash_at(k: int):
    """Raise ``Crash`` in place of the k-th filesystem mutation made
    inside the block. Yields the list of mutations seen, as
    ``name(basename of the path)``; fewer than k means none was
    skipped."""
    seen: list[str] = []

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            path = next(a for a in args if isinstance(a, (str, os.PathLike)))
            seen.append(f"{name}({os.path.basename(os.fspath(path))})")
            if len(seen) == k:
                raise Crash(seen[-1])
            return fn(*args, **kwargs)

        return wrapper

    targets = [(os, "rename"), (os, "replace"), (shutil, "rmtree"),
               (DataFrameWriter, "parquet"), (DataFrameWriter, "csv"),
               (pq, "write_table")]
    originals = [(obj, attr, getattr(obj, attr)) for obj, attr in targets]
    for obj, attr, fn in originals:
        setattr(obj, attr, counted(attr, fn))
    try:
        yield seen
    finally:
        for obj, attr, fn in originals:
            setattr(obj, attr, fn)


def _persisted_rdds() -> int:
    return SparkSession.getActiveSession().sparkContext._jsc.getPersistentRDDs().size()


def _sweep_kills(prepared: str, scratch: str, call, snapshot) -> tuple[int, list[str]]:
    """For every k: copy ``prepared`` to ``scratch``, run ``call`` with a
    crash at mutation k, resume with an uninterrupted ``call`` and
    compare ``snapshot`` with an uninterrupted run's. Returns the number
    of mutations of one call and one line per mismatch."""
    shutil.copytree(prepared, scratch)
    call(scratch)
    want = snapshot(scratch)
    failures, k = [], 1
    while True:
        shutil.rmtree(scratch)
        shutil.copytree(prepared, scratch)
        persisted = _persisted_rdds()
        with crash_at(k) as seen:
            try:
                call(scratch)
            except Crash:
                pass
        if len(seen) < k:  # no mutation left to kill before
            return k - 1, failures
        if _persisted_rdds() != persisted:
            failures.append(f"kill before {seen[-1]} (k={k}): left cached data in the session")
        call(scratch)  # resume
        got = snapshot(scratch)
        failures += [
            f"kill before {seen[-1]} (k={k}): {key} {got[key]!r} != {want[key]!r}"
            for key in want if got[key] != want[key]
        ]
        k += 1


def _report_snapshot(spark, root: str) -> dict:
    """Everything a reader sees of the reports: the rows through the
    store, the directory read raw by pyarrow (as perfbench's checks read
    it), the CSV bytes and each cursor."""
    store = ReportStore(root)
    out = {}
    for name in REPORTS:
        raw = pq.read_table(os.path.join(root, f"{name}.parquet"))
        out[f"{name}.rows"] = sorted(tuple(r) for r in store.read(spark, name).collect())
        out[f"{name}.raw_rows"] = raw.num_rows
        out[f"{name}.raw_sums"] = {
            c: pc.sum(raw[c]).as_py() for c in raw.column_names
            if c != "epoch" and pa.types.is_integer(raw.schema.field(c).type)
        }
        with open(os.path.join(root, f"{name}.csv"), "rb") as f:
            out[f"{name}.csv"] = f.read()
        out[f"{name}.cursor"] = store.cursor(name)
    return out


def test_update_reports_resumes_after_a_kill_at_every_mutation(spark, tmp_path):
    """Second increment of all three reports, killed before each of its
    mutations in turn. Covers a kill between a version's data landing
    and its cursor being committed, and, for the aggregate reports,
    between the old version's removal and the new one's arrival."""
    full = pages_only(build_pages(spark, 240, n_hosts=8)).cache()
    first = full.where(F.col("warc_ts") <= F.lit(dt.datetime(2024, 3, 1, 0, 7)))
    prepared = str(tmp_path / "prepared")
    update_reports(spark, first, prepared)

    n, failures = _sweep_kills(
        prepared, str(tmp_path / "reports"),
        lambda root: update_reports(spark, full, root),
        lambda root: _report_snapshot(spark, root),
    )
    full.unpersist()
    assert n >= 2 * len(REPORTS)  # at least a data write and a commit each
    assert not failures, "\n".join(failures)


def test_catalog_crawl_resumes_after_a_kill_at_every_mutation(spark, corpus_dir, tmp_path):
    """Second catalog increment, killed before each of its mutations in
    turn: the fetched URL set, the cursor and the committed runs match
    an uninterrupted run, with no URL fetched twice."""
    pages = spark.read.parquet(os.path.join(corpus_dir, "pages.parquet"))
    index = spark.read.parquet(os.path.join(corpus_dir, "index.parquet"))
    prepared = str(tmp_path / "prepared")
    catalog_crawl(spark, pages, index, prepared, max_commits=6)

    def snapshot(state_dir):
        state = CrawlState(state_dir)
        urls = [r["url"] for r in state.fetched.read(spark).select("url").collect()]
        return {
            "urls": sorted(urls), "duplicates": len(urls) - len(set(urls)),
            "cursor": state.cursor("download"), "runs": state.log.committed_epochs(),
        }

    n, failures = _sweep_kills(
        prepared, str(tmp_path / "state"),
        lambda sd: catalog_crawl(spark, pages, index, sd, max_commits=6),
        snapshot,
    )
    assert n >= 2  # the fetched write and the commit
    assert not failures, "\n".join(failures)
    assert snapshot(str(tmp_path / "state"))["duplicates"] == 0


def test_web_crawl_resumes_after_a_kill_at_every_mutation(spark, corpus_dir, tmp_path):
    """Second epoch of a small crawl, killed before each of its mutations
    in turn: the visit trace, the committed epochs and the last frontier
    match an uninterrupted run, with no URL fetched twice."""
    def read(name):
        return spark.read.parquet(os.path.join(corpus_dir, f"{name}.parquet"))

    pages, seeds, robots, budgets = map(read, ("pages", "seeds", "robots", "host_budgets"))

    def crawl(state_dir, max_epochs):
        web_crawl(
            spark, pages, state_dir, seeds, robots=robots, host_budgets=budgets,
            config=CrawlConfig(default_budget=8, max_epochs=max_epochs),
        )

    def snapshot(state_dir):
        state = CrawlState(state_dir)
        trace = [(r["epoch"], r["url"]) for r in visited_trace(spark, state_dir).collect()]
        last = state.log.last_epoch()
        frontier = state.frontier.read(spark, epochs=[last]).drop("epoch").collect()
        return {
            "trace": trace, "duplicates": len(trace) - len({url for _, url in trace}),
            "epochs": state.log.committed_epochs(), "frontier": sorted(map(tuple, frontier)),
        }

    prepared = str(tmp_path / "prepared")
    crawl(prepared, 1)
    n, failures = _sweep_kills(
        prepared, str(tmp_path / "state"), lambda sd: crawl(sd, 2), snapshot,
    )
    assert n >= 4  # the fetched+frontier write, its renames, the lineage write, the commit
    assert not failures, "\n".join(failures)
    assert snapshot(str(tmp_path / "state"))["duplicates"] == 0
