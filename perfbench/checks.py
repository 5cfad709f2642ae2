"""Correctness checks on the committed state, read with pyarrow straight
from the files (independent of the engine's own readers).

Each check returns ``{"name", "ok", "detail"}``. A failed check fails the
run; nothing here looks at log output.
"""

from __future__ import annotations

import datetime as dt
import glob
import hashlib
import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DEFAULT_SEED = 1
DISCOVERY_BASE = dt.datetime(2024, 1, 1)  # engine contract: discovery_ts(e) = base + e minutes

# visit-trace digests of the default seed, pinned from a reference run
PINNED_TRACE = {
    "crawl_bulk": "5d712661cbacd57b",
    "crawl_polite": "fdc9e2febfa0c3b6",
}


def _committed(state_dir: str) -> list[int]:
    with open(os.path.join(state_dir, "_commits.json")) as f:
        return list(json.load(f)["epochs"])


def read_table(state_dir: str, table: str, columns: list[str]) -> pa.Table:
    """Committed rows of one epoch table, with an ``epoch`` column."""
    parts = []
    for e in _committed(state_dir):
        files = sorted(glob.glob(os.path.join(state_dir, table, f"epoch={e}", "*.parquet")))
        for p in files:
            t = pq.read_table(p, columns=columns)
            # epochs disagree on the UTC marker of timestamps; drop it
            t = t.cast(pa.schema([
                pa.field(f.name, pa.timestamp("us")) if pa.types.is_timestamp(f.type) else f
                for f in t.schema
            ]))
            parts.append(t.append_column("epoch", pa.array([e] * t.num_rows, pa.int32())))
    if not parts:
        return pa.table({c: [] for c in columns + ["epoch"]})
    return pa.concat_tables(parts, promote_options="default")


def _result(name: str, ok: bool, detail="") -> dict:
    return {"name": name, "ok": bool(ok), "detail": detail}


def _inputs(in_dir: str, name: str, columns=None) -> pa.Table:
    return pq.read_table(os.path.join(in_dir, f"{name}.parquet"), columns=columns)


def _text_check(fetched: pa.Table, expected: dict[str, str], name: str) -> dict:
    ok_rows = fetched.filter(pc.equal(fetched["status"], "ok"))
    bad = [u for u, t in zip(ok_rows["url"].to_pylist(), ok_rows["text"].to_pylist())
           if expected.get(u) != t]
    return _result(name, not bad, f"{len(bad)} of {ok_rows.num_rows} ok rows differ")


def bulk_oracle(in_dir: str, max_epochs: int) -> list[tuple]:
    """Breadth-first visit order of an unlimited-budget crawl of
    ``max_epochs`` epochs: epoch e fetches every page first linked from
    epoch e-1, at priority e."""
    pages = _inputs(in_dir, "pages", ["url"])["url"].to_pylist()
    targets = _inputs(in_dir, "links")["targets"].to_pylist()
    index = {u: i for i, u in enumerate(pages)}
    level = sorted({index[u] for u in _inputs(in_dir, "seeds")["url"].to_pylist()})
    seen = set(level)
    trace = []
    e = 0
    while level and e < max_epochs:
        ts = DISCOVERY_BASE + dt.timedelta(minutes=e)
        trace += [(e, e, ts, pages[i]) for i in level]
        nxt = {t for i in level for t in targets[i]} - seen
        seen |= nxt
        level = sorted(nxt)
        e += 1
    return sorted(trace)


def _trace(fetched: pa.Table) -> list[tuple]:
    ts = fetched["discovery_ts"].cast(pa.timestamp("us")).to_pylist()  # drop the UTC marker
    cols = [fetched[c].to_pylist() for c in ("epoch", "priority")] + [ts, fetched["url"].to_pylist()]
    return sorted(zip(*cols))


def trace_digest(trace: list[tuple]) -> str:
    h = hashlib.sha256()
    for e, p, ts, u in trace:
        h.update(f"{e}|{p}|{ts.isoformat()}|{u}\n".encode())
    return h.hexdigest()[:16]


def check_crawl(workload: str, seed: int, in_dir: str, units: list[dict]) -> list[dict]:
    pages = _inputs(in_dir, "pages", ["url", "text"])
    expected = dict(zip(pages["url"].to_pylist(), pages["text"].to_pylist()))
    out, digests = [], []
    for i, u in enumerate(units):
        fetched = read_table(u["state"], "fetched", ["url", "priority", "discovery_ts", "text", "status"])
        out.append(_text_check(fetched, expected, f"unit{i}.text_identical"))
        n_unique = len(pc.unique(fetched["url"]))
        out.append(_result(f"unit{i}.fetched_unique", n_unique == fetched.num_rows,
                           f"{n_unique} unique of {fetched.num_rows}"))
        trace = _trace(fetched)
        digests.append(trace_digest(trace))
        if workload == "crawl_bulk" and i == 0:
            oracle = bulk_oracle(in_dir, u["max_epochs"])
            out.append(_result("trace_matches_bfs_oracle", trace == oracle,
                               f"{len(trace)} visits, oracle {len(oracle)}"))
    out.append(_result("trace_same_every_unit", len(set(digests)) == 1, digests[0]))
    pinned = PINNED_TRACE.get(workload)
    if seed == DEFAULT_SEED and pinned is not None:
        out.append(_result("trace_matches_pinned", digests[0] == pinned, digests[0]))
    # runs of one seed agree: the first run of a seed records its digest
    # beside (not in) the input dir, later runs compare against it
    rec = f"{in_dir.rstrip('/')}.trace-e{units[0]['max_epochs']}"
    if not os.path.exists(rec):
        with open(rec, "w") as f:
            f.write(digests[0])
    with open(rec) as f:
        recorded = f.read().strip()
    out.append(_result("trace_matches_earlier_runs", digests[0] == recorded, recorded))
    return out


def check_catalog(in_dir: str, units: list[dict]) -> list[dict]:
    pages = _inputs(in_dir, "pages", ["url", "warc_ts", "text"])
    last_ts = pc.max(_inputs(in_dir, "index")["page_ts"]).as_py()
    visible = pages.filter(pc.less_equal(pages["warc_ts"], pa.scalar(last_ts, pa.timestamp("us"))))
    want_urls = sorted(visible["url"].to_pylist())
    want_max = pc.max(visible["warc_ts"]).as_py()
    want_private = sum("/private/" in u for u in want_urls)
    expected = dict(zip(pages["url"].to_pylist(), pages["text"].to_pylist()))
    out = []
    for i, u in enumerate(units):
        incs = u["steps"]
        leaves = sum(inc["items"] for inc in incs)
        fetched = read_table(u["state"], "fetched", ["url", "text", "status"])
        out.append(_result(f"unit{i}.leaves_total", leaves == len(want_urls),
                           f"{leaves} downloaded, {len(want_urls)} advertised"))
        out.append(_result(f"unit{i}.leaf_set", sorted(fetched["url"].to_pylist()) == want_urls))
        out.append(_text_check(fetched, expected, f"unit{i}.text_identical"))
        cursor = dt.datetime.fromisoformat(incs[-1]["cursor"]) if incs else None
        out.append(_result(f"unit{i}.final_cursor", cursor == want_max, f"{cursor} vs {want_max}"))
        by_day = pq.read_table(os.path.join(u["reports"], "page_count_by_day.parquet"))
        day_sum = pc.sum(by_day["value"]).as_py()
        out.append(_result(f"unit{i}.count_by_day_sum", day_sum == leaves, f"{day_sum} vs {leaves}"))
        deleted = pq.read_table(os.path.join(u["reports"], "deleted_pages.parquet"))
        out.append(_result(f"unit{i}.deleted_pages", deleted.num_rows == want_private,
                           f"{deleted.num_rows} vs {want_private}"))
    return out


def check(workload: str, seed: int, in_dir: str, out: dict) -> list[dict]:
    if workload == "catalog_incremental":
        return check_catalog(in_dir, out["units"])
    return check_crawl(workload, seed, in_dir, out["units"])


def count_ops(workload: str, out: dict) -> int:
    """Operations attempted: epochs for a crawl; catalog_crawl calls
    (including the draining one) plus report updates for the catalog."""
    if workload == "catalog_incremental":
        return sum(2 * len(u["steps"]) + 1 for u in out["units"])
    return sum(len(u["stats"]) for u in out["units"])
