"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed) computed with NumPy's
PCG64 generator, so the engine under test cannot change what it is fed.
Tables are written as parquet with pyarrow; ``digest`` hashes the written
bytes so two checkouts can show they ran on identical inputs.

Corpora:

* ``crawl_bulk``  — full-payload pages (~2 KB html, 8 outlinks each) on
  Zipf-skewed hosts, plus a seed list. No robots or budget tables.
* ``crawl_polite`` — zero-payload pages (anchors only, empty ``<p></p>``)
  with seeds, ``robots`` (some hosts disallow ``/private/``) and
  ``host_budgets``.
* ``catalog_incremental`` — catalog leaves grouped into commits and
  commits into catalog pages, plus the catalog ``index``. The index
  advertises the last page at its next-to-last commit, so the newest
  leaves are never downloaded.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# bump when the generated bytes change; part of the input cache key
GENERATOR_VERSION = 2

BASE_TS = dt.datetime(2024, 3, 1)
COMMIT_SECONDS = 60
PAGE_FILES = 8  # pages are split over several files so scans run in parallel

WORDS = np.array([
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "crawl", "frontier", "cursor", "epoch",
    "shard", "bloom",
])
LANGS = np.array(["en", "de", "fr", "ja"])

CRAWL_SHAPES = {
    # n_pages, n_hosts, n_seeds, outlinks, text bytes (min, max)
    "crawl_bulk": dict(n_pages=16_000, n_hosts=200, n_seeds=6_400, n_outlinks=8, text=(1400, 1800)),
    "crawl_polite": dict(n_pages=20_000, n_hosts=200, n_seeds=6_000, n_outlinks=8, text=(0, 0)),
}
CATALOG_SHAPE = dict(n_commits=192, leaves_per_commit=32, commits_per_page=8)


def _rng(workload: str, seed: int) -> np.random.Generator:
    key = int.from_bytes(hashlib.sha256(workload.encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64([seed, key]))


def _is_private(ids: np.ndarray) -> np.ndarray:
    return ids % 13 == 0


def _urls(ids: np.ndarray, hosts: np.ndarray) -> np.ndarray:
    kind = np.where(_is_private(ids), "private", "page")
    return np.array(
        [f"https://host{h}.example/{k}/p{i}" for i, h, k in zip(ids, hosts, kind)],
        dtype=object,
    )


def _text_buffer(rng: np.random.Generator, n_bytes: int) -> str:
    """One long space-separated word stream; page texts are slices of it."""
    words = WORDS[rng.integers(0, len(WORDS), size=n_bytes // 4 + 16)]
    return " ".join(words)[:n_bytes]


def _write_pages(table: pa.Table, path: str) -> None:
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, PAGE_FILES + 1).astype(int)
    for i in range(PAGE_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def crawl_corpus(workload: str, seed: int) -> dict[str, pa.Table]:
    """pages / seeds (+ robots / host_budgets for crawl_polite)."""
    shape = CRAWL_SHAPES[workload]
    rng = _rng(workload, seed)
    n, n_hosts, k = shape["n_pages"], shape["n_hosts"], shape["n_outlinks"]
    ids = np.arange(n)
    hosts = np.floor(rng.random(n) ** 3 * n_hosts).astype(np.int64)
    urls = _urls(ids, hosts)
    targets = rng.integers(0, n, size=(n, k))
    lo, hi = shape["text"]
    if hi > 0:
        buf = _text_buffer(rng, 1 << 20)
        lens = rng.integers(lo, hi + 1, size=n)
        offs = rng.integers(0, len(buf) - hi, size=n)
        texts = [buf[o:o + ln] for o, ln in zip(offs, lens)]
    else:
        texts = [""] * n
    html = [
        (
            f"<html><head><title>p{i}</title></head><body>"
            + "".join(f'<a href="{urls[t]}">l</a>' for t in targets[i])
            + f"<p>{texts[i]}</p></body></html>"
        ).encode()
        for i in range(n)
    ]
    warc = np.datetime64(BASE_TS, "us") + (ids // 16 * COMMIT_SECONDS).astype("timedelta64[s]")
    pages = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(warc, pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[ids % len(LANGS)], pa.string()),
    })
    public = ids[~_is_private(ids)]
    seed_ids = np.sort(rng.choice(public, size=shape["n_seeds"], replace=False))
    out = {
        "pages": pages,
        "seeds": pa.table({
            "url": pa.array(urls[seed_ids], pa.string()),
            "priority": pa.array(np.zeros(len(seed_ids), np.int32)),
        }),
        # page links as ids: the bulk-crawl oracle walks this graph
        "links": pa.table({"targets": pa.array(list(targets), pa.list_(pa.int64()))}),
    }
    if workload == "crawl_polite":
        # rules depend on the host number only, and the frontier of almost
        # every host exceeds its budget, so each epoch dequeues nearly the
        # same number of URLs on every seed
        host_ids = np.arange(n_hosts)
        host_names = [f"host{h}.example" for h in host_ids]
        out["robots"] = pa.table({
            "host": host_names,
            "disallow_prefixes": pa.array(
                [["/private/"] if h % 5 == 0 else [] for h in host_ids], pa.list_(pa.string())
            ),
        })
        out["host_budgets"] = pa.table({
            "host": host_names,
            "tokens_per_epoch": pa.array(4 + 2 * (host_ids % 4), pa.int32()),
        })
    return out


def catalog_corpus(seed: int) -> dict[str, pa.Table]:
    """Catalog leaves (the pages log) and the catalog index."""
    rng = _rng("catalog_incremental", seed)
    c, lpc, cpp = (CATALOG_SHAPE[k] for k in ("n_commits", "leaves_per_commit", "commits_per_page"))
    n = c * lpc
    ids = np.arange(n)
    commit = ids // lpc
    hosts = rng.integers(0, 64, size=n)
    private = rng.random(n) < 1 / 13
    kind = np.where(private, "private", "page")
    urls = [f"https://host{h}.example/{k}/p{i}" for i, h, k in zip(ids, hosts, kind)]
    buf = _text_buffer(rng, 1 << 16)
    lens = rng.integers(40, 200, size=n)
    offs = rng.integers(0, len(buf) - 200, size=n)
    texts = [buf[o:o + ln] for o, ln in zip(offs, lens)]
    html = [f"<html><body><p>{t}</p></body></html>".encode() for t in texts]
    commit_ts = np.datetime64(BASE_TS, "us") + (commit * COMMIT_SECONDS).astype("timedelta64[s]")
    pages = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(commit_ts, pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(LANGS[ids % len(LANGS)], pa.string()),
    })
    n_pages = c // cpp
    page_last_commit = np.arange(n_pages) * cpp + cpp - 1
    page_last_commit[-1] -= 1  # the index lags the newest commit
    page_ts = np.datetime64(BASE_TS, "us") + (page_last_commit * COMMIT_SECONDS).astype("timedelta64[s]")
    index = pa.table({
        "page_no": pa.array(np.arange(n_pages), pa.int64()),
        "page_ts": pa.array(page_ts, pa.timestamp("us")),
    })
    return {"pages": pages, "index": index}


def generate(workload: str, seed: int) -> dict[str, pa.Table]:
    if workload == "catalog_incremental":
        return catalog_corpus(seed)
    return crawl_corpus(workload, seed)


def generator_digest() -> str:
    with open(__file__, "rb") as f:
        src = f.read()
    return hashlib.sha256(src + str(GENERATOR_VERSION).encode()).hexdigest()[:16]


def write_inputs(workload: str, seed: int, out_dir: str) -> None:
    """Write every table as ``out_dir/<name>.parquet`` (pages as a
    directory of files). Written to a staging dir, then renamed."""
    stage = out_dir + ".tmp"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    for name, table in generate(workload, seed).items():
        path = os.path.join(stage, f"{name}.parquet")
        if name == "pages":
            _write_pages(table, path)
        else:
            pq.write_table(table, path)
    os.rename(stage, out_dir)


def digest(in_dir: str) -> str:
    """sha256 over every input file's relative path and bytes."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(in_dir)):
        for fn in sorted(files):
            p = os.path.join(root, fn)
            h.update(os.path.relpath(p, in_dir).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]
