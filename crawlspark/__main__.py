"""crawlspark CLI — the user-facing entry points, mirroring the
reference's two subcommands (src/CatalogCrawler/Program.cs:27-28:
``download`` and ``update-reports``) plus the north-star web-frontier
``crawl``:

    python -m crawlspark crawl          --corpus DIR --state DIR [...]
    python -m crawlspark download       --corpus DIR --state DIR \
        [--depth index|page|leaf] [--max-pages N] [--max-commits N]
    python -m crawlspark update-reports --state DIR --report-dir DIR \
        [--reports name ...]        (or --pages PARQUET as the source)

Each subcommand prints one JSON line with the run's stats. All inputs
are parquet; ``--corpus`` is a directory holding ``pages.parquet`` (+
``seeds/robots/host_budgets`` for crawl, ``index.parquet`` for
download). State/report dirs are created on first use and resumed on
re-run (cursor semantics — Cursor.cs:19-42)."""

from __future__ import annotations

import argparse
import json
import os
import sys


def _add_spark_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    p.add_argument("--master", default=None, help="spark master override")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument(
        "--verbose", action="store_true",
        help="write debug messages (ConsoleLogger.cs:14 Debug threshold); "
             "log lines go to stderr, the stats JSON stays on stdout",
    )


def _logger(args):
    from crawlspark.logging import DepthLogger

    return DepthLogger(
        write=lambda line: print(line, file=sys.stderr), verbose=args.verbose
    )


def _spark(args, name: str):
    from crawlspark.session import get_spark

    master = args.master or (f"local[{args.cpus}]" if args.cpus else None)
    return get_spark(name, master=master, shuffle_partitions=args.shuffle_partitions)


def _read(spark, corpus: str, table: str, required: bool = True):
    p = os.path.join(corpus, f"{table}.parquet")
    if not os.path.exists(p):
        if required:
            raise SystemExit(f"missing {p}")
        return None
    return spark.read.parquet(p)


def _cmd_crawl(args) -> dict:
    from crawlspark.plans.epoch import CrawlConfig, web_crawl
    from crawlspark.plans.state import CrawlState

    if args.rollback_to is not None:
        # Iceberg rollback_to_snapshot analog on the crawl state BEFORE
        # the run: later epochs turn invisible and the crawl resumes
        # (re-executes) from the rollback point
        dropped = CrawlState(args.state).log.rollback_to(args.rollback_to)
        print(json.dumps({"rolled_back_epochs": dropped}))
    spark = _spark(args, "crawlspark-crawl")
    pages = _read(spark, args.corpus, "pages")
    seeds = spark.read.parquet(args.seeds) if args.seeds else _read(spark, args.corpus, "seeds")
    robots = _read(spark, args.corpus, "robots", required=False)
    budgets = _read(spark, args.corpus, "host_budgets", required=False)
    stats = web_crawl(
        spark, pages, args.state, seeds, robots=robots, host_budgets=budgets,
        logger=_logger(args),
        config=CrawlConfig(
            default_budget=args.budget,
            max_epochs=args.max_epochs,
            global_budget_per_epoch=args.global_budget,
            max_total_urls=args.max_total_urls,
            max_attempts=args.max_attempts,
            use_bloom=not args.no_bloom,
            analyze=args.analyze,
            normalize_urls=args.normalize_urls,
            respect_crawl_delay=args.respect_crawl_delay,
        ),
    )
    return {
        "command": "crawl",
        "epochs": len(stats),
        "urls_fetched": sum(s["urls_fetched"] for s in stats),
        "urls_failed": sum(s["urls_failed"] for s in stats),
        "bytes": sum(s["bytes"] for s in stats),
        "state": args.state,
    }


def _cmd_download(args) -> dict:
    from crawlspark.plans.epoch import catalog_crawl

    spark = _spark(args, "crawlspark-download")
    pages = _read(spark, args.corpus, "pages")
    index = _read(spark, args.corpus, "index")
    res = catalog_crawl(
        spark, pages, index, args.state,
        depth=args.depth, max_pages=args.max_pages, max_commits=args.max_commits,
        default_cursor=_parse_cursor(args.default_cursor_value),
        json_formatting=args.json_formatting,
        mirror_dir=args.data_dir,
        format_paths=args.format_paths,
        logger=_logger(args),
    )
    return {
        "command": "download", "run": res["run"], "pages": res["pages"],
        "leaves": res["leaves"], "cursor": str(res["cursor"]), "state": args.state,
    }


def _cmd_update_reports(args) -> dict:
    from crawlspark.plans.reports import REPORTS, update_reports

    spark = _spark(args, "crawlspark-reports")
    if args.pages:
        pages = spark.read.parquet(args.pages)
    elif args.state:
        # report over the crawl state's fetched log (ok rows carry warc_ts)
        from crawlspark.plans.state import CrawlState

        pages = CrawlState(args.state).fetched.read(spark).where("status = 'ok'")
    else:
        raise SystemExit("update-reports needs --pages or --state")
    names = tuple(args.reports) if args.reports else REPORTS
    updated = update_reports(
        spark, pages, args.report_dir, names,
        default_cursor=_parse_cursor(args.default_cursor_value),
    )
    return {"command": "update-reports", "updated": updated, "report_dir": args.report_dir}


def _parse_cursor(value: str | None):
    """--default-cursor-value (UpdateReportsCommandHandler.cs:38-40):
    ISO timestamp seeding brand-new cursors; None keeps the
    DateTimeOffset.MinValue default. Cursors are naive UTC, so an offset
    in ``value`` is applied and dropped."""
    import datetime as dt

    if not value:
        return None
    v = dt.datetime.fromisoformat(value)
    return v if v.tzinfo is None else v.astimezone(dt.timezone.utc).replace(tzinfo=None)


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="crawlspark")
    sub = ap.add_subparsers(dest="command", required=True)

    c = sub.add_parser("crawl", help="web-frontier crawl (north_star epoch loop)")
    c.add_argument("--corpus", required=True)
    c.add_argument("--state", required=True)
    c.add_argument("--seeds", default=None, help="override seeds parquet path")
    c.add_argument("--budget", type=int, default=4, help="per-host tokens per epoch")
    c.add_argument("--global-budget", type=int, default=None)
    c.add_argument("--max-epochs", type=int, default=100)
    c.add_argument("--max-total-urls", type=int, default=None)
    c.add_argument("--max-attempts", type=int, default=3)
    c.add_argument("--no-bloom", action="store_true")
    c.add_argument("--analyze", action="store_true")
    c.add_argument("--normalize-urls", action="store_true",
                   help="canonicalize seeds + links (case/port/fragment aliases collapse)")
    c.add_argument("--respect-crawl-delay", action="store_true",
                   help="derive per-host budgets from robots Crawl-delay (stricter wins)")
    c.add_argument("--rollback-to", type=int, default=None, metavar="EPOCH",
                   help="rollback the state to this epoch before crawling (later epochs re-execute)")
    _add_spark_args(c)
    c.set_defaults(fn=_cmd_crawl)

    d = sub.add_parser("download", help="catalog-parity incremental run")
    d.add_argument("--corpus", required=True, help="dir with pages.parquet + index.parquet")
    d.add_argument("--state", required=True)
    d.add_argument(
        "--depth", choices=("service_index", "index", "page", "leaf"), default="leaf",
        help="DownloadDepth analog (DownloadDepth.cs:11-27)",
    )
    d.add_argument("--max-pages", type=int, default=None)
    d.add_argument("--max-commits", type=int, default=None)
    d.add_argument("--default-cursor-value", default=None, metavar="ISO_TS")
    d.add_argument(
        "--json-formatting", default="unchanged",
        choices=("unchanged", "pretty", "pretty_when_unindented", "minify"),
        help="O3 rewrite applied to mirrored documents (JsonFileHelper.cs:47-89)",
    )
    d.add_argument(
        "--data-dir", default=None, metavar="DIR",
        help="physically mirror leaf documents to DIR/host/path "
             "(Downloader.cs:246-296 disk layout)",
    )
    d.add_argument(
        "--format-paths", action="store_true",
        help="shard mirrored paths to bound directory fanout: pageN.json "
             "into 500-page bucket dirs, timestamp dirs into y/m/d/h "
             "(DownloadCommandHandler.cs:49-52, PathFormatter.cs:30-60)",
    )
    _add_spark_args(d)
    d.set_defaults(fn=_cmd_download)

    r = sub.add_parser("update-reports", help="incremental derived reports")
    r.add_argument("--state", default=None, help="crawl state dir as the source")
    r.add_argument("--pages", default=None, help="pages parquet as the source")
    r.add_argument("--report-dir", required=True)
    r.add_argument("--reports", nargs="*", default=None)
    r.add_argument("--default-cursor-value", default=None, metavar="ISO_TS")
    _add_spark_args(r)
    r.set_defaults(fn=_cmd_update_reports)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    out = args.fn(args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
