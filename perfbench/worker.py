"""One measuring process: start a session, register the inputs, run the
workload's closed loop for the requested time, check every output.

Started by ``run.py``; writes its result as JSON to ``--out``. Each loop
unit is a fixed amount of work started from empty state, so units are
comparable across runs and across commits:

* crawl_bulk / crawl_polite — one ``web_crawl`` call from scratch;
* catalog_incremental — one pass draining the catalog with
  ``catalog_crawl(depth="leaf", max_commits=K)`` calls, each followed by
  ``update_reports`` over the state's fetched log.

A unit runs to its end; another starts only while the last one would
still end within ``--seconds`` (at least one runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import checks
import corpus
import proc

# workload-defining engine fields; everything else stays at its default.
# Fixed epoch and commit counts give every seed the same number of steps.
BULK_MAX_EPOCHS = 2
POLITE_MAX_EPOCHS = 2
CATALOG_MAX_COMMITS = 96


def _parse(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True, help="checkout holding crawlspark/")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    return ap.parse_args(argv)


def mark() -> tuple[float, float, float]:
    """(wall clock, CPU seconds of this process tree, VM steal seconds)."""
    return time.perf_counter(), proc.cpu_s(os.getpid()), proc.steal_s()


def _deltas(marks: list[tuple]) -> tuple[list[float], ...]:
    """Per-interval differences of successive marks, one list per counter."""
    return tuple([b[i] - a[i] for a, b in zip(marks, marks[1:])] for i in range(3))


class Clock:
    """Marks at ``CrawlState.commit_epoch`` returns: epoch latency is the
    gap between successive commits (the first from the call start)."""

    def __init__(self):
        self.commits: list[tuple[float, float, float]] = []

    def install(self, state_cls) -> None:
        orig = state_cls.commit_epoch
        commits = self.commits

        def commit_epoch(self, *a, **kw):
            out = orig(self, *a, **kw)
            commits.append(mark())
            return out

        state_cls.commit_epoch = commit_epoch


def _another(units: list[dict], t_start: float, seconds: float) -> bool:
    if not units:
        return True
    return time.perf_counter() - t_start + units[-1]["wall"] <= seconds


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _dirs, names in os.walk(path) for n in names)


def run_crawl(spark, args, tables, clock) -> dict:
    from crawlspark.plans import epoch as epoch_mod

    bulk = args.workload == "crawl_bulk"
    shape = corpus.CRAWL_SHAPES[args.workload]
    cfg = epoch_mod.CrawlConfig(
        # bulk: no politeness limit, every epoch fetches the whole frontier
        default_budget=shape["n_pages"] if bulk else 4,
        max_epochs=BULK_MAX_EPOCHS if bulk else POLITE_MAX_EPOCHS,
        bloom_min_seen=epoch_mod.CrawlConfig.bloom_min_seen if bulk else 0,
    )
    units = []
    t_start = time.perf_counter()
    while _another(units, t_start, args.seconds):
        i = len(units)
        state_dir = os.path.join(args.work, f"state-{i}")
        shutil.rmtree(state_dir, ignore_errors=True)
        spark.sparkContext.setLocalProperty("spark.job.description", f"crawl-prep-{i}")
        n0 = len(clock.commits)
        m0 = mark()
        stats = epoch_mod.web_crawl(
            spark, tables["pages"], state_dir, tables["seeds"],
            robots=tables.get("robots"), host_budgets=tables.get("host_budgets"),
            config=cfg,
        )
        wall = time.perf_counter() - m0[0]
        steps = [
            {"s": s, "cpu_s": cpu, "steal_s": steal, "items": st["urls_fetched"] + st["urls_failed"]}
            for s, cpu, steal, st in zip(*_deltas([m0] + clock.commits[n0:]), stats)
        ]
        units.append({"state": state_dir, "wall": wall, "stats": stats, "steps": steps,
                      "seeds": shape["n_seeds"], "max_epochs": cfg.max_epochs})
    return {"units": units}


def run_catalog(spark, args, tables, clock) -> dict:
    from crawlspark.plans import epoch as epoch_mod
    from crawlspark.plans import reports as reports_mod
    from crawlspark.plans.state import CrawlState

    units = []
    t_start = time.perf_counter()
    while _another(units, t_start, args.seconds):
        u = len(units)
        state_dir = os.path.join(args.work, f"state-{u}")
        report_dir = os.path.join(args.work, f"reports-{u}")
        for d in (state_dir, report_dir):
            shutil.rmtree(d, ignore_errors=True)
        incs = []
        t0 = time.perf_counter()
        while True:
            k = len(incs)
            sc = spark.sparkContext
            a = mark()
            sc.setLocalProperty("spark.job.description", f"catalog-{u}-{k}")
            res = epoch_mod.catalog_crawl(
                spark, tables["pages"], tables["index"], state_dir,
                depth="leaf", max_commits=CATALOG_MAX_COMMITS,
            )
            if res["leaves"] == 0:
                break  # drained: the cursor reached the last advertised page
            sc.setLocalProperty("spark.job.description", f"reports-{u}-{k}")
            ok = CrawlState(state_dir).fetched.read(spark).where("status = 'ok'")
            updated = reports_mod.update_reports(spark, ok, report_dir)
            (s,), (cpu,), (steal,) = _deltas([a, mark()])
            incs.append({"s": s, "cpu_s": cpu, "steal_s": steal, "items": res["leaves"],
                         "updated": updated, "cursor": res["cursor"].isoformat()})
        t1 = time.perf_counter()
        units.append({"state": state_dir, "reports": report_dir, "wall": t1 - t0, "steps": incs})
    return {"units": units}


def summarize(out: dict) -> dict:
    """End-to-end numbers of the measured units (medians over units).
    A step is an epoch or an increment; its items are the URLs (or
    leaves) it fetched."""
    units = out["units"]

    def per_item(key: str) -> float:
        return statistics.median(
            sum(st[key] for st in u["steps"]) / sum(st["items"] for st in u["steps"]) for u in units
        )

    def each(key: str) -> list[float]:
        return [st[key] for u in units for st in u["steps"]]

    last = units[-1]
    state_bytes = sum(_dir_bytes(last[k]) for k in ("state", "reports") if k in last)
    return {
        "cpu_ms_per_url": 1e3 * per_item("cpu_s"),
        "urls_per_s": 1 / per_item("s"),
        "state_bytes_per_url": state_bytes / max(1, sum(st["items"] for st in last["steps"])),
        "unit_s": [u["wall"] for u in units],
        "steps": each("s"),
        "step_cpu": each("cpu_s"),
        "step_steal": each("steal_s"),
        "units": len(units),
    }


def main(argv=None) -> int:
    args = _parse(argv)
    t_spawn = float(os.environ.get("PERFBENCH_T0", time.time()))
    result: dict = {"ok": False, "attempted": 1, "failed": 1}
    clock = None
    try:
        sys.path.insert(0, args.root)
        from crawlspark import session as session_mod
        from crawlspark.plans.state import CrawlState

        os.makedirs(args.work, exist_ok=True)
        # the package zip shipped to Python workers goes to the work dir
        orig_pkg = session_mod.package_pyfiles
        session_mod.package_pyfiles = lambda out_path=None: orig_pkg(
            out_path or os.path.join(args.work, "crawlspark_pyfiles.zip")
        )
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(args.work)
            tracer.install()
        clock = Clock()
        clock.install(CrawlState)

        cores = os.cpu_count() or 1
        extra = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.work}"}
        if tracer is not None:
            extra.update(tracer.spark_conf())
        s0 = time.perf_counter()
        spark = session_mod.get_spark(
            f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=extra
        )
        session_s = time.perf_counter() - s0
        tables = {}
        for name in ("pages", "seeds", "robots", "host_budgets", "index"):
            p = os.path.join(args.inputs, f"{name}.parquet")
            if os.path.exists(p):
                tables[name] = spark.read.parquet(p)
        setup_s = time.time() - t_spawn
        result.update(setup_s=setup_s, session_s=session_s)

        run = run_catalog if args.workload == "catalog_incremental" else run_crawl
        out = run(spark, args, tables, clock)
        result["summary"] = summarize(out)
        result["checks"] = checks.check(args.workload, args.seed, args.inputs, out)
        n_ops = checks.count_ops(args.workload, out)
        failed_checks = [c for c in result["checks"] if not c["ok"]]
        result.update(ok=not failed_checks, attempted=n_ops,
                      failed=n_ops if failed_checks else 0)
        spark.stop()  # flushes the event log
        if tracer is not None:
            result["layers"] = tracer.layers(args.workload, out, session_s, cores)
            result["per_step"] = tracer.per_step()
    except Exception:  # noqa: BLE001 -- the result file must record the failure
        # a crash fails every operation attempted so far
        n = max(1, len(clock.commits)) if clock is not None else 1
        result.update(ok=False, attempted=n, failed=n, error=traceback.format_exc())
        print(result["error"], file=sys.stderr)
    finally:
        with open(args.out, "w") as f:
            json.dump(result, f, default=str)
    return 0 if result["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
