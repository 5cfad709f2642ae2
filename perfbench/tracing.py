"""Per-layer tracing for the traced benchmark run.

Driver spans come from wrappers installed around the engine's public
functions (the engine source is untouched). Each span records name,
start, end and parent; spans stay in memory and are written to
``spans.json`` in the work dir at the end. Executor-side numbers come
from the Spark event log: task metrics are attributed to epochs and
increments through each job's ``spark.job.description``, and Python UDF
metrics to UDFs through the SQL plans' node → accumulator map.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time
from collections import defaultdict

import checks
import corpus

# (span name, module, attribute path) of each wrapped callable. The
# catalog's ordering and interval operators are imported by name into
# ``plans.epoch``, so they are wrapped there.
TARGETS = (
    ("crawl", "crawlspark.plans.epoch", "web_crawl"),
    ("catalog.crawl", "crawlspark.plans.epoch", "catalog_crawl"),
    ("reports.update", "crawlspark.plans.reports", "update_reports"),
    ("politeness.robots", "crawlspark.plans.epoch", "apply_robots"),
    ("politeness.topk", "crawlspark.plans.epoch", "topk_per_host_split"),
    ("bloom.seen_filter", "crawlspark.plans.epoch", "seen_filter"),
    ("ordering.plan", "crawlspark.plans.epoch", "cursor_filter"),
    ("ordering.plan", "crawlspark.plans.epoch", "ordered_limit"),
    ("ordering.plan", "crawlspark.plans.epoch", "commit_budget_cutoff"),
    ("ordering.plan", "crawlspark.plans.epoch", "bucketed_interval_join"),
    ("epoch.action", "crawlspark.sources.tables", "EpochTable.write_epoch_split"),
    ("tables.write_epoch", "crawlspark.sources.tables", "EpochTable.write_epoch"),
    ("tables.lineage", "crawlspark.sources.tables", "EpochTable.write_epoch_rows"),
    ("tables.commit", "crawlspark.sources.tables", "CommitLog.commit"),
    ("state.commit_epoch", "crawlspark.plans.state", "CrawlState.commit_epoch"),
    ("bloom.fold", "crawlspark.operators.bloom", "IncrementalSeen.fold"),
    ("bloom.rebuild", "crawlspark.operators.bloom", "IncrementalSeen.rebuild_if_needed"),
)

PY_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "bytes_to",
    "data returned from Python workers": "bytes_from",
    "number of output rows": "rows",
}


class Tracer:
    def __init__(self, work: str):
        self.work = work
        self.event_dir = os.path.join(work, "events")
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def spark_conf(self) -> dict[str, str]:
        os.makedirs(self.event_dir, exist_ok=True)
        # one plain JSON-lines file, not Spark 4's rolling zstd directory
        return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{self.event_dir}",
                "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false"}

    def _wrap(self, name: str, fn):
        tracer = self

        def traced(*a, **kw):
            span = {"name": name, "start": time.perf_counter(), "end": None,
                    "parent": tracer._stack[-1] if tracer._stack else None}
            tracer.spans.append(span)
            tracer._stack.append(len(tracer.spans) - 1)
            try:
                out = fn(*a, **kw)
                if isinstance(out, bool):
                    span["result"] = out
                elif isinstance(out, dict) and "leaves" in out:
                    span["result"] = out["leaves"]
                return out
            finally:
                tracer._stack.pop()
                span["end"] = time.perf_counter()

        return traced

    def install(self) -> None:
        import importlib

        for name, mod_name, path in TARGETS:
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            setattr(owner, attr, self._wrap(name, getattr(owner, attr)))

    # -- aggregation ---------------------------------------------------------

    def _named(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    @staticmethod
    def _dur(spans) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    def _epoch_walls(self) -> tuple[list[float], list[float]]:
        """Per epoch: wall ([crawl start | previous commit, commit]) and
        driver self time (wall minus the crawl's child spans in it)."""
        walls, self_s = [], []
        for idx, crawl in enumerate(self.spans):
            if crawl["name"] != "crawl":
                continue
            kids = [s for s in self.spans if s["parent"] == idx]
            marks = [crawl["start"]] + [s["end"] for s in kids if s["name"] == "state.commit_epoch"]
            for lo, hi in zip(marks, marks[1:]):
                walls.append(hi - lo)
                covered = _union([(max(lo, s["start"]), min(hi, s["end"]))
                                  for s in kids if s["end"] > lo and s["start"] < hi])
                self_s.append(hi - lo - covered)
        return walls, self_s

    def layers(self, workload: str, out: dict, session_s: float, cores: int) -> dict:
        with open(os.path.join(self.work, "spans.json"), "w") as f:
            json.dump(self.spans, f)
        ev = EventLog(glob.glob(os.path.join(self.event_dir, "*"))[0])
        units = out["units"]
        catalog = workload == "catalog_incremental"
        steps = max(1, sum(len(u["steps"]) for u in units))
        step_jobs = ev.jobs_matching(("catalog-", "reports-") if catalog else ("crawl-epoch-",))

        walls, self_s = self._epoch_walls()
        n_ep = max(len(walls), 1)
        epoch_jobs = ev.jobs_matching(("crawl-epoch-",))
        etm = ev.task_metrics(epoch_jobs)
        action_s = self._dur(self._named("epoch.action")) / n_ep
        m: dict[str, tuple[float, str]] = {
            "session.start_s": (session_s, "s"),
            # summed over tasks, like every Python SQL metric
            "extract.worker_boot_s": ((ev.python("", "boot_s") + ev.python("", "init_s")) / steps, "s"),
            "epoch.wall_s": (sum(walls) / n_ep, "s"),
            "epoch.action_s": (action_s, "s"),
            "epoch.driver_self_s": (sum(self_s) / n_ep, "s"),
            "epoch.jobs": (len(epoch_jobs) / n_ep, "count"),
            "epoch.stages": (ev.stage_count(epoch_jobs) / n_ep, "count"),
            "epoch.task_cpu_s": (etm["cpu_s"] / n_ep, "s"),
            "epoch.gc_s": (etm["gc_s"] / n_ep, "s"),
            "epoch.occupancy": (etm["run_s"] / (cores * sum(walls)) if walls else 0.0, "ratio"),
            "epoch.shuffle_write_bytes": (etm["shuffle_write"] / n_ep, "B"),
            "epoch.shuffle_read_bytes": (etm["shuffle_read"] / n_ep, "B"),
            "epoch.spill_bytes": (etm["spill"] / n_ep, "B"),
            "politeness.plan_s": (self._dur(self._named("politeness.")) / steps, "s"),
            "ordering.plan_s": (self._dur(self._named("ordering.plan")) / steps, "s"),
            "bloom.fold_s": (self._dur(self._named("bloom.fold")) / steps, "s"),
            "bloom.rebuild_s": (self._dur(self._named("bloom.rebuild")) / steps, "s"),
            "bloom.rebuilds": (sum(1 for s in self._named("bloom.rebuild") if s.get("result")), "count"),
            "bloom.probe_python_s": (ev.python("maybe_seen", "python_s") / steps, "s"),
            "extract.python_s": (ev.python("extract_", "python_s") / steps, "s"),
            "extract.bytes_to_python": (ev.python("extract_", "bytes_to") / steps, "B"),
            "extract.bytes_from_python": (ev.python("extract_", "bytes_from") / steps, "B"),
            "extract.rows": (ev.python("extract_", "rows") / steps, "count"),
            "tables.commit_s": (self._dur(self._named("tables.commit")) / steps, "s"),
            "tables.lineage_s": (self._dur(self._named("tables.lineage")) / steps, "s"),
            "tables.output_bytes": (ev.task_metrics(step_jobs)["output_bytes"] / steps, "B"),
            "tables.files_written": (sum(_parquet_files(u) for u in units) / steps, "count"),
        }
        # share of the epoch action's core time spent in the extract UDF
        m["extract.action_share"] = (
            m["extract.python_s"][0] / (cores * action_s) if action_s else 0.0, "ratio")
        m.update(self._catalog_layers(ev, units) if catalog else _crawl_ratios(workload, units))
        return {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(m.items())}

    def per_step(self) -> dict[str, list[float]]:
        """Durations of the spans that recur once per epoch or increment."""
        return {
            name: [round(s["end"] - s["start"], 4) for s in self._named(name)
                   if name != "catalog.crawl" or s.get("result")]
            for name in ("epoch.action", "bloom.fold", "catalog.crawl", "reports.update")
        }

    def _catalog_layers(self, ev: "EventLog", units: list[dict]) -> dict:
        incs = [(u, k) for u, unit in enumerate(units) for k in range(len(unit["steps"]))]
        n = max(len(incs), 1)
        cat_jobs = ev.jobs_matching(tuple(f"catalog-{u}-{k}" for u, k in incs), exact=True)
        rep_jobs = ev.jobs_matching(tuple(f"reports-{u}-{k}" for u, k in incs), exact=True)
        crawls = [s for s in self._named("catalog.crawl") if s.get("result")]
        return {
            "catalog.crawl_s": (self._dur(crawls) / n, "s"),
            "catalog.jobs": (len(cat_jobs) / n, "count"),
            "reports.update_s": (self._dur(self._named("reports.update")) / n, "s"),
            "reports.jobs": (len(rep_jobs) / n, "count"),
            "reports.rewrite_bytes": (ev.task_metrics(rep_jobs)["output_bytes"] / n, "B"),
            "politeness.dequeue_ratio": (0.0, "ratio"),
            "seen.admit_ratio": (0.0, "ratio"),
        }


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def _parquet_files(unit: dict) -> int:
    return sum(
        n.endswith(".parquet")
        for key in ("state", "reports") if key in unit
        for _root, _dirs, names in os.walk(unit[key]) for n in names
    )


def _crawl_ratios(workload: str, units: list[dict]) -> dict:
    """politeness.dequeue_ratio = dequeued / pending per epoch;
    seen.admit_ratio = new frontier rows from links / links discovered."""
    outlinks = corpus.CRAWL_SHAPES[workload]["n_outlinks"]
    dequeued = pending = admitted = discovered = 0
    for u in units:
        frontier = checks.read_table(u["state"], "frontier", ["discovery_ts"])
        ts = frontier["discovery_ts"].cast("timestamp[us]").to_pylist()
        ep = frontier["epoch"].to_pylist()
        for i, s in enumerate(u["stats"]):
            dequeued += s["urls_dequeued"]
            pending += u["seeds"] if i == 0 else u["stats"][i - 1]["urls_pending_after"]
            discovered += outlinks * s["urls_fetched"]
            new_ts = checks.DISCOVERY_BASE + dt.timedelta(minutes=s["epoch"] + 1)
            admitted += sum(1 for e, t in zip(ep, ts) if e == s["epoch"] and t == new_ts)
    return {
        "politeness.dequeue_ratio": (dequeued / max(pending, 1), "ratio"),
        "seen.admit_ratio": (admitted / max(discovered, 1), "ratio"),
        "catalog.crawl_s": (0.0, "s"),
        "catalog.jobs": (0.0, "count"),
        "reports.update_s": (0.0, "s"),
        "reports.jobs": (0.0, "count"),
        "reports.rewrite_bytes": (0.0, "B"),
    }


class EventLog:
    """The parts of a Spark event log the layer metrics need."""

    def __init__(self, path: str):
        self.job_desc: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_done: set[int] = set()
        self.tasks: list[dict] = []
        self.accums: dict[int, tuple[str, str, str]] = {}  # id -> (node string, metric, type)
        self.accum_sum: dict[int, float] = defaultdict(float)
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get("spark.job.description") or ""
                    self.job_desc[e["Job ID"]] = desc
                    for sid in e["Stage IDs"]:
                        self.stage_job[sid] = e["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    self.stages_done.add(e["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append(e)
                    for a in e.get("Task Info", {}).get("Accumulables", []):
                        upd = a.get("Update")
                        if isinstance(upd, (int, float)):
                            self.accum_sum[a["ID"]] += upd
                        elif isinstance(upd, str) and upd.lstrip("-").isdigit():
                            self.accum_sum[a["ID"]] += int(upd)
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    self._walk(e["sparkPlanInfo"])

    def _walk(self, node: dict) -> None:
        name = node.get("nodeName", "")
        if "Python" in name or "InPandas" in name:
            for met in node.get("metrics", []):
                self.accums[met["accumulatorId"]] = (
                    node.get("simpleString", ""), met["name"], met.get("metricType", ""))
        for child in node.get("children", []):
            self._walk(child)

    def python(self, udf: str, key: str) -> float:
        """Sum of one Python SQL metric over nodes whose plan string
        mentions ``udf`` (every Python node for an empty string)."""
        total = 0.0
        for aid, (desc, name, mtype) in self.accums.items():
            if PY_METRICS.get(name) != key or udf not in desc:
                continue
            v = self.accum_sum.get(aid, 0.0)
            total += v / 1e9 if mtype == "nsTiming" else v / 1e3 if mtype == "timing" else v
        return total

    def jobs_matching(self, prefixes: tuple[str, ...], exact: bool = False) -> set[int]:
        if exact:
            return {j for j, d in self.job_desc.items() if d in prefixes}
        return {j for j, d in self.job_desc.items() if d.startswith(prefixes)}

    def stage_count(self, jobs: set[int]) -> int:
        return sum(1 for s in self.stages_done if self.stage_job.get(s) in jobs)

    def task_metrics(self, jobs: set[int]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for e in self.tasks:
            if self.stage_job.get(e["Stage ID"]) not in jobs:
                continue
            tm = e.get("Task Metrics") or {}
            out["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            out["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics", {})
            out["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            out["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            out["spill"] += tm.get("Disk Bytes Spilled", 0)
            out["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
        return out
