"""crawlspark benchmark: one command per workload, run from the repo root.

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 20 --trace 0

Generates (or reuses) the workload's seeded inputs, starts measuring
processes (``worker.py``) one at a time, samples their process tree's
memory, and prints as its last stdout line one JSON object with keys
``correct``, ``attempted``, ``failed`` and ``metrics``:

* ``--trace 0`` — the end-to-end metrics (see BENCHMARK.json).
* ``--trace 1`` — the per-layer metrics: one untraced and one traced
  measuring process, each for half of ``--seconds``; the difference of
  their unit times is the tracing overhead.

Everything the run writes stays under ``.perfbench/`` in the current
directory. See README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import proc  # noqa: E402
from checks import DEFAULT_SEED  # noqa: E402

WORKLOADS = ("crawl_bulk", "crawl_polite", "catalog_incremental")
RUN_DEADLINE_S = 170  # a run must end within 180 s

# input digests of the default seed: parent and change must run on
# identical bytes
PINNED_INPUTS = {
    "crawl_bulk": "6f90c6206bc135e6",
    "crawl_polite": "f02372b4e243182e",
    "catalog_incremental": "1eb12a99e27b2127",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _info(**kw) -> None:
    print(json.dumps(kw, default=str), flush=True)


# -- process tree ------------------------------------------------------------

class RssSampler(threading.Thread):
    """Peak summed RSS of a process tree, sampled every 100 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.1):
            self.peak = max(self.peak, proc.rss_bytes(proc.tree(self.pid)))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _adopt_orphans() -> None:
    """Become the child subreaper, so processes a worker leaves behind
    (the JVM, PySpark's Python daemon) are re-parented here and can be
    killed and waited for."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_all() -> None:
    """Kill every remaining descendant and wait until each has ended."""
    deadline = time.time() + 20
    while time.time() < deadline:
        for p in proc.tree(os.getpid())[1:]:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no children left
        time.sleep(0.05)


# -- one measuring process ----------------------------------------------------

def ram_gib() -> float:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30


def driver_mem() -> str:
    """Driver heap that fits the box: a quarter of RAM, 1-4 GiB."""
    return f"{int(min(4, max(1, ram_gib() // 4)))}g"


def run_worker(root: str, args, in_dir: str, work: str, name: str, *,
               seconds: float, deadline: float, trace: int = 0) -> dict:
    """Run one ``worker.py`` to completion (or the deadline) and return its
    result, with the peak RSS of its process tree added."""
    wdir = os.path.join(work, name)
    out = os.path.join(wdir, "result.json")
    os.makedirs(os.path.join(wdir, "tmp"), exist_ok=True)
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=os.path.join(wdir, "spark-local"),
        TMPDIR=os.path.join(wdir, "tmp"),
        CRAWLSPARK_DRIVER_MEM=driver_mem(),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--root", root,
        "--workload", args.workload, "--seed", str(args.seed), "--inputs", in_dir,
        "--work", wdir, "--out", out, "--seconds", str(seconds), "--trace", str(trace),
    ]
    log_path = os.path.join(wdir, "worker.log")
    with open(log_path, "w") as log:
        env["PERFBENCH_T0"] = repr(time.time())  # set-up is timed from here
        child = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT)
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            child.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            child.kill()
            child.wait()
        finally:
            sampler.stop()
            _reap_all()
    try:
        with open(out) as f:
            res = json.load(f)
    except (OSError, ValueError):
        res = {"ok": False, "attempted": 1, "failed": 1, "error": f"no result (exit {child.returncode})"}
    res["peak_rss_mb"] = sampler.peak / 2**20
    if not res.get("ok"):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-3000:]
        print(f"worker {name} failed:\n{res.get('error', '')}\n{tail}", file=sys.stderr)
    return res


def prepare_inputs(root: str, workload: str, seed: int) -> str:
    """Inputs are written once per (workload, seed, generator digest)."""
    key = f"{workload}-s{seed}-{corpus.generator_digest()}"
    in_dir = os.path.join(root, ".perfbench", "inputs", key)
    if not os.path.isdir(in_dir):
        corpus.write_inputs(workload, seed, in_dir)
    return in_dir


def end_to_end(res: dict) -> dict:
    s = res["summary"]
    return {
        "setup_s": {"value": res["setup_s"], "unit": "s"},
        "cpu_ms_per_url": {"value": s["cpu_ms_per_url"], "unit": "ms"},
        "state_bytes_per_url": {"value": s["state_bytes_per_url"], "unit": "B"},
    }


def main(argv=None) -> int:
    args = _parse(argv)
    deadline = time.time() + RUN_DEADLINE_S
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "crawlspark", "__init__.py")):
        print("perfbench: run from the repository root (no crawlspark/ here)", file=sys.stderr)
        return 2
    _adopt_orphans()
    in_dir = prepare_inputs(root, args.workload, args.seed)
    digest = corpus.digest(in_dir)
    pinned = PINNED_INPUTS[args.workload]
    if args.seed == DEFAULT_SEED and digest != pinned:
        print(f"perfbench: input digest {digest} != pinned {pinned}", file=sys.stderr)
        return 3
    work = os.path.join(root, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    _info(workload=args.workload, seed=args.seed, input_digest=digest,
          nproc=os.cpu_count(), ram_gib=round(ram_gib(), 1), driver_mem=driver_mem())

    if args.trace:
        half = args.seconds / 2
        base = run_worker(root, args, in_dir, work, "untraced", seconds=half, deadline=deadline)
        res = run_worker(root, args, in_dir, work, "traced", seconds=half, deadline=deadline, trace=1)
        runs = [base, res]
    else:
        res = run_worker(root, args, in_dir, work, "main", seconds=args.seconds, deadline=deadline)
        runs = [res]
    ok = all(r.get("ok") for r in runs)
    attempted = sum(r.get("attempted", 1) for r in runs)
    failed = sum(r.get("failed", 1) for r in runs)
    metrics = {}
    if ok and args.trace:
        metrics = res["layers"]
        # traced minus untraced end-to-end time, as a share of untraced
        untraced = statistics.median(base["summary"]["unit_s"])
        traced = statistics.median(res["summary"]["unit_s"])
        metrics["trace.overhead_ratio"] = {"value": traced / untraced - 1.0, "unit": "ratio"}
        metrics["process.peak_rss_mb"] = {"value": base["peak_rss_mb"], "unit": "MB"}
    elif ok:
        metrics = end_to_end(res)
    if ok:
        s = res["summary"]
        _info(units=s["units"], urls_per_s=round(s["urls_per_s"], 1), step_s_p50=statistics.median(s["steps"]),
              step_samples=len(s["steps"]), steps_s=[round(x, 3) for x in s["steps"]],
              step_cpu=[round(x, 3) for x in s["step_cpu"]], step_steal=[round(x, 3) for x in s["step_steal"]],
              failed_op_ratio=failed / attempted, peak_rss_mb=round(res["peak_rss_mb"]),
              checks=[c["name"] for c in res["checks"]], per_step_spans=res.get("per_step"))
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
