"""spark-submit --py-files packaging: the shipped zip must contain the
full crawlspark package so multi-executor masters (local-cluster / yarn
/ k8s) can unpickle our pandas UDFs. The first test pins the artifact's
contents without paying a JVM spin-up; the second runs a crawl through
spark-submit with only the artifact on the workers' path."""

import zipfile

from crawlspark.session import package_pyfiles


def test_pyfiles_zip_contains_package(tmp_path):
    out = package_pyfiles(str(tmp_path / "pyfiles.zip"))
    names = set(zipfile.ZipFile(out).namelist())
    for mod in [
        "crawlspark/session.py",
        "crawlspark/functions/extract.py",
        "crawlspark/operators/politeness.py",
        "crawlspark/operators/bloom.py",
        "crawlspark/plans/epoch.py",
    ]:
        assert mod in names, f"{mod} missing from --py-files artifact"
    assert all(n.startswith("crawlspark/") for n in names)
    assert not any(n.endswith(".pyc") for n in names)


def test_spark_submit_pyfiles_end_to_end(tmp_path):
    """The north-rule packaging claim, run literally: `spark-submit
    --py-files crawlspark.zip job.py` from a cwd with NO crawlspark on
    the path — a driver script that executes a mini web-crawl epoch and
    prints its stats. Verifies workers resolve the Arrow UDFs from the
    shipped artifact alone."""
    import json
    import os
    import subprocess
    import sys

    from crawlspark.session import package_pyfiles

    zip_path = package_pyfiles(str(tmp_path / "pyfiles.zip"))
    job = tmp_path / "job.py"
    job.write_text(
        """
import json, sys
from pyspark.sql import SparkSession, functions as F
spark = (SparkSession.builder.appName("submit-smoke")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
from crawlspark.plans.epoch import CrawlConfig, web_crawl
from crawlspark.testdata import build_pages, pages_only
pages = pages_only(build_pages(spark, 300, n_hosts=6, n_outlinks=3))
seeds = pages.select("url").limit(60).select("url", F.lit(0).alias("priority"))
stats = web_crawl(spark, pages, sys.argv[1], seeds,
                  config=CrawlConfig(default_budget=16, max_epochs=2))
print("RESULT:" + json.dumps({"epochs": len(stats),
                              "fetched": sum(s["urls_fetched"] for s in stats)}))
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        ["/opt/spark/bin/spark-submit", "--master", "local[2]",
         "--py-files", zip_path, str(job), str(tmp_path / "state")],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=600, env=env,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT:")]
    assert lines, f"no RESULT line:\n{proc.stderr[-3000:]}"
    res = json.loads(lines[-1][len("RESULT:"):])
    assert res["epochs"] >= 1 and res["fetched"] > 0
