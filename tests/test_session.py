"""Session defaults that depend on the machine or the master string,
and the ones a crawl's CPU cost depends on."""

import os

from crawlspark.session import default_driver_memory, master_cores

GIB = 2**30


def test_default_driver_memory_is_half_of_ram_capped_at_16g():
    assert default_driver_memory(int(15.7 * GIB)) == "7g"
    assert default_driver_memory(32 * GIB) == "16g"
    assert default_driver_memory(256 * GIB) == "16g"
    assert default_driver_memory(1 * GIB) == "1g"  # never below 1g


def test_default_driver_memory_reads_physical_ram():
    gib = int(default_driver_memory()[:-1])
    assert 1 <= gib <= 16


def test_master_cores_parses_every_master_form():
    cpus = os.cpu_count()
    assert master_cores("local[4]") == 4
    assert master_cores("local[4,2]") == 4
    assert master_cores("local[*]") == cpus
    assert master_cores("local[*,3]") == cpus
    assert master_cores("local-cluster[2,2,1024]") == 4
    assert master_cores("local-cluster[3, 2, 512]") == 6
    assert master_cores("local") == cpus
    assert master_cores("spark://host:7077") == cpus
    assert master_cores("yarn") == cpus


def test_a_repeated_crawl_compiles_almost_no_generated_class(spark, corpus_dir, tmp_path):
    """A small crawl uses more distinct generated classes than Spark's
    default codegen cache holds (100): with it, a second identical crawl
    compiled well over 100 classes again. get_spark sizes the cache so that
    it compiles close to none."""
    from crawlspark.plans.epoch import CrawlConfig, web_crawl

    def read(name):
        return spark.read.parquet(os.path.join(corpus_dir, f"{name}.parquet"))

    def crawl(state_dir):
        web_crawl(
            spark, read("pages"), state_dir, read("seeds"),
            robots=read("robots"), host_budgets=read("host_budgets"),
            config=CrawlConfig(default_budget=8, max_epochs=2),
        )

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    crawl(str(tmp_path / "first"))
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    crawl(str(tmp_path / "second"))
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before <= 5
