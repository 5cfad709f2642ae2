"""Session defaults that depend on the machine or the master string,
and the ones a crawl's CPU cost depends on."""

import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import pytest
from pyspark.find_spark_home import _find_spark_home

from crawlspark.session import (
    JIT_POLICY,
    ClassCache,
    _conf_file_java_opts,
    _with_jit_policy,
    default_driver_memory,
    master_cores,
)

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


# -- the class-data-sharing archive ------------------------------------------

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one session in a fresh process; prints what its JVM reports, the
# values of JIT_POLICY's flags among it
SESSION = """
import json, re, sys
sys.path.insert(0, sys.argv[1])
from crawlspark.session import JIT_POLICY, get_spark
spark = get_spark("cds", master="local[1]", extra_conf=json.loads(sys.argv[2]))
jvm = spark._jvm
mxf = jvm.java.lang.management.ManagementFactory
hotspot = mxf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
print(json.dumps({
    "info": jvm.java.lang.System.getProperty("java.vm.info"),
    "tmpdir": jvm.java.lang.System.getProperty("java.io.tmpdir"),
    "args": list(mxf.getRuntimeMXBean().getInputArguments()),
    "probe": spark.conf.get("spark.crawlspark.probe", None),
    "jit": {f: hotspot.getVMOption(f).getValue() for f in re.findall(r"-XX:(\\w+)=", JIT_POLICY)},
}), flush=True)
"""
# JIT_POLICY's flags and values
POLICY = dict(re.findall(r"-XX:(\w+)=(\S+)", JIT_POLICY))


def _session_cmd(extra_conf=None):
    return [sys.executable, "-c", SESSION, REPO, json.dumps(extra_conf or {})]


def _session_env(cache_home, **env):
    return dict(os.environ, XDG_CACHE_HOME=str(cache_home), **env)


def run_session(cache_home, extra_conf=None, **env):
    """Run SESSION to its exit (and so through its exit dump); its report."""
    out = subprocess.run(
        _session_cmd(extra_conf), env=_session_env(cache_home, **env),
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads([ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1])


def _cache(monkeypatch, cache_home):
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache_home))
    cache = ClassCache.create("")
    assert cache is not None
    return cache


def _dead_pid():
    p = subprocess.Popen([sys.executable, "-c", ""])
    p.wait()
    return p.pid


def _java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


@pytest.fixture(scope="module")
def cache_life(tmp_path_factory):
    """One cache dir through its life. It starts with a stale archive
    under the current key (dumped with another class path), another key's
    archive and a dead process's class list. The first session finds the
    stale archive refused, records and dumps at exit; the second maps the
    new archive. Both pass their own ``-Djava.io.tmpdir``."""
    home = tmp_path_factory.mktemp("xdg")
    with pytest.MonkeyPatch.context() as mp:
        cache = _cache(mp, home)
    jar = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "slf4j-api-*.jar")))[0]
    lst = home / "stale.lst"
    lst.write_text("java/lang/Object\njava/lang/String\norg/slf4j/Logger\n")
    subprocess.run(
        [_java(), "-Xshare:dump", f"-XX:SharedClassListFile={lst}",
         f"-XX:SharedArchiveFile={cache.archive}", "-cp", jar],
        check=True, capture_output=True, timeout=120,
    )
    stale_size = os.path.getsize(cache.archive)
    other_key = os.path.join(cache.root, "0123456789abcdef.jsa")
    dead_list = os.path.join(cache.root, f"{cache.key}.{_dead_pid()}.lst")
    for path in (other_key, dead_list):
        open(path, "w").close()
    tmpdir = str(tmp_path_factory.mktemp("jvm-tmp"))
    opts = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmpdir}"}
    first = run_session(home, opts)
    built = os.path.getsize(cache.archive) if os.path.exists(cache.archive) else None
    left = sorted(os.listdir(cache.root))
    second = run_session(home, opts)
    return dict(home=home, cache=cache, tmpdir=tmpdir, first=first, second=second,
                stale_size=stale_size, built=built, left=left, other_key=other_key,
                dead_list=dead_list)


def test_a_caller_java_option_survives_next_to_the_cache_flags(cache_life):
    first, second = cache_life["first"], cache_life["second"]
    assert first["tmpdir"] == second["tmpdir"] == cache_life["tmpdir"]
    assert any(a.startswith("-XX:DumpLoadedClassList=") for a in first["args"])
    assert f"-XX:SharedArchiveFile={cache_life['cache'].archive}" in second["args"]


def test_a_second_session_maps_the_archive_the_first_one_dumped(cache_life):
    assert "sharing" in cache_life["second"]["info"]
    # the exit dump renamed its file onto the archive and removed the list
    assert cache_life["left"] == sorted(["conf", os.path.basename(cache_life["cache"].archive)])


def test_a_stale_archive_is_replaced_without_leaving_a_jvm_that_shares_nothing(cache_life):
    first = cache_life["first"]
    # the JVM that refused the stale archive was ended; its replacement
    # shares the JDK's default archive and records for the new one
    assert "sharing" in first["info"]
    assert not any("SharedArchiveFile" in a for a in first["args"])
    assert cache_life["built"] > 10 * cache_life["stale_size"]
    # the other key's archive and the dead process's class list are pruned
    assert not os.path.exists(cache_life["other_key"])
    assert not os.path.exists(cache_life["dead_list"])


def test_a_real_spark_conf_file_disables_the_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.crawlspark.probe  applied\n")
    home = tmp_path / "xdg"
    out = run_session(home, SPARK_CONF_DIR=str(conf))
    assert out["probe"] == "applied"
    assert not any("SharedArchiveFile" in a or "DumpLoadedClassList" in a for a in out["args"])
    assert not os.path.exists(home / "crawlspark")


# -- the JIT policy ------------------------------------------------------------


def _jit(values):
    return {flag: float(v) for flag, v in values.items()}


def test_both_archive_sessions_run_under_the_jit_policy(cache_life):
    # the session that recorded the archive and the one that mapped it
    assert _jit(cache_life["first"]["jit"]) == _jit(POLICY)
    assert _jit(cache_life["second"]["jit"]) == _jit(POLICY)


def test_without_the_archive_the_jit_policy_joins_the_conf_files_java_options(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "spark.driver.extraJavaOptions  -Dcrawlspark.probe=kept\n"
    )
    out = run_session(tmp_path / "xdg", SPARK_CONF_DIR=str(conf))
    assert not any("SharedArchiveFile" in a or "DumpLoadedClassList" in a for a in out["args"])
    assert "-Dcrawlspark.probe=kept" in out["args"]
    assert _jit(out["jit"]) == _jit(POLICY)


@pytest.mark.parametrize("where", ["extraJavaOptions", "JAVA_TOOL_OPTIONS"])
def test_a_users_own_jit_flag_wins(cache_life, where):
    """The user's value for one of the policy's flags applies, and the
    policy's other flags keep the JVM's defaults. JAVA_TOOL_OPTIONS lose
    to the command line, so there only skipping the policy lets it win."""
    flag, value = next(iter(POLICY.items()))
    own = f"-XX:{flag}={2 * float(value):g}"
    if where == "JAVA_TOOL_OPTIONS":
        out = run_session(cache_life["home"], JAVA_TOOL_OPTIONS=own)
    else:
        out = run_session(cache_life["home"], {"spark.driver.extraJavaOptions": own})
    assert "sharing" in out["info"]
    jit = _jit(out["jit"])
    assert jit.pop(flag) == 2 * float(value)
    assert all(jit[f] != float(v) for f, v in POLICY.items() if f != flag)
    assert not any(a.startswith(f"-XX:{f}=") for f in POLICY for a in out["args"] if a != own)


def test_any_jit_flag_of_the_users_turns_the_policy_off(monkeypatch):
    for var in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS", "SPARK_SUBMIT_OPTS"):
        monkeypatch.delenv(var, raising=False)
    assert _with_jit_policy("") == JIT_POLICY
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:-UsePerfData")  # not a JIT flag
    assert _with_jit_policy("-Da=1") == f"-Da=1 {JIT_POLICY}"
    for own in ("-XX:TieredStopAtLevel=1", "-XX:-TieredCompilation",
                "-XX:Tier3InvocationThreshold=100", "-XX:CompileThreshold=1000",
                "-XX:CompileThresholdScaling=0.5"):
        assert _with_jit_policy(f"-Da=1 {own}") == f"-Da=1 {own}"
        monkeypatch.setenv("SPARK_SUBMIT_OPTS", own)
        assert _with_jit_policy("-Da=1") == "-Da=1"
        monkeypatch.delenv("SPARK_SUBMIT_OPTS")


def test_the_conf_files_driver_java_options_are_read_as_spark_reads_them(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _conf_file_java_opts() == ""  # no spark-defaults.conf
    defaults = tmp_path / "spark-defaults.conf"
    defaults.write_text(
        "# spark.driver.extraJavaOptions -Dcommented\n"
        "spark.driver.extraJavaOptionsX -Dother\n"
        "spark.driver.extraJavaOptions   -Da=1 -Db=2  \n"
        "spark.executor.extraJavaOptions -Dexecutor\n"
    )
    assert _conf_file_java_opts() == "-Da=1 -Db=2"
    defaults.write_text("spark.driver.extraJavaOptions=-Da=1\nspark.driver.extraJavaOptions: -Dc=3\n")
    assert _conf_file_java_opts() == "-Dc=3"  # the last one wins


def test_user_sharing_flags_or_an_unwritable_cache_disable_the_archive(monkeypatch, tmp_path):
    templates = tmp_path / "conf"
    templates.mkdir()
    (templates / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(templates))
    assert _cache(monkeypatch, tmp_path / "xdg") is not None  # templates alone do not count
    assert ClassCache.create("-Djava.io.tmpdir=/x -Xshare:off") is None
    assert ClassCache.create("-XX:ArchiveClassesAtExit=a.jsa") is None
    monkeypatch.setenv("JAVA_TOOL_OPTIONS", "-XX:SharedArchiveFile=a.jsa")
    assert ClassCache.create("") is None
    monkeypatch.delenv("JAVA_TOOL_OPTIONS")
    blocked = tmp_path / "file"
    blocked.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocked))  # a file, not a dir
    assert ClassCache.create("") is None


def test_a_killed_dump_leaves_no_file_under_the_archive_name(monkeypatch, tmp_path):
    home = tmp_path / "xdg"
    cache = _cache(monkeypatch, home)
    proc = subprocess.Popen(
        _session_cmd(), env=_session_env(home), start_new_session=True,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and not _dumping(cache.root):
            assert proc.poll() is None, "the session ended before its dump started"
            time.sleep(0.05)
        assert _dumping(cache.root)
    finally:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait(timeout=60)
    time.sleep(1)
    assert not os.path.exists(cache.archive)
    # what the killed processes left is pruned by the next session
    cache.prune()
    assert os.listdir(cache.root) == ["conf"]


def _dumping(root):
    """Whether a process is dumping an archive into ``root``."""
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"-Xshare:dump" in cmd and str(root).encode() in cmd:
            return True
    return False
