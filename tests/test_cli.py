"""The user-facing CLI (python -m crawlspark ...) runs all three
subcommands end-to-end in-process — the repo equivalent of the
reference's Program.cs command surface."""

import json
import os

from crawlspark.__main__ import main


def _corpus(spark, tmp_path):
    from crawlspark.testdata import write_corpus

    d = str(tmp_path / "corpus")
    write_corpus(spark, d, n_pages=120, n_hosts=6)
    return d


def test_crawl_then_reports(spark, tmp_path, capsys):
    d = _corpus(spark, tmp_path)
    state = str(tmp_path / "state")
    assert main(["crawl", "--corpus", d, "--state", state,
                 "--budget", "6", "--max-epochs", "4"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["command"] == "crawl"
    assert out["epochs"] > 0 and out["urls_fetched"] > 0
    assert os.path.exists(os.path.join(state, "_commits.json"))

    # resume from the CLI: more epochs continue the same state
    assert main(["crawl", "--corpus", d, "--state", state,
                 "--budget", "6", "--max-epochs", "20"]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["epochs"] >= 0  # either continued or already exhausted

    rep = str(tmp_path / "reports")
    assert main(["update-reports", "--state", state, "--report-dir", rep]) == 0
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["command"] == "update-reports"
    assert sum(out3["updated"].values()) > 0
    assert os.path.exists(os.path.join(rep, "page_count_by_day.csv"))


def test_download_subcommand(spark, tmp_path, capsys):
    from crawlspark.testdata import write_staged_corpus

    steps = write_staged_corpus(spark, str(tmp_path / "staged"), n_hosts=4)
    state = str(tmp_path / "dstate")
    assert main(["download", "--corpus", steps["step4"], "--state", state,
                 "--depth", "leaf", "--max-commits", "3"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["command"] == "download"
    assert out["leaves"] > 0
    # second run advances the cursor past the first commit budget
    assert main(["download", "--corpus", steps["step4"], "--state", state,
                 "--depth", "leaf", "--max-commits", "3"]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["run"] == out["run"] + 1
    assert out2["cursor"] > out["cursor"]


def test_crawl_rollback_flag(spark, tmp_path, capsys):
    from crawlspark.plans.state import CrawlState

    d = _corpus(spark, tmp_path)
    state = str(tmp_path / "state_rb")
    assert main(["crawl", "--corpus", d, "--state", state,
                 "--budget", "6", "--max-epochs", "4"]) == 0
    capsys.readouterr()
    epochs = CrawlState(state).log.committed_epochs()
    assert len(epochs) >= 3

    # rollback to epoch 0, then re-crawl: dropped epochs re-execute
    assert main(["crawl", "--corpus", d, "--state", state, "--budget", "6",
                 "--max-epochs", "4", "--rollback-to", "0"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["rolled_back_epochs"] == [e for e in epochs if e > 0]
    assert lines[-1]["command"] == "crawl"
    assert CrawlState(state).log.committed_epochs() == epochs  # converged back
    fetched = CrawlState(state).fetched.read(spark)
    assert fetched.count() == fetched.select("url").distinct().count()


def test_max_total_urls_stops_at_the_first_epoch_boundary_at_the_limit(spark, tmp_path, capsys):
    """--max-total-urls (CrawlConfig.max_total_urls) is checked at epoch
    start against the final (ok + failed) URLs committed so far, resumed
    epochs included: the crawl stops at the first epoch boundary where
    that count is at least the limit, and the epoch that crosses it runs
    whole. A later call on the same state dir makes no progress."""
    from crawlspark.plans.epoch import CrawlConfig, web_crawl
    from crawlspark.plans.state import CrawlState

    d = _corpus(spark, tmp_path)
    state = str(tmp_path / "state_cap")
    args = ["crawl", "--corpus", d, "--state", state, "--budget", "6"]

    def crawl(*extra) -> int:
        assert main(args + list(extra)) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])["epochs"]

    def finals() -> list[int]:
        return [s["urls_fetched"] + s["urls_failed"] for s in CrawlState(state).epoch_stats()]

    assert crawl("--max-epochs", "1") == 1
    (final0,) = finals()
    assert final0 > 0
    # the limit is reached exactly: no further epoch starts
    assert crawl("--max-total-urls", str(final0)) == 0
    # one URL short of it: epoch 1 runs, and runs whole past the limit
    assert crawl("--max-total-urls", str(final0 + 1)) == 1
    assert finals()[1] > 1
    assert CrawlState(state).epoch_stats()[-1]["urls_pending_after"] > 0  # not exhausted
    # resumed at the limit, from the CLI and from the API: nothing more
    assert crawl("--max-total-urls", str(final0 + 1)) == 0
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    seeds = spark.read.parquet(os.path.join(d, "seeds.parquet"))
    cfg = CrawlConfig(default_budget=6, max_total_urls=final0 + 1)
    assert web_crawl(spark, pages, state, seeds, config=cfg) == []
    assert CrawlState(state).log.committed_epochs() == [0, 1]


def test_default_cursor_value_with_an_offset_is_read_as_utc(spark, tmp_path, capsys):
    """Cursors are naive UTC: a --default-cursor-value with a UTC offset
    seeds the same cursor as the naive UTC value of the same instant."""
    from crawlspark.testdata import write_staged_corpus

    steps = write_staged_corpus(spark, str(tmp_path / "staged"), n_hosts=4)
    outs = []
    for i, value in enumerate(["2024-03-01T00:02:00", "2024-03-01T05:32:00+05:30"]):
        assert main(["download", "--corpus", steps["step4"], "--state", str(tmp_path / f"s{i}"),
                     "--depth", "leaf", "--default-cursor-value", value]) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        outs.append((out["leaves"], out["cursor"]))
    assert outs[0][0] > 0
    assert outs[1] == outs[0]
