"""End-to-end CLI integration (VERDICT r2 missing #5): drive
scripts/crawl_driver.py as a subprocess — the spark-submit surface the three
reference example apps use (example/*/main.go) — and check its JSON report
equals the engine-direct write_report output for the same config."""

import json
import os
import subprocess
import sys

import pytest
from test_session import spark_submit, submit_env

from cs3103_gocrawler_spark.plans.report import write_report
from cs3103_gocrawler_spark.streaming.rounds import PHASE_KEYS, CrawlConfig, CrawlEngine

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER = os.path.join(REPO, "scripts", "crawl_driver.py")


def _json_line(p):
    assert p.returncode == 0, p.stderr[-2000:]
    out = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    assert out, p.stdout
    return json.loads(out[-1])


def _run_cli(web_dir, state_dir, report_path, extra):
    # a bare run builds its session with build_session's defaults; the
    # driver memory stays small here, as spark-submit's own default would
    return _json_line(subprocess.run(
        [sys.executable, DRIVER, "--web-dir", web_dir, "--state-dir", state_dir,
         "--report", report_path, *extra],
        capture_output=True, text=True, timeout=420,
        env={**os.environ, "PYSPARK_PYTHON": sys.executable, "SPARK_DRIVER_MEM": "1g"},
    ))


def test_cli_under_spark_submit_keeps_master(tiny_web, tmp_path):
    """Under spark-submit the driver builds the engine's session, and the
    submitted --master decides the parallelism it reports."""
    _, web_dir = tiny_web
    summary = _json_line(subprocess.run(
        [spark_submit(), "--master", "local[2]", "--driver-memory", "1g", DRIVER,
         "--web-dir", web_dir, "--state-dir", str(tmp_path / "state"),
         "--max-depth", "2", "--budget-per-host", "3"],
        capture_output=True, text=True, timeout=420, env=submit_env(),
    ))
    assert summary["parallelism"] == 2
    assert summary["urls_dequeued"] > 0


def _engine_report(spark, web_dir, tmp_path, cfg, name):
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{web_dir}/seeds.parquet")
    eng = CrawlEngine(spark, pages, cfg, str(tmp_path / f"eng_{name}"))
    eng.init_frontier(seeds)
    eng.run()
    path = str(tmp_path / f"eng_{name}.json")
    write_report(eng, path, wall_sec=0.0, config={})
    with open(path) as f:
        return json.load(f)


def test_cli_robots_gate(spark, tiny_web, tmp_path):
    """--robots loads <web-dir>/robots.parquet: disallowed paths are dropped
    at admission (never fetch_error'd), matching the engine-direct run."""
    _, web_dir = tiny_web
    report_path = str(tmp_path / "cli_robots.json")
    summary = _run_cli(web_dir, str(tmp_path / "cli_state_robots"), report_path,
                       ["--robots", "--max-depth", "4", "--budget-per-host", "3"])
    assert summary["urls_dequeued"] > 0
    assert set(summary["phase_s"]) == set(PHASE_KEYS)
    assert all(v >= 0 for v in summary["phase_s"].values()), summary

    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{web_dir}/seeds.parquet")
    robots = spark.read.parquet(f"{web_dir}/robots.parquet")
    eng = CrawlEngine(spark, pages, CrawlConfig(max_depth=4, budget_per_host=3),
                      str(tmp_path / "eng_robots"), robots=robots)
    eng.init_frontier(seeds)
    eng.run()
    path = str(tmp_path / "eng_robots.json")
    write_report(eng, path, wall_sec=0.0, config={})
    with open(report_path) as f:
        cli_report = json.load(f)
    with open(path) as f:
        eng_report = json.load(f)
    assert cli_report["network_info"] == eng_report["network_info"]
    assert cli_report["page_info"] == eng_report["page_info"]


@pytest.mark.parametrize(
    "name,cli,cfg_kw",
    [
        # sitemapper: same-host scope (example/sitemapper/main.go)
        ("sitemapper", ["--same-host", "--max-depth", "4", "--budget-per-host", "3"],
         dict(scope_same_host=True, max_depth=4, budget_per_host=3)),
        # explorer: blacklist + www variants + substring scope
        ("explorer",
         ["--blacklist", "blocked0.test,blocked1.test",
          "--blacklist-www-variants", "--blacklist-substrings", "h1",
          "--max-depth", "3", "--budget-per-host", "4"],
         dict(blacklist_hosts=("blocked0.test", "blocked1.test"),
              blacklist_www_variants=True, blacklist_substrings=("h1",),
              max_depth=3, budget_per_host=4)),
    ],
)
def test_cli_report_matches_engine(spark, tiny_web, tmp_path, name, cli, cfg_kw):
    _, web_dir = tiny_web
    report_path = str(tmp_path / f"cli_{name}.json")
    summary = _run_cli(web_dir, str(tmp_path / f"cli_state_{name}"),
                       report_path, cli)
    assert summary["urls_dequeued"] > 0 and summary["rounds"] >= 1

    with open(report_path) as f:
        cli_report = json.load(f)
    eng_report = _engine_report(spark, web_dir, tmp_path,
                                CrawlConfig(**cfg_kw), name)
    # config/crawl_time are invocation-specific; the crawl output sections
    # must match exactly
    assert cli_report["network_info"] == eng_report["network_info"]
    assert cli_report["page_info"] == eng_report["page_info"]
    assert len(cli_report["page_info"]) == summary["urls_fetched_ok"]


@pytest.mark.parametrize("budget, extra", [
    pytest.param("2.5", [], id="2.5"),
    pytest.param("0", [], id="0"),
    pytest.param("nan", ["--carryover"], id="nan-carryover"),
    pytest.param("inf", ["--carryover"], id="inf-carryover"),
])
def test_cli_bad_budget_is_usage_error(tmp_path, budget, extra):
    """A budget CrawlConfig refuses (fractional without --carryover, below
    1, or not finite) exits 2 with usage before a JVM starts. JAVA_HOME
    points nowhere, so a driver that started one would fail another way."""
    p = subprocess.run(
        [sys.executable, DRIVER, "--web-dir", str(tmp_path / "missing"),
         "--state-dir", str(tmp_path / "state"), "--budget-per-host", budget,
         *extra],
        capture_output=True, text=True, timeout=120,
        env={**os.environ, "JAVA_HOME": str(tmp_path / "no-java")},
    )
    assert p.returncode == 2, p.stderr[-2000:]
    assert "usage:" in p.stderr and "budget_per_host" in p.stderr, p.stderr
