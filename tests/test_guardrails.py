"""Round-3 guardrail fixes (ADVICE.md): fail-closed stats, config validation,
finalize idempotence, fractional-budget rejection."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cs3103_gocrawler_spark.operators.politeness import dequeue
from cs3103_gocrawler_spark.storage import RoundCatalog
from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine


def test_carryover_budget_below_half_rejected():
    with pytest.raises(ValueError, match="livelock"):
        CrawlConfig(budget_per_host=0.4, politeness_carryover=True)
    # >= 0.5 is the smallest workable carryover budget (alternates 0/1 takes)
    CrawlConfig(budget_per_host=0.5, politeness_carryover=True)


def test_budget_below_one_rejected():
    """Without carryover a take below 1 dequeues nothing, so every round
    would defer all of pending until max_rounds."""
    for b in (0, 0.0, -2):
        with pytest.raises(ValueError, match="livelock"):
            CrawlConfig(budget_per_host=b)
    CrawlConfig(budget_per_host=1)
    # NaN and inf slip past the comparisons; under carryover round 0 would
    # fail at int(2 * budget), after the JVM has started
    for b in (float("nan"), float("inf"), float("-inf")):
        for carryover in (False, True):
            with pytest.raises(ValueError, match="finite"):
                CrawlConfig(budget_per_host=b, politeness_carryover=carryover)


def test_fractional_budget_without_carryover_rejected():
    with pytest.raises(TypeError, match="carryover"):
        CrawlConfig(budget_per_host=2.5)
    # integral floats are fine (2.0 == 2)
    CrawlConfig(budget_per_host=2.0)


def test_dequeue_rejects_fractional_budget(spark):
    pending = spark.createDataFrame(
        [("http://a.test/x", "a.test", "/x", 1, 0, 0, "")],
        "url string, host string, path string, url_sha1 long, depth int, "
        "priority int, parent string",
    )
    with pytest.raises(TypeError, match="fractional"):
        dequeue(pending, 2.5)


def test_column_min_fails_closed(spark, tmp_path):
    cat = RoundCatalog(spark, str(tmp_path))
    p = cat.path("frontier", 0)
    os.makedirs(p)
    t = pa.table({"depth": pa.array([3, 1, 2], type=pa.int64())})
    # file WITH stats: real minimum
    pq.write_table(t, os.path.join(p, "a.parquet"))
    assert cat.column_min("frontier", 0, "depth") == 1
    # missing column: get_field_index returns -1, must not read a wrong column
    assert cat.column_min("frontier", 0, "missing_col") is None
    # any stats-less file poisons the min (partial min could overstate it)
    pq.write_table(t, os.path.join(p, "b.parquet"), write_statistics=False)
    assert cat.column_min("frontier", 0, "depth") is None


def test_finalize_clears_stale_parts(spark, tmp_path):
    state = str(tmp_path / "state")
    eng = CrawlEngine(spark, None, CrawlConfig(), state)
    eng.cat.commit_round(0, {"metrics": [
        {"round_id": 0, "pending": 5, "dequeued": 5, "fetched_ok": 4,
         "rejected": 1, "new_urls": 2, "deferred": 0, "bloom_fp": -1,
         "elapsed_ms": 10},
    ]})
    out = os.path.join(state, "metrics_table")
    os.makedirs(out)
    # a stale uuid-named part from an old Spark overwrite write
    pq.write_table(
        pa.table({"round_id": pa.array([99], type=pa.int64())}),
        os.path.join(out, "part-uuid-stale.parquet"),
    )
    eng._finalize()
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and got[0]["round_id"] == 0


def test_crawl_path_imports_no_registry_module():
    """The engine's import closure holds none of the query registry's
    modules, so they can change or go without touching the crawl path."""
    import subprocess
    import sys

    pkg = "cs3103_gocrawler_spark"
    engine = ["streaming.rounds", "plans.report", "session", "storage"]
    registry = ["plans.generic_queries", "operators.dedup", "operators.textstats",
                "operators.temporal", "operators.scrape"]
    code = (
        "import importlib, sys\n"
        f"for m in {engine!r}: importlib.import_module('{pkg}.' + m)\n"
        f"print(sorted(m for m in {registry!r} if '{pkg}.' + m in sys.modules))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run([sys.executable, "-c", code], cwd=root,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode == 0, p.stderr
    assert p.stdout.strip() == "[]", p.stdout
