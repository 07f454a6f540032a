"""The politeness dequeue ranks once: one row_number window per host, and a
literal rank bound that Catalyst turns into a Partial WindowGroupLimit below
the host exchange, whether the take is the flat budget, a per-host take, or
the carryover allowance bounded by robots delay caps."""

import pandas as pd
import pytest
from test_plans import _plan, assert_topk_once

from cs3103_gocrawler_spark.functions.urlfuncs import sha1_64
from cs3103_gocrawler_spark.operators.politeness import DEQUEUE_ORDER, dequeue
from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine


def _pending(spark, path, per_host):
    """Pending rows written to parquet and read back, as the engine reads a
    frontier: ``per_host`` maps host → row count."""
    rows = []
    for host, n in per_host.items():
        for i in range(n):
            url = f"http://{host}/p/{i}"
            rows.append({
                "url": url, "host": host, "path": f"/p/{i}",
                "url_sha1": sha1_64(url), "depth": i % 3, "parent": "",
                "priority": i % 2,
            })
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(path)
    return spark.read.parquet(path)


def _top(pending, takes):
    """Per host, the first ``takes[host]`` rows by the dequeue order."""
    pdf = pending.toPandas().sort_values(["host", *DEQUEUE_ORDER])
    return sorted(
        url for host, g in pdf.groupby("host") for url in g["url"][: takes[host]]
    )


def _urls(df):
    return sorted(r.url for r in df.select("url").collect())


PER_HOST = {"a.test": 40, "b.test": 25, "c.test": 3}


def test_flat_budget_ranks_once(spark, tmp_path):
    pending = _pending(spark, str(tmp_path / "p"), PER_HOST)
    dq, deferred = dequeue(pending, 4)
    assert_topk_once(_plan(dq), "host")
    assert _urls(dq) == _top(pending, {"a.test": 4, "b.test": 4, "c.test": 4})
    assert dq.count() + deferred.count() == sum(PER_HOST.values())


def test_host_takes_rank_once(spark, tmp_path):
    """Per-host takes decide the take; the flat budget bounds it and is the
    take of a host absent from host_takes."""
    pending = _pending(spark, str(tmp_path / "p"), PER_HOST)
    takes = spark.createDataFrame([("a.test", 2), ("b.test", 0)], "host string, take int")
    dq, deferred = dequeue(pending, 5, host_takes=takes)
    assert_topk_once(_plan(dq), "host")
    assert _urls(dq) == _top(pending, {"a.test": 2, "b.test": 0, "c.test": 5})
    assert dq.count() + deferred.count() == sum(PER_HOST.values())


def _carryover_engine(spark, tmp_path, budget, robots=None):
    cfg = CrawlConfig(budget_per_host=budget, politeness_carryover=True)
    return CrawlEngine(spark, None, cfg, str(tmp_path / "state"), robots=robots)


def test_carryover_takes_rank_once(spark, tmp_path):
    """The round's own take composition: carryover allowance (host_state
    balance + budget) bounded by a robots delay cap on b.test."""
    pending = _pending(spark, str(tmp_path / "p"), PER_HOST)
    robots = spark.createDataFrame(
        [("b.test", [], 400)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms int",
    )
    eng = _carryover_engine(spark, tmp_path, 2.5, robots=robots)
    eng.cat.write(
        spark.createDataFrame([("a.test", 2.5), ("b.test", 2.5)], "host string, balance double"),
        "host_state", 1,
    )
    takes, _, budget = eng._host_takes(1, pending)
    assert budget == 5
    dq, _ = dequeue(pending, budget, host_takes=takes)
    assert_topk_once(_plan(dq), "host")
    # a: floor(2.5 + 2.5); b: the delay cap max(1, 1000 // 400); c: floor(2.5)
    assert _urls(dq) == _top(pending, {"a.test": 5, "b.test": 2, "c.test": 2})


@pytest.mark.parametrize("budget", [0.5, 2.5])
def test_full_balance_takes_floor_two_budgets(spark, tmp_path, budget):
    """A balance at its cap (one budget) gives the largest take there is,
    floor(2b), which is exactly the literal bound the dequeue filters on."""
    pending = _pending(spark, str(tmp_path / "p"), {"a.test": 12, "b.test": 12})
    eng = _carryover_engine(spark, tmp_path, budget)
    eng.cat.write(
        spark.createDataFrame([("a.test", budget)], "host string, balance double"),
        "host_state", 1,
    )
    takes, _, bound = eng._host_takes(1, pending)
    assert bound == int(2 * budget)
    dq, _ = dequeue(pending, bound, host_takes=takes)
    # b.test has no balance yet: its allowance is one budget
    want = {"a.test": int(2 * budget), "b.test": int(budget)}
    assert _urls(dq) == _top(pending, want)


def test_bound_above_group_limit_threshold_stays_exact(spark, tmp_path):
    """A bound above spark.sql.optimizer.windowGroupLimitThreshold (1000)
    gets no WindowGroupLimit; the one window still selects the per-host
    top-B."""
    per_host = {"a.test": 1200, "b.test": 30}
    pending = _pending(spark, str(tmp_path / "p"), per_host)
    dq, deferred = dequeue(pending, 1001)
    assert "WindowGroupLimit" not in _plan(dq)
    assert _urls(dq) == _top(pending, {"a.test": 1001, "b.test": 1001})
    assert deferred.count() == 1200 - 1001
