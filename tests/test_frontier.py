"""Frontier r+1 is one anti-join: (pending ∪ gated children) minus seen(≤ r).

The deferred rows of round r are the pending rows the anti-join keeps, so
the frontier write never re-runs the dequeue's rank windows, and whether it
runs at all follows the measured counts (fetched table footer), not the
config or the write's observed metrics."""

import re

import pandas as pd
import pytest
from pyspark.sql import Observation
from test_crawl_delay import _robots_pdf
from test_oracle_conformance import compare, oracle_run, run_engine
from test_resume import _state_fingerprint

from cs3103_gocrawler_spark.storage import RoundCatalog
from cs3103_gocrawler_spark.streaming import rounds
from cs3103_gocrawler_spark.streaming.rounds import METRIC_KEYS, CrawlConfig, CrawlEngine

# carryover budget + a robots crawl-delay cap on h0.test: both politeness
# paths feed the dequeue, and pending outgrows each round's takes
POLITE = CrawlConfig(max_depth=5, budget_per_host=2.5, politeness_carryover=True)


def _polite_engine(spark, tiny_web, state_dir):
    cfg_web, web_dir = tiny_web
    return CrawlEngine(
        spark, spark.read.parquet(f"{web_dir}/pages.parquet"), POLITE, state_dir,
        robots=spark.createDataFrame(_robots_pdf(cfg_web)),
    )


def _seeds(spark, tiny_web):
    return spark.read.parquet(f"{tiny_web[1]}/seeds.parquet")


def _plan_nodes(df):
    """(node, rest) per line of the optimized logical plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    nodes = []
    for line in plan.splitlines():
        name, _, rest = re.sub(r"^[\s:+|-]*", "", line).partition(" ")
        nodes.append((name, rest))
    return nodes


def _metrics(eng):
    # elapsed_ms is wall time, the one key two identical crawls differ in
    return [
        {k: m[k] for k in METRIC_KEYS if k != "elapsed_ms"}
        for m in eng.cat.manifest()["metrics"]
    ]


@pytest.fixture(scope="module")
def polite_crawl(spark, tiny_web, tmp_path_factory):
    """One uninterrupted POLITE crawl, with the optimized plan of every
    frontier r+1 it writes through Spark."""
    plans = {}
    write = RoundCatalog.write

    def recording_write(self, df, kind, round_id):
        if kind == "frontier" and round_id > 0:
            plans[round_id] = _plan_nodes(df)
        return write(self, df, kind, round_id)

    mp = pytest.MonkeyPatch()
    mp.setattr(RoundCatalog, "write", recording_write)
    try:
        eng = _polite_engine(spark, tiny_web, str(tmp_path_factory.mktemp("polite")))
        eng.init_frontier(_seeds(spark, tiny_web))
        history = eng.run()
    finally:
        mp.undo()
    return eng, history, plans


def test_frontier_never_reranks(polite_crawl):
    _, history, plans = polite_crawl
    assert sum(h.get("deferred", 0) for h in history) > 0, "nothing was deferred"
    assert len(plans) >= 3
    for r, nodes in plans.items():
        names = [n for n, _ in nodes]
        assert not [n for n in names if n.startswith("Window")], (r, names)
        anti = [rest for n, rest in nodes if n == "Join" and rest.startswith("LeftAnti")]
        assert len(anti) == 1, (r, names)


def test_empty_frontier_commit_follows_counts(spark, tiny_web, tmp_path, monkeypatch):
    """A budget no host's pending count reaches defers nothing, so the
    depth-capped last round commits frontier r+1 driver-side although a
    budget is set."""
    cfg_web, web_dir = tiny_web
    cfg = CrawlConfig(max_depth=3, budget_per_host=cfg_web.n_pages,
                      blacklist_hosts=cfg_web.blacklist_hosts)
    calls = []
    write, write_empty = RoundCatalog.write, RoundCatalog.write_empty

    def recording_write(self, df, kind, round_id):
        calls.append(("write", kind, round_id))
        return write(self, df, kind, round_id)

    def recording_write_empty(self, kind, round_id, arrow_schema):
        calls.append(("write_empty", kind, round_id))
        return write_empty(self, kind, round_id, arrow_schema)

    monkeypatch.setattr(RoundCatalog, "write", recording_write)
    monkeypatch.setattr(RoundCatalog, "write_empty", recording_write_empty)
    eng, history = run_engine(spark, cfg_web, web_dir, str(tmp_path / "s"), cfg)

    last = max(h["round_id"] for h in history if h.get("dequeued"))
    assert history[last]["deferred"] == 0
    assert ("write_empty", "frontier", last + 1) in calls
    assert ("write", "frontier", last + 1) not in calls
    got = {r.url for r in eng.visited_df().select("url").collect()}
    assert got == set(oracle_run(cfg_web, cfg).visited)


def test_frontier_does_not_trust_observed_counts(spark, tiny_web, tmp_path, monkeypatch):
    """Observed metrics are accumulators that a re-run stage may count
    twice; doubling every outcome count must not change the crawl."""

    class DoubledObservation(Observation):
        @property
        def get(self):
            return {
                k: v * 2 if k in rounds._OUTCOMES and v is not None else v
                for k, v in super().get.items()
            }

    monkeypatch.setattr(rounds, "Observation", DoubledObservation)
    cfg_web, web_dir = tiny_web
    cfg = CrawlConfig(max_depth=5, budget_per_host=2,
                      blacklist_hosts=cfg_web.blacklist_hosts)
    eng, history = run_engine(spark, cfg_web, web_dir, str(tmp_path / "s"), cfg)
    # the patch took effect: every ok fetch is counted twice
    assert sum(h.get("fetched_ok", 0) for h in history) == 2 * eng.visited_df().count()
    compare(eng, oracle_run(cfg_web, cfg))


def test_crash_at_frontier_write_resumes(spark, tiny_web, tmp_path, monkeypatch, polite_crawl):
    """A crash at the frontier write of round 2, after fetched_2 and
    host_state_3 exist, resumes to the uninterrupted crawl."""
    full, _, _ = polite_crawl
    write = RoundCatalog.write

    def crashing_write(self, df, kind, round_id):
        if (kind, round_id) == ("frontier", 3):
            raise RuntimeError("crash at the frontier write")
        return write(self, df, kind, round_id)

    monkeypatch.setattr(RoundCatalog, "write", crashing_write)
    state = str(tmp_path / "part")
    part = _polite_engine(spark, tiny_web, state)
    part.init_frontier(_seeds(spark, tiny_web))
    with pytest.raises(RuntimeError, match="crash at the frontier write"):
        part.run()
    assert part.cat.manifest()["last_round"] == 1
    assert part.cat.exists("fetched", 2) and part.cat.exists("host_state", 3)
    monkeypatch.undo()

    resumed = _polite_engine(spark, tiny_web, state)
    history = resumed.run(resume=True)
    assert history[0]["round_id"] == 2

    (got_visited, got_order), (want_visited, want_order) = (
        _state_fingerprint(resumed), _state_fingerprint(full)
    )
    pd.testing.assert_frame_equal(got_visited, want_visited)
    pd.testing.assert_frame_equal(got_order, want_order)
    assert _metrics(resumed) == _metrics(full)
