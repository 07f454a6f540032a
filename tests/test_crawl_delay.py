"""robots crawl_delay_ms consumption (north_rule politeness; VERDICT r2
missing #3): a host with delay d dequeues at most max(1, round_target_ms//d)
URLs per round, engine ≡ oracle across flat-budget and carryover modes."""

import itertools
import re
from dataclasses import replace

import pytest
from pyspark.sql import functions as F
from test_operators import _jobs
from test_oracle_conformance import compare, compare_metrics
from test_plans import _plan

from cs3103_gocrawler_spark.oracle.bfs_oracle import (
    crawl_oracle,
    pages_dict_from_pandas,
)
from cs3103_gocrawler_spark.storage import RoundCatalog
from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine
from cs3103_gocrawler_spark.synthetic.webgen import (
    generate_pandas,
    robots_for,
    seeds_for,
)

DELAY_HOST = "h0.test"
DELAY_MS = 400  # round_target_ms=1000 → cap = max(1, 1000//400) = 2


def _robots_pdf(cfg_web):
    pdf = robots_for(cfg_web)
    pdf.loc[pdf.host == DELAY_HOST, "crawl_delay_ms"] = DELAY_MS
    return pdf


def _run_pair(spark, tiny_web, tmp_path, crawl_cfg, carryover=False):
    cfg_web, web_dir = tiny_web
    robots_pdf = _robots_pdf(cfg_web)
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{web_dir}/seeds.parquet")
    eng = CrawlEngine(
        spark, pages, crawl_cfg, str(tmp_path / "state"),
        robots=spark.createDataFrame(robots_pdf),
    )
    eng.init_frontier(seeds)
    history = eng.run()
    return eng, history, _oracle(cfg_web, crawl_cfg, robots_pdf, carryover)


def _oracle(cfg_web, crawl_cfg, robots_pdf, carryover=False):
    pages_pdf, edges_pdf = generate_pandas(cfg_web)
    pd_pages, links = pages_dict_from_pandas(pages_pdf, edges_pdf)
    seed_list = [(r.url, int(r.priority)) for r in seeds_for(cfg_web).itertuples()]
    return crawl_oracle(
        pd_pages, links, seed_list,
        max_depth=crawl_cfg.max_depth,
        budget_per_host=crawl_cfg.budget_per_host,
        blacklist=set(crawl_cfg.blacklist_hosts),
        robots={r.host: list(r.disallow_prefixes) for r in robots_pdf.itertuples()},
        resp_seed=crawl_cfg.gen_seed,
        carryover=carryover,
        crawl_delays={
            r.host: int(r.crawl_delay_ms) for r in robots_pdf.itertuples()
        },
        round_target_ms=crawl_cfg.round_target_ms,
    )


def _delay_host_dequeues_per_round(eng):
    f = eng.fetched_df()
    return {
        int(r.round_id): int(r.n)
        for r in f.filter(F.col("host") == DELAY_HOST)
        .groupBy("round_id").agg(F.count("*").alias("n")).collect()
    }


def test_delay_caps_flat_budget(spark, tiny_web, tmp_path):
    crawl_cfg = CrawlConfig(max_depth=5, budget_per_host=5)
    eng, history, oracle = _run_pair(spark, tiny_web, tmp_path, crawl_cfg)
    compare(eng, oracle)
    compare_metrics(history, oracle)
    per_round = _delay_host_dequeues_per_round(eng)
    assert per_round, "delay host never crawled"
    assert all(n <= 2 for n in per_round.values())  # cap, not the budget of 5
    assert any(n == 2 for n in per_round.values())


def test_delay_without_budget(spark, tiny_web, tmp_path):
    """budget=None (pure BFS) still honors the per-host delay cap."""
    crawl_cfg = CrawlConfig(max_depth=4, budget_per_host=None)
    eng, history, oracle = _run_pair(spark, tiny_web, tmp_path, crawl_cfg)
    compare(eng, oracle)
    compare_metrics(history, oracle)
    per_round = _delay_host_dequeues_per_round(eng)
    assert per_round and all(n <= 2 for n in per_round.values())


def test_delay_with_carryover(spark, tiny_web, tmp_path):
    """Fractional carryover budget + delay cap: unspent allowance persists in
    the balance, takes never exceed the delay cap; engine ≡ oracle."""
    crawl_cfg = CrawlConfig(
        max_depth=5, budget_per_host=2.5, politeness_carryover=True
    )
    eng, history, oracle = _run_pair(
        spark, tiny_web, tmp_path, crawl_cfg, carryover=True
    )
    compare(eng, oracle)
    compare_metrics(history, oracle)
    per_round = _delay_host_dequeues_per_round(eng)
    assert per_round and all(n <= 2 for n in per_round.values())


def test_delay_slower_than_round_still_progresses(spark, tiny_web, tmp_path):
    """A host slower than round_target_ms gets the floor of 1 fetch/round —
    no livelock."""
    cfg_web, web_dir = tiny_web
    pdf = robots_for(cfg_web)
    pdf.loc[pdf.host == DELAY_HOST, "crawl_delay_ms"] = 5000  # > target
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{web_dir}/seeds.parquet")
    eng = CrawlEngine(
        spark, pages, CrawlConfig(max_depth=3, budget_per_host=4),
        str(tmp_path / "slow"), robots=spark.createDataFrame(pdf),
    )
    eng.init_frontier(seeds)
    eng.run()
    per_round = _delay_host_dequeues_per_round(eng)
    assert per_round and all(n == 1 for n in per_round.values())


class _FirstWrite(Exception):
    """Raised at the first catalog write of a resumed run."""


_group = itertools.count()


@pytest.mark.parametrize("delays", [True, False], ids=["delays", "no_delays"])
def test_engine_start_and_resume_start_no_job(spark, tiny_web, tmp_path, monkeypatch, delays):
    """Building an engine over a parquet robots dim starts no Spark job, and
    neither does run(resume=True) up to its first catalog write: whether any
    host has a positive delay is decided once per crawl, by init_frontier,
    and kept in the manifest. Without delays and without a budget the
    fetched writes still plan no takes join and no Window, before and after
    the resume; with delays the resumed crawl still honours the caps."""
    cfg_web, web_dir = tiny_web
    robots_pdf = _robots_pdf(cfg_web) if delays else robots_for(cfg_web)
    assert (robots_pdf["crawl_delay_ms"] > 0).any() == delays
    robots_pdf.to_parquet(tmp_path / "robots.parquet", index=False)
    robots = spark.read.parquet(str(tmp_path / "robots.parquet"))
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    crawl_cfg = CrawlConfig(max_depth=5)
    state = str(tmp_path / "state")

    def engine(**overrides):
        made = []
        jobs = _jobs(spark, f"engine-start-{next(_group)}", lambda: made.append(
            CrawlEngine(spark, pages, replace(crawl_cfg, **overrides), state,
                        robots=robots)
        ))
        assert jobs == []
        return made[0]

    fetched_plans, stop = [], [False]
    write = RoundCatalog.write

    def recording_write(self, df, kind, round_id):
        if stop[0]:
            raise _FirstWrite
        if kind == "fetched":
            fetched_plans.append(_plan(df))
        return write(self, df, kind, round_id)

    monkeypatch.setattr(RoundCatalog, "write", recording_write)
    leg1 = engine(max_rounds=2)
    leg1.init_frontier(spark.read.parquet(f"{web_dir}/seeds.parquet"))
    assert len(leg1.run()) == 2
    # taken from an observed metric of the frontier-0 write
    assert leg1.cat.manifest()["has_delays"] == delays

    resumed = engine()
    stop[0] = True

    def resume_to_first_write():
        with pytest.raises(_FirstWrite):
            resumed.run(resume=True)

    assert _jobs(spark, f"resume-{next(_group)}", resume_to_first_write) == []
    stop[0] = False
    resumed.run(resume=True)
    compare(resumed, _oracle(cfg_web, crawl_cfg, robots_pdf))
    if delays:
        assert all(n <= 2 for n in _delay_host_dequeues_per_round(resumed).values())
    else:
        assert len(fetched_plans) >= 3
        for plan in fetched_plans:
            assert "Window" not in plan, plan
            joins = [
                ln for ln in plan.splitlines()
                if re.search(r"[A-Za-z]+Join\b", ln.split("[")[0])
            ]
            assert len(joins) == 1, plan  # the fetch join alone
