"""Checkpoint/resume (SURVEY.md §5.2.5): stop after round k, resume from the
manifest, final state identical to an uninterrupted run."""

import pandas as pd

from cs3103_gocrawler_spark.plans.report import crawl_order
from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine


def _state_fingerprint(eng):
    visited = (
        eng.visited_df()
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    order = (
        crawl_order(eng.visited_df())
        .toPandas()
        .sort_values(["host", "seq"])
        .reset_index(drop=True)
    )
    return visited[["url", "depth", "parent", "round_id"]], order[["host", "seq", "url"]]


def test_kill_and_resume_identical(spark, tiny_web, tmp_path):
    cfg_web, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{web_dir}/seeds.parquet")
    cfg = CrawlConfig(max_depth=5, budget_per_host=2,
                      blacklist_hosts=cfg_web.blacklist_hosts)

    # uninterrupted reference run
    full = CrawlEngine(spark, pages, cfg, str(tmp_path / "full"))
    full.init_frontier(seeds)
    full.run()
    want_visited, want_order = _state_fingerprint(full)

    # interrupted run: stop after 2 rounds ("kill"), then resume in a FRESH
    # engine object (state read from disk only)
    part = CrawlEngine(spark, pages, cfg, str(tmp_path / "part"))
    part.init_frontier(seeds)
    import cs3103_gocrawler_spark.streaming.rounds as rounds_mod

    for r in range(2):
        part._run_round(r)

    resumed = CrawlEngine(spark, pages, cfg, str(tmp_path / "part"))
    history = resumed.run(resume=True)
    assert history[0]["round_id"] == 2

    got_visited, got_order = _state_fingerprint(resumed)
    pd.testing.assert_frame_equal(got_visited, want_visited)
    pd.testing.assert_frame_equal(got_order, want_order)
    assert rounds_mod is not None


def test_resume_under_carryover_identical(spark, tiny_web, tmp_path):
    """Kill after round k of a politeness_carryover crawl, resume in a fresh
    engine: the host_state balances retained by drop_rounds_after (r+1) must
    reproduce the uninterrupted run exactly (VERDICT r2 missing #4)."""
    cfg_web, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{web_dir}/seeds.parquet")
    cfg = CrawlConfig(max_depth=5, budget_per_host=1.5,
                      politeness_carryover=True,
                      blacklist_hosts=cfg_web.blacklist_hosts)

    full = CrawlEngine(spark, pages, cfg, str(tmp_path / "cfull"))
    full.init_frontier(seeds)
    full.run()
    want_visited, want_order = _state_fingerprint(full)

    part = CrawlEngine(spark, pages, cfg, str(tmp_path / "cpart"))
    part.init_frontier(seeds)
    for r in range(2):
        part._run_round(r)
    # the balances for round 2 must exist and survive the resume cleanup
    assert part.cat.exists("host_state", 2)

    resumed = CrawlEngine(spark, pages, cfg, str(tmp_path / "cpart"))
    history = resumed.run(resume=True)
    assert history[0]["round_id"] == 2
    assert resumed.cat.exists("host_state", 2)

    got_visited, got_order = _state_fingerprint(resumed)
    pd.testing.assert_frame_equal(got_visited, want_visited)
    pd.testing.assert_frame_equal(got_order, want_order)


def test_resume_discards_uncommitted_partials(spark, tiny_web, tmp_path):
    """A crash mid-round leaves partial tables newer than the manifest; resume
    must drop them and re-run the round (storage.drop_rounds_after)."""
    cfg_web, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{web_dir}/seeds.parquet")
    cfg = CrawlConfig(max_depth=3, blacklist_hosts=cfg_web.blacklist_hosts)

    eng = CrawlEngine(spark, pages, cfg, str(tmp_path / "s"))
    eng.init_frontier(seeds)
    eng._run_round(0)
    # simulate a crash mid-round-1: write a garbage partial 'visited' delta
    eng.cat.write(eng.cat.read("fetched", 0).limit(1), "fetched", 1)
    assert eng.cat.exists("fetched", 1)

    resumed = CrawlEngine(spark, pages, cfg, str(tmp_path / "s"))
    resumed.run(resume=True)
    # round 1 was re-run cleanly; the partial was replaced, not appended
    v1 = resumed.cat.read("fetched", 1).toPandas()
    assert (v1["round_id"] == 1).all()
