"""Golden conformance (SURVEY.md §5.2.2): the Spark engine's visited set,
(depth, parent, links) per URL, per-host crawl ordering, and host aggregates
must equal the sequential oracle's, across depths / budgets / seeds."""

import pandas as pd
import pytest

from cs3103_gocrawler_spark.oracle.bfs_oracle import crawl_oracle, pages_dict_from_pandas
from cs3103_gocrawler_spark.plans.report import crawl_order, host_report
from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine
from cs3103_gocrawler_spark.synthetic.webgen import (
    generate_pandas,
    robots_for,
    seeds_for,
)


def run_engine(spark, cfg_web, web_dir, state_dir, crawl_cfg, robots=False):
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{web_dir}/seeds.parquet")
    robots_df = spark.read.parquet(f"{web_dir}/robots.parquet") if robots else None
    eng = CrawlEngine(spark, pages, crawl_cfg, state_dir, robots=robots_df)
    eng.init_frontier(seeds)
    history = eng.run()
    return eng, history


def oracle_run(cfg_web, crawl_cfg, robots=False):
    pages_pdf, edges_pdf = generate_pandas(cfg_web)
    pages, links = pages_dict_from_pandas(pages_pdf, edges_pdf)
    seeds = [(r.url, int(r.priority)) for r in seeds_for(cfg_web).itertuples()]
    robots_map = None
    if robots:
        robots_map = {
            r.host: list(r.disallow_prefixes) for r in robots_for(cfg_web).itertuples()
        }
    from cs3103_gocrawler_spark.operators.extract import expand_blacklist_www

    bl = (
        set(expand_blacklist_www(crawl_cfg.blacklist_hosts))
        if crawl_cfg.blacklist_www_variants
        else set(crawl_cfg.blacklist_hosts)
    )
    return crawl_oracle(
        pages, links, seeds,
        max_depth=crawl_cfg.max_depth,
        budget_per_host=crawl_cfg.budget_per_host,
        blacklist=bl,
        robots=robots_map,
        resp_seed=crawl_cfg.gen_seed,
        blacklist_substrings=tuple(crawl_cfg.blacklist_substrings),
        same_host=crawl_cfg.scope_same_host,
        path_includes=tuple(crawl_cfg.scope_path_includes),
    )


def compare(eng, oracle):
    visited = eng.visited_df().toPandas()
    got = {
        r.url: (int(r.depth), r.parent, list(r.links)) for r in visited.itertuples()
    }
    want = {
        u: (v["depth"], v["parent"], v["links"]) for u, v in oracle.visited.items()
    }
    assert set(got) == set(want), (
        f"visited-set mismatch: extra={set(got) - set(want)} missing={set(want) - set(got)}"
    )
    for u in want:
        assert got[u] == want[u], f"{u}: engine {got[u]} != oracle {want[u]}"

    order = crawl_order(eng.visited_df()).toPandas()
    got_order = sorted(
        (r.host, int(r.seq), r.url) for r in order.itertuples()
    )
    assert got_order == sorted(oracle.order)

    rep = host_report(eng.visited_df()).toPandas()
    got_stats = {
        r.host: (int(r.path_count), list(r.visited_paths),
                 int(r.total_response_ms), int(r.avg_response_ms))
        for r in rep.itertuples()
    }
    want_stats = {
        h: (s["path_count"], s["visited_paths"],
            s["total_response_ms"], s["avg_response_ms"])
        for h, s in oracle.host_stats.items()
    }
    assert got_stats == want_stats

    rejected = eng.rejected_df()
    got_rej = {r.url: r.reason for r in rejected.toPandas().itertuples()} if rejected is not None else {}
    assert got_rej == oracle.rejected


def compare_metrics(history, oracle):
    eng_rounds = [
        {k: h[k] for k in ("round_id", "dequeued", "fetched_ok", "rejected", "new_urls", "deferred")}
        for h in history if h.get("dequeued", 0) > 0
    ]
    assert eng_rounds == oracle.rounds


@pytest.mark.parametrize(
    "depth,budget,blacklist", [(3, None, True), (4, 2, True), (6, 3, True), (2, None, False)]
)
def test_tiny_conformance(spark, tiny_web, tmp_path, depth, budget, blacklist):
    cfg_web, web_dir = tiny_web
    crawl_cfg = CrawlConfig(
        max_depth=depth,
        budget_per_host=budget,
        blacklist_hosts=cfg_web.blacklist_hosts if blacklist else (),
    )
    eng, history = run_engine(
        spark, cfg_web, web_dir, str(tmp_path / "state"), crawl_cfg
    )
    oracle = oracle_run(cfg_web, crawl_cfg)
    compare(eng, oracle)
    compare_metrics(history, oracle)


def test_medium_conformance_with_robots(spark, medium_web, tmp_path):
    cfg_web, web_dir = medium_web
    crawl_cfg = CrawlConfig(
        max_depth=6,
        budget_per_host=4,
        blacklist_hosts=cfg_web.blacklist_hosts,
        gen_seed=cfg_web.seed,
    )
    eng, _ = run_engine(
        spark, cfg_web, web_dir, str(tmp_path / "state"), crawl_cfg, robots=True
    )
    oracle = oracle_run(cfg_web, crawl_cfg, robots=True)
    compare(eng, oracle)


def test_depth_off_by_one_semantics(spark, tiny_web, tmp_path):
    """user max_depth=1 ⇒ only seeds fetched (crawler.go:59,93)."""
    cfg_web, web_dir = tiny_web
    crawl_cfg = CrawlConfig(max_depth=1, blacklist_hosts=cfg_web.blacklist_hosts)
    eng, _ = run_engine(spark, cfg_web, web_dir, str(tmp_path / "s"), crawl_cfg)
    visited = eng.visited_df().toPandas()
    assert set(visited["depth"]) <= {0}
    assert len(visited) <= cfg_web.n_seeds


def test_scoped_conformance_tianalyser_style(spark, medium_web, tmp_path):
    """P9+P10 — same-host + path-contains include scope
    (example/tianalyser/internal/tianalyser/linkextractor.go:33-53): the
    engine's scoped crawl must equal the oracle's, including the per-page
    link lists the scope filter shrinks."""
    cfg_web, web_dir = medium_web
    crawl_cfg = CrawlConfig(
        max_depth=5,
        budget_per_host=None,
        blacklist_hosts=cfg_web.blacklist_hosts,
        scope_same_host=True,
        scope_path_includes=("/p/1",),
        gen_seed=cfg_web.seed,
    )
    eng, history = run_engine(
        spark, cfg_web, web_dir, str(tmp_path / "state"), crawl_cfg
    )
    oracle = oracle_run(cfg_web, crawl_cfg)
    assert len(oracle.visited) > 0
    # the scope must actually bite: some visited page links were filtered
    compare(eng, oracle)
    compare_metrics(history, oracle)


def test_scoped_conformance_explorer_substrings_www(spark, tiny_web, tmp_path):
    """P8+SO3 — explorer's bidirectional-substring host blacklist plus the
    www-variant expansion (explorer/linkextractor.go:34-42, config.go:52-65)."""
    cfg_web, web_dir = tiny_web
    crawl_cfg = CrawlConfig(
        max_depth=4,
        budget_per_host=None,
        # 'www.h1.test' must also blacklist 'h1.test' via SO3 expansion
        blacklist_hosts=("www.h1.test",),
        blacklist_www_variants=True,
        # substring 'h2' kills host h2.test bidirectionally
        blacklist_substrings=("h2",),
        gen_seed=cfg_web.seed,
    )
    eng, history = run_engine(
        spark, cfg_web, web_dir, str(tmp_path / "state"), crawl_cfg
    )
    oracle = oracle_run(cfg_web, crawl_cfg)
    hosts = {u.split("/")[2] for u in oracle.visited}
    assert "h1.test" not in hosts and "h2.test" not in hosts
    assert len(oracle.visited) > 0
    compare(eng, oracle)
    compare_metrics(history, oracle)


def test_custom_extractor_plug_point(spark, tiny_web, tmp_path):
    """X2 — a user extractor (reference LinkExtractor field,
    linkextractor.go:14) plugs into the engine end-to-end: here one that
    keeps only even-numbered pages."""
    from cs3103_gocrawler_spark.operators.extract import make_scoped_extractor

    extract_all = make_scoped_extractor()

    def even_pages_only(base_url, body_html):
        return [
            u for u in extract_all(base_url, body_html)
            if int(u.rsplit("/", 1)[1]) % 2 == 0
        ]

    cfg_web, web_dir = tiny_web
    crawl_cfg = CrawlConfig(max_depth=4, extractor=even_pages_only)
    eng, _ = run_engine(spark, cfg_web, web_dir, str(tmp_path / "state"), crawl_cfg)
    visited = eng.visited_df().toPandas()
    # every recorded link and every non-seed visited URL is an even page
    for r in visited.itertuples():
        for link in r.links:
            assert int(link.rsplit("/", 1)[1]) % 2 == 0
        if r.depth > 0:
            assert int(r.url.rsplit("/", 1)[1]) % 2 == 0
    assert (visited["depth"] > 0).any()


def test_politeness_carryover_alternates(spark, tmp_path):
    """ST5 — fractional budget 2.5/round on one host with 10 seeds must
    dequeue 2,3,2,3 (floor of balance+budget, fraction carried in
    host_state; reference bucket semantics crawler.go:57,105)."""
    urls = [f"http://one.test/p/{i}" for i in range(10)]
    pages = spark.createDataFrame(pd.DataFrame({
        "image_id": urls,
        "status": [200] * 10,
        "content_type": ["text/html; charset=utf-8"] * 10,
        "body_html": ["<html></html>"] * 10,
    }))
    seeds = spark.createDataFrame(pd.DataFrame({"url": urls, "priority": [0] * 10}))
    cfg = CrawlConfig(max_depth=1, budget_per_host=2.5, politeness_carryover=True)
    eng = CrawlEngine(spark, pages, cfg, str(tmp_path / "s"))
    eng.init_frontier(seeds)
    history = eng.run()
    seq = [h["dequeued"] for h in history if h.get("dequeued", 0) > 0]
    assert seq == [2, 3, 2, 3]

    oracle = crawl_oracle(
        {u: {"status": 200, "content_type": "text/html"} for u in urls},
        {}, [(u, 0) for u in urls], max_depth=1,
        budget_per_host=2.5, carryover=True,
    )
    assert [r["dequeued"] for r in oracle.rounds] == seq


def test_carryover_conformance_tiny(spark, tiny_web, tmp_path):
    """Full engine-vs-oracle conformance with fractional carryover budgets."""
    cfg_web, web_dir = tiny_web
    crawl_cfg = CrawlConfig(
        max_depth=5,
        budget_per_host=1.5,
        politeness_carryover=True,
        blacklist_hosts=cfg_web.blacklist_hosts,
    )
    eng, history = run_engine(
        spark, cfg_web, web_dir, str(tmp_path / "state"), crawl_cfg
    )
    pages_pdf, edges_pdf = generate_pandas(cfg_web)
    pages, links = pages_dict_from_pandas(pages_pdf, edges_pdf)
    seeds = [(r.url, int(r.priority)) for r in seeds_for(cfg_web).itertuples()]
    oracle = crawl_oracle(
        pages, links, seeds, max_depth=5, budget_per_host=1.5,
        blacklist=set(cfg_web.blacklist_hosts), carryover=True,
    )
    compare(eng, oracle)
    compare_metrics(history, oracle)


def test_carryover_with_scope_interaction(spark, medium_web, tmp_path):
    """Interaction coverage: fractional-carryover budgets combined with the
    same-host scope — the host_state balances must track the scope-shrunken
    frontier exactly as the oracle does."""
    cfg_web, web_dir = medium_web
    crawl_cfg = CrawlConfig(
        max_depth=4,
        budget_per_host=2.5,
        politeness_carryover=True,
        scope_same_host=True,
        blacklist_hosts=cfg_web.blacklist_hosts,
        gen_seed=cfg_web.seed,
    )
    eng, history = run_engine(
        spark, cfg_web, web_dir, str(tmp_path / "state"), crawl_cfg
    )
    pages_pdf, edges_pdf = generate_pandas(cfg_web)
    pages, links = pages_dict_from_pandas(pages_pdf, edges_pdf)
    seeds = [(r.url, int(r.priority)) for r in seeds_for(cfg_web).itertuples()]
    oracle = crawl_oracle(
        pages, links, seeds, max_depth=4, budget_per_host=2.5,
        blacklist=set(cfg_web.blacklist_hosts), carryover=True, same_host=True,
        resp_seed=cfg_web.seed,
    )
    compare(eng, oracle)
    compare_metrics(history, oracle)
