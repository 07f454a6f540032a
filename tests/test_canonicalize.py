"""Links are canonicalized once: the fused fetch pass emits canonical links,
and host/path/url_sha1 are derived from them on the JVM."""

import pandas as pd
from pyspark.sql import functions as F  # noqa: N812

import cs3103_gocrawler_spark.streaming.rounds as rounds
from cs3103_gocrawler_spark.functions.urlfuncs import (
    canonicalize_url,
    sha1_64,
    split_canonical,
)
from cs3103_gocrawler_spark.operators.canonicalize import with_url_columns
from cs3103_gocrawler_spark.operators.extract import make_scoped_extractor
from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine
from cs3103_gocrawler_spark.synthetic.webgen import WebConfig, generate_pandas

EDGE_URLS = [
    "http://h0.test:8080/p/1",
    "https://h0.test:80/p/1",
    "HTTPS://H1.TEST:443/",
    "http://h2.test/search?q=a/b&x=1#frag",
    "http://h2.test?only=query",
    "https://h3.test/a%20b/%E2%82%AC?k=%2F",
    "http://h4.test/café/日本?q=ü",
    "http://user:pw@h5.test:81/x",
    "http://h6.test",
]


def _derived(spark, urls):
    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    return {
        r.url: (r.host, r.path, r.url_sha1)
        for r in with_url_columns(df).collect()
    }


def test_url_columns_match_split_canonical_and_sha1_64(spark):
    """The JVM derivation equals split_canonical + sha1_64 on every page and
    link target of a generated web (dangling links included) and on ports,
    queries, https, percent-encoded and non-ASCII paths."""
    pages, edges = generate_pandas(WebConfig(seed=101, n_hosts=30, n_pages=1500))
    assert WebConfig().p_dangling > 0
    raw = set(pages["image_id"]) | set(edges["dst"]) | set(EDGE_URLS)
    urls = sorted({c for c in map(canonicalize_url, raw) if c is not None})
    assert any("/missing/" in u for u in urls)
    got = _derived(spark, urls)
    want = {u: (*split_canonical(u), sha1_64(u)) for u in urls}
    assert got == want
    assert any(v[2] < 0 for v in got.values())


def test_children_are_not_canonicalized_again(spark, tiny_web, tmp_path, monkeypatch):
    """Over a multi-round crawl only init_frontier's seeds go through
    with_canonical; the children pipeline derives its columns on the JVM."""
    calls = []
    orig = rounds.with_canonical

    def counting(df, *a, **k):
        calls.append(1)
        return orig(df, *a, **k)

    monkeypatch.setattr(rounds, "with_canonical", counting)
    cfg_web, web_dir = tiny_web
    eng = CrawlEngine(
        spark, spark.read.parquet(f"{web_dir}/pages.parquet"),
        CrawlConfig(max_depth=4, blacklist_hosts=cfg_web.blacklist_hosts),
        str(tmp_path / "state"),
    )
    eng.init_frontier(spark.read.parquet(f"{web_dir}/seeds.parquet"))
    history = eng.run()
    assert len([h for h in history if h.get("dequeued", 0) > 0]) >= 3
    assert len(calls) == 1


def _crawl(spark, web_dir, state_dir, extractor):
    eng = CrawlEngine(
        spark, spark.read.parquet(f"{web_dir}/pages.parquet"),
        CrawlConfig(max_depth=4, extractor=extractor), state_dir,
    )
    eng.init_frontier(spark.read.parquet(f"{web_dir}/seeds.parquet"))
    eng.run()
    visited = sorted(
        (r.url, r.depth, r.parent, tuple(r.links))
        for r in eng.visited_df().select("url", "depth", "parent", "links").collect()
    )
    frontiers, r = [], 0
    while eng.cat.exists("frontier", r):
        frontiers.append(sorted(
            tuple(x) for x in eng.cat.read("frontier", r)
            .select("url", "host", "path", "url_sha1", "depth", "parent")
            .collect()
        ))
        r += 1
    return visited, frontiers


def test_custom_extractor_output_is_canonicalized(spark, tiny_web, tmp_path):
    """A user extractor returning non-canonical, relative, non-http and None
    entries crawls exactly like one returning their canonical forms, and the
    recorded links are canonical."""
    _cfg, web_dir = tiny_web
    extract_all = make_scoped_extractor()

    def canonical(base_url, body_html):
        return extract_all(base_url, body_html)

    def messy(base_url, body_html):
        out = []
        for u in extract_all(base_url, body_html):
            host, path = u.split("://", 1)[1].split("/", 1)
            out.append(f"HTTP://{host.upper()}:80/{path}#x")
        return out + ["mailto:someone@h0.test", "p/4", None]

    want = _crawl(spark, web_dir, str(tmp_path / "canonical"), canonical)
    got = _crawl(spark, web_dir, str(tmp_path / "messy"), messy)
    assert len(want[0]) > 2
    assert got == want
