"""Links are canonicalized once: the fused fetch pass emits canonical links,
and host/path/url_sha1 are derived from them on the JVM. Seeds that are
already canonical pass through on the JVM; only the others cross into the
canonicalization UDF."""

import pandas as pd
from conftest import MEDIUM, TINY
from pyspark.sql import functions as F  # noqa: N812
from test_plans import _plan

import cs3103_gocrawler_spark.streaming.rounds as rounds
from cs3103_gocrawler_spark.functions.urlfuncs import (
    canonicalize_url,
    sha1_64,
    split_canonical,
)
from cs3103_gocrawler_spark.operators.canonicalize import with_canonical, with_url_columns
from cs3103_gocrawler_spark.operators.extract import make_scoped_extractor
from cs3103_gocrawler_spark.storage import RoundCatalog
from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine
from cs3103_gocrawler_spark.synthetic.webgen import WebConfig, generate_pandas, seeds_for

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


# seeds the JVM pass-through must not take for canonical: Java's $ matches
# before a final line terminator and its \s is ASCII-only, while
# canonicalize_url strips Unicode whitespace first
SEED_EDGE_URLS = [
    "http://h0.test/p/1\n", "http://h0.test/p/1 ", "http://h0.test/p/1\u00a0",
    " http://h0.test/p/1", "\u00a0http://h0.test/p/1", "\thttp://h0.test/p/1\r\n",
    "http://h0.test/p/1\u2028", "http://h0.test/p/1\x1c", "http://h0.test/p/1\x85",
    "http://h0.test/a b", "http://h0.test/a\nb",
    "http://H1.TEST/p/2", "HTTP://h1.test/p/2", "http://h1.test:80/p/2",
    "https://h1.test:443/p/2", "http://h1.test:443/p/2", "https://h1.test:80/p/2",
    "http://h2.test/a/./b", "http://h2.test/a/../b", "http://h2.test/./",
    "http://h2.test/..", "http://h2.test/.hidden",
    "http://h3.test/p?q=1", "http://h3.test/p?", "http://h3.test/p#frag",
    "http://h3.test/p#", "http://h3.test",
    "http://user:pw@h4.test/p", "http://user@h4.test/p",
    "mailto:someone@h0.test", "ftp://h0.test/x", "", None,
    "http://h5.test/%7E/caf\u00e9", "https://h5.test/\u65e5\u672c",
]


def _webgen_seeds():
    urls = set()
    for cfg in (TINY, MEDIUM, WebConfig(seed=101, n_hosts=30, n_pages=1500)):
        urls |= set(seeds_for(cfg)["url"])
    return sorted(urls)


def test_seed_canonicalization_matches_canonicalize_url(spark):
    """with_canonical (the JVM pass-through plus the UDF) equals
    canonicalize_url on every webgen seed and on whitespace, case, port,
    dot-segment, query, fragment, userinfo, non-http, empty and null
    seeds; unparsable and non-http seeds are dropped."""
    seeds = _webgen_seeds()
    urls = seeds + SEED_EDGE_URLS
    df = spark.createDataFrame(pd.DataFrame({"i": range(len(urls)), "url": urls}))
    got = {
        r.i: (r.url, r.host, r.path, r.url_sha1)
        for r in with_canonical(df).collect()
    }
    want = {}
    for i, u in enumerate(urls):
        c = canonicalize_url(u) if u is not None else None
        if c is not None:
            want[i] = (c, *split_canonical(c), sha1_64(c))
    assert got == want
    # the seeds take the pass-through, and the edge cases are not all
    # canonical: some cross, some are dropped
    assert all(canonicalize_url(u) == u for u in seeds)
    assert len(want) < len(urls) and any(
        want.get(len(seeds) + k, (e,))[0] != e for k, e in enumerate(SEED_EDGE_URLS)
    )


def test_canonical_pandas_seeds_plan_no_python(spark, tiny_web, tmp_path, monkeypatch):
    """init_frontier of an all-canonical pandas seed set plans no Python
    stage: the seeds fold to a local relation on the JVM. A non-canonical
    seed brings the UDF back."""
    cfg_web, web_dir = tiny_web
    plans = {}
    write = RoundCatalog.write

    def recording_write(self, df, kind, round_id):
        plans[(self.state_dir, kind, round_id)] = _plan(df)
        return write(self, df, kind, round_id)

    monkeypatch.setattr(RoundCatalog, "write", recording_write)
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    canonical = seeds_for(cfg_web)
    messy = canonical.assign(url="HTTP://" + canonical["url"].str.split("://").str[1])
    for name, pdf in (("canonical", canonical), ("messy", messy)):
        state = str(tmp_path / name)
        eng = CrawlEngine(spark, pages, CrawlConfig(max_depth=2), state)
        eng.init_frontier(spark.createDataFrame(pdf))
        frontier = eng.cat.read("frontier", 0).toPandas()
        assert sorted(frontier["url"]) == sorted(canonical["url"])
        python = "ArrowEvalPython" in plans[(state, "frontier", 0)]
        assert python == (name == "messy"), plans[(state, "frontier", 0)]


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
