"""Partitioned bloom probe (scale path): persisted segment table + cogroup
probe must equal the broadcast path bit-for-bit, with NO driver-side bit
array and no sparkContext.broadcast of it (VERDICT r2 'what's wrong' #1).

The engine's seen filter is the exact anti-join alone, so the crawl-level
tests below check resume and visited-set equality in every bloom_mode, and
that no round or resume builds, writes or reads a bloom."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from cs3103_gocrawler_spark.operators.seen import (
    Bloom,
    build_round_state,
    filter_unseen,
    probe_with_segments,
)
from cs3103_gocrawler_spark.storage import RoundCatalog
from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig, CrawlEngine


def _mk_rows(spark, urls):
    return spark.createDataFrame(
        [(u, int(hash(u) % (1 << 62))) for u in urls],
        "url string, url_sha1 long",
    ).withColumn("depth", F.lit(1)).withColumn("outcome", F.lit("ok"))


def test_partitioned_probe_matches_broadcast(spark, tmp_path):
    seen_urls = [f"http://h{i % 7}.test/p{i}" for i in range(200)]
    cand_urls = seen_urls[:50] + [f"http://h{i % 7}.test/new{i}" for i in range(150)]

    cat = RoundCatalog(spark, str(tmp_path))
    seen_df = _mk_rows(spark, seen_urls)
    cand_df = _mk_rows(spark, cand_urls).select("url", "url_sha1")

    # broadcast-path reference: driver-built bloom
    b_ref = Bloom(1 << 14, n_segments=8)
    build_round_state(seen_df, b_ref)

    # partitioned path: identical geometry, bits written executor-side only
    b_part = Bloom(1 << 14, n_segments=8)
    build_round_state(seen_df, b_part, segments_sink=(cat, 0))
    assert b_part.n_added == 0  # driver bloom untouched in this mode
    segments = cat.read_all("bloom_segments")

    flagged = probe_with_segments(
        cand_df, segments, int(b_ref.m_seg), b_ref.k, b_ref.s
    ).toPandas().sort_values("url").reset_index(drop=True)
    expect = b_ref.might_contain(
        flagged["url_sha1"].to_numpy(dtype=np.int64)
    )
    assert (flagged["_maybe"].to_numpy() == expect).all()
    # every truly-seen candidate must be flagged (no false negatives)
    seen_set = set(seen_urls)
    for u, maybe in zip(flagged["url"], flagged["_maybe"]):
        if u in seen_set:
            assert maybe

    # end-to-end filter_unseen equality between the two tiers
    seen_tbl = seen_df.select("url")
    part = filter_unseen(spark, cand_df, seen_tbl, b_ref, segments=segments)[0]
    bcast = filter_unseen(spark, cand_df, seen_tbl, b_ref)[0]
    assert sorted(r.url for r in part.collect()) == sorted(
        r.url for r in bcast.collect()
    )


def test_partitioned_probe_never_broadcasts_bits(spark, tmp_path, monkeypatch):
    cat = RoundCatalog(spark, str(tmp_path))
    seen_df = _mk_rows(spark, [f"http://a.test/{i}" for i in range(50)])
    b = Bloom(1 << 12, n_segments=4)
    build_round_state(seen_df, b, segments_sink=(cat, 0))
    segments = cat.read_all("bloom_segments")
    cand = _mk_rows(spark, [f"http://a.test/{i}" for i in range(30, 80)]).select(
        "url", "url_sha1"
    )

    sc = spark.sparkContext
    real = sc.broadcast

    def guarded(value, *a, **kw):
        if isinstance(value, tuple) and any(
            isinstance(v, np.ndarray) for v in value
        ):
            raise AssertionError("bit array reached sparkContext.broadcast")
        return real(value, *a, **kw)

    monkeypatch.setattr(sc, "broadcast", guarded)
    out = filter_unseen(
        spark, cand, seen_df.select("url"), b, segments=segments
    )[0]
    assert out.count() == 30  # 50..79 are unseen


def _visited_key(eng):
    return sorted(
        (r.url, r.depth, r.parent)
        for r in eng.visited_df().select("url", "depth", "parent").collect()
    )


@pytest.fixture(scope="module")
def crawl_inputs(spark, medium_web):
    _, d = medium_web
    pages = spark.read.parquet(f"{d}/pages.parquet")
    seeds = (
        pages.orderBy("image_id").limit(5)
        .select(F.col("image_id").alias("url"),
                F.lit(0).cast("int").alias("priority"))
    )
    return pages, seeds


def test_engine_partitioned_mode_matches_broadcast(spark, crawl_inputs, tmp_path):
    pages, seeds = crawl_inputs
    base = dict(max_depth=4, budget_per_host=3, bloom_capacity=1 << 14,
                bloom_segments=8)
    outs = {}
    for mode in ("broadcast", "partitioned"):
        cfg = CrawlConfig(bloom_mode=mode, **base)
        eng = CrawlEngine(spark, pages, cfg, str(tmp_path / mode))
        eng.init_frontier(seeds)
        eng.run()
        outs[mode] = _visited_key(eng)
    assert outs["partitioned"] == outs["broadcast"]
    assert len(outs["broadcast"]) > 10


def test_partitioned_resume_no_rebuild(spark, crawl_inputs, tmp_path):
    """Kill after round 1, resume in partitioned mode: final state identical
    to uninterrupted."""
    pages, seeds = crawl_inputs
    base = dict(max_depth=4, budget_per_host=3, bloom_capacity=1 << 14,
                bloom_segments=8, bloom_mode="partitioned")

    full = CrawlEngine(spark, pages, CrawlConfig(**base), str(tmp_path / "full"))
    full.init_frontier(seeds)
    full.run()

    part = CrawlEngine(spark, pages, CrawlConfig(max_rounds=2, **base),
                       str(tmp_path / "interrupted"))
    part.init_frontier(seeds)
    part.run()
    resumed = CrawlEngine(spark, pages, CrawlConfig(**base),
                          str(tmp_path / "interrupted"))
    resumed.run(resume=True)
    assert _visited_key(resumed) == _visited_key(full)


@pytest.mark.parametrize("salt", [1, 3, 8])
def test_partitioned_probe_salt_invariant(spark, tmp_path, salt):
    """The (seg, salt) cogroup must return the same membership verdicts at
    any salt width — salting only bounds per-task candidate volume."""
    seen_urls = [f"http://s{i % 5}.test/p{i}" for i in range(120)]
    cand_urls = seen_urls[:40] + [f"http://s{i % 5}.test/x{i}" for i in range(80)]
    cat = RoundCatalog(spark, str(tmp_path))
    seen_df = _mk_rows(spark, seen_urls)
    cand_df = _mk_rows(spark, cand_urls).select("url", "url_sha1")

    b = Bloom(1 << 14, n_segments=8)
    build_round_state(seen_df, b)  # driver reference bits
    b2 = Bloom(1 << 14, n_segments=8)
    build_round_state(seen_df, b2, segments_sink=(cat, 0))
    segments = cat.read_all("bloom_segments")

    flagged = probe_with_segments(
        cand_df, segments, int(b.m_seg), b.k, b.s, probe_salt=salt
    ).toPandas().sort_values("url").reset_index(drop=True)
    expect = b.might_contain(flagged["url_sha1"].to_numpy(dtype=np.int64))
    assert (flagged["_maybe"].to_numpy() == expect).all()


def test_resume_without_bloom_record_falls_back_exact(spark, crawl_inputs, tmp_path):
    """A checkpoint whose manifest carries no bloom record resumes to the
    uninterrupted crawl's visited set."""
    import json
    import os

    pages, seeds = crawl_inputs
    base = dict(max_depth=4, budget_per_host=3, bloom_capacity=1 << 14,
                bloom_segments=8, bloom_mode="partitioned")

    full = CrawlEngine(spark, pages, CrawlConfig(**base), str(tmp_path / "full"))
    full.init_frontier(seeds)
    full.run()

    part = CrawlEngine(spark, pages, CrawlConfig(max_rounds=2, **base),
                       str(tmp_path / "old"))
    part.init_frontier(seeds)
    part.run()
    man_path = os.path.join(str(tmp_path / "old"), "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    man.pop("bloom", None)  # simulate a pre-geometry-record checkpoint
    with open(man_path, "w") as f:
        json.dump(man, f)

    resumed = CrawlEngine(spark, pages, CrawlConfig(**base), str(tmp_path / "old"))
    resumed.run(resume=True)
    assert _visited_key(resumed) == _visited_key(full)


def _crawl_order_key(eng):
    from cs3103_gocrawler_spark.plans.report import crawl_order

    return sorted(
        (r.host, r.seq, r.url)
        for r in crawl_order(eng.visited_df()).select("host", "seq", "url").collect()
    )


_RESUME_BASE = dict(max_depth=4, budget_per_host=3, bloom_capacity=1 << 14,
                    bloom_segments=8, bloom_mode="partitioned")


@pytest.fixture(scope="module")
def uninterrupted(spark, crawl_inputs, tmp_path_factory):
    """The uninterrupted crawl the resume tests below compare against."""
    pages, seeds = crawl_inputs
    eng = CrawlEngine(spark, pages, CrawlConfig(**_RESUME_BASE),
                      str(tmp_path_factory.mktemp("uninterrupted")))
    eng.init_frontier(seeds)
    eng.run()
    return eng


def _interrupted(spark, crawl_inputs, state, **cfg):
    """Two committed rounds of the resume tests' crawl in ``state``."""
    pages, seeds = crawl_inputs
    eng = CrawlEngine(spark, pages, CrawlConfig(**{**_RESUME_BASE, **cfg},
                                                max_rounds=2), state)
    eng.init_frontier(seeds)
    return eng.run()


def test_engine_never_builds_or_probes_bloom(spark, crawl_inputs, uninterrupted,
                                             tmp_path, monkeypatch):
    """The round's seen filter is the exact anti-join alone: neither a round
    nor a resume builds a bloom, no bloom_segments table is written, and the
    resumed crawl equals the uninterrupted one — in every bloom_mode."""
    import os

    from cs3103_gocrawler_spark.streaming import rounds

    calls = {"build_round_state": 0, "build_bloom_distributed": 0}
    for name in calls:
        orig = getattr(rounds, name)

        def counting(*a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(*a, **kw)

        monkeypatch.setattr(rounds, name, counting)

    pages, _ = crawl_inputs
    for mode in ("broadcast", "partitioned"):
        state = str(tmp_path / mode)
        hist = _interrupted(spark, crawl_inputs, state, bloom_mode=mode)
        resumed = CrawlEngine(
            spark, pages, CrawlConfig(**{**_RESUME_BASE, "bloom_mode": mode}), state
        )
        hist += resumed.run(resume=True)
        assert sum(1 for h in hist if h.get("dequeued")) >= 3

        assert calls == {"build_round_state": 0, "build_bloom_distributed": 0}
        assert not os.path.exists(os.path.join(state, "bloom_segments"))
        assert _visited_key(resumed) == _visited_key(uninterrupted)
    assert not os.path.exists(
        os.path.join(uninterrupted.cat.state_dir, "bloom_segments")
    )


def test_resume_from_bloom_era_checkpoint(spark, crawl_inputs, uninterrupted,
                                          tmp_path, monkeypatch):
    """A state dir written by an engine that still kept a partitioned bloom
    — a geometry record in the manifest and a bloom_segments table on disk —
    resumes to the uninterrupted crawl's visited set and per-host order
    without reading the stale segment table (its bitmaps here are all zero:
    a probe that trusted them would call every seen URL new)."""
    import json
    import os

    state = str(tmp_path / "bloom_era")
    _interrupted(spark, crawl_inputs, state)

    cat = RoundCatalog(spark, state)
    geo = Bloom(_RESUME_BASE["bloom_capacity"],
                n_segments=_RESUME_BASE["bloom_segments"])
    zero = bytes(geo.seg_bytes)
    cat.write(
        spark.createDataFrame(
            [(seg, zero, 1) for seg in range(geo.s)],
            "seg int, bitmap binary, n_rows long",
        ),
        "bloom_segments", 0,
    )
    man_path = os.path.join(state, "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    man["bloom"] = {"mode": "partitioned", "m_seg": int(geo.m_seg),
                    "k": int(geo.k), "s": int(geo.s)}
    with open(man_path, "w") as f:
        json.dump(man, f)

    reads = []
    for method in ("read", "read_all"):
        orig = getattr(RoundCatalog, method)

        def logged(self, kind, *a, _orig=orig, **kw):
            reads.append(kind)
            return _orig(self, kind, *a, **kw)

        monkeypatch.setattr(RoundCatalog, method, logged)

    pages, _ = crawl_inputs
    resumed = CrawlEngine(spark, pages, CrawlConfig(**_RESUME_BASE), state)
    resumed.run(resume=True)
    assert "bloom_segments" not in reads
    assert _visited_key(resumed) == _visited_key(uninterrupted)
    assert _crawl_order_key(resumed) == _crawl_order_key(uninterrupted)
