"""Partitioned bloom probe (scale path): persisted segment table + cogroup
probe must equal the broadcast path bit-for-bit, with NO driver-side bit
array and no sparkContext.broadcast of it (VERDICT r2 'what's wrong' #1)."""

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
    to uninterrupted, and the driver bloom stays empty (no rebuild scan)."""
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
    assert resumed.bloom.n_added == 0
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


def test_bloom_auto_mode_cutover(spark, crawl_inputs, tmp_path):
    """bloom_mode='auto' resolves by filter geometry: small filters
    broadcast, filters past the ~256 MB broadcast-safe threshold go
    partitioned — and the driver never allocates the partitioned array."""
    pages, _ = crawl_inputs
    small = CrawlEngine(
        spark, pages, CrawlConfig(bloom_capacity=1 << 14), str(tmp_path / "s")
    )
    assert small.cfg.bloom_mode == "auto"
    assert small.bloom_mode == "broadcast"

    big = CrawlEngine(
        spark, pages,
        CrawlConfig(bloom_capacity=1 << 31, bloom_segments=32),
        str(tmp_path / "b"),
    )
    assert big.bloom_mode == "partitioned"
    assert big.bloom.seg_bytes * big.bloom.s > (256 << 20)
    assert big.bloom._bits is None  # lazy: geometry only, no driver array


def test_resume_geometry_mismatch_raises(spark, crawl_inputs, tmp_path):
    """Resuming a partitioned crawl with changed filter geometry must fail
    loudly — probing old bitmaps with new (m_seg, k, s) silently re-crawls
    seen URLs (ADVICE r3, medium)."""
    pages, seeds = crawl_inputs
    base = dict(max_depth=4, budget_per_host=3, bloom_capacity=1 << 14,
                bloom_mode="partitioned")
    eng = CrawlEngine(spark, pages,
                      CrawlConfig(max_rounds=2, bloom_segments=8, **base),
                      str(tmp_path / "st"))
    eng.init_frontier(seeds)
    eng.run()
    bad = CrawlEngine(spark, pages,
                      CrawlConfig(bloom_segments=16, **base),
                      str(tmp_path / "st"))
    with pytest.raises(RuntimeError, match="bloom geometry mismatch"):
        bad.run(resume=True)


def test_resume_without_bloom_record_falls_back_exact(spark, crawl_inputs, tmp_path):
    """A checkpoint whose manifest carries no bloom record (pre-r4, or an
    unknown-mode crawl) cannot prove segment coverage: the resumed engine
    must drop to the exact anti-join and still finish with the correct
    visited set."""
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
    assert resumed._exact_only
    assert _visited_key(resumed) == _visited_key(full)
