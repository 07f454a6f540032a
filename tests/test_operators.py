"""Operator-level unit tests: politeness exactness, bloom behavior, the
seen-set build's job count, the dedup / textstats / temporal ops, and
physical-plan sanity (pushdown / broadcast — the §4.2 scale discipline)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F  # noqa: N812

from cs3103_gocrawler_spark.functions.urlfuncs import sha1_64
from cs3103_gocrawler_spark.operators.politeness import dequeue
from cs3103_gocrawler_spark.operators.seen import (
    Bloom,
    build_bloom_distributed,
    build_round_state,
)
from cs3103_gocrawler_spark.storage import RoundCatalog


def _pending_df(spark, n_hosts=5, per_host=40):
    rows = []
    for h in range(n_hosts):
        for i in range(per_host):
            url = f"http://h{h}.test/p/{i}"
            rows.append({
                "url": url, "host": f"h{h}.test", "path": f"/p/{i}",
                "url_sha1": sha1_64(url), "depth": i % 4, "parent": "",
                "priority": i % 3,
            })
    return spark.createDataFrame(pd.DataFrame(rows))


def test_two_phase_dequeue_is_exact_per_host_topk(spark):
    """The one rank window, pruned per input partition by Catalyst's
    WindowGroupLimit, must select EXACTLY the per-host top-B by
    (priority, depth, url) — the same rows as a pandas sort over all of
    pending — and the deferred side must hold every other row."""
    pending = _pending_df(spark)
    B = 7
    dq, df_deferred = dequeue(pending, B)
    got = dq.toPandas()
    want = (
        pending.toPandas()
        .sort_values(["host", "priority", "depth", "url"])
        .groupby("host")
        .head(B)
    )
    assert sorted(got["url"]) == sorted(want["url"])
    assert dq.count() + df_deferred.count() == pending.count()


def test_dequeue_unlimited(spark):
    pending = _pending_df(spark, 2, 5)
    dq, deferred = dequeue(pending, None)
    assert dq.count() == 10 and deferred.count() == 0


def test_bloom_no_false_negatives_and_low_fpr():
    rng = np.random.default_rng(0)
    added = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = np.setdiff1d(other, added)
    b = Bloom(capacity=50_000, fpr=1e-3)
    b.add(added)
    assert b.might_contain(added).all()  # zero false negatives
    fpr = b.might_contain(other).mean()
    assert fpr < 0.01, f"FPR too high: {fpr}"


def test_bloom_empty_rejects_all():
    b = Bloom(capacity=100)
    assert not b.might_contain(np.array([1, 2, 3], dtype=np.int64)).any()


def test_segmented_bloom_matches_unsegmented_semantics():
    rng = np.random.default_rng(1)
    added = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    other = np.setdiff1d(
        rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64), added
    )
    b = Bloom(capacity=50_000, fpr=1e-3, n_segments=16)
    b.add(added)
    assert b.might_contain(added).all()
    assert b.might_contain(other).mean() < 0.01


def _sha1_df(spark, n, seed):
    rng = np.random.default_rng(seed)
    h = rng.integers(-(2**62), 2**62, size=n, dtype=np.int64)
    return h, spark.createDataFrame(pd.DataFrame({"url_sha1": h})).repartition(8)


def _jobs(spark, group, fn):
    """Spark job ids ``fn`` ran, counted by the status tracker under a job
    group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_build_round_state_executor_side(spark):
    """The distributed segment build must produce a bit-identical filter to
    the driver-side add, with an exact ``n_added`` — this is the gate that
    the round path needs no full-result toPandas."""
    h, df = _sha1_df(spark, 5_000, 2)
    b_driver = Bloom(capacity=20_000, fpr=1e-3, n_segments=8)
    b_driver.add(h)
    b_dist = Bloom(capacity=20_000, fpr=1e-3, n_segments=8)
    assert build_round_state(df, b_dist) is None

    assert np.array_equal(b_driver.bits, b_dist.bits)
    assert b_dist.n_added == len(h)


def test_partitioned_build_round_state_is_one_write(spark, tmp_path):
    """The partitioned segment build is the segment-table write alone — no
    read-back of stats rows after it. It runs the same jobs as collecting
    the same segment rows in broadcast mode: the segment shuffle's map stage
    (its own job under AQE) and the one action."""
    _, df = _sha1_df(spark, 2_000, 3)
    collect_jobs = _jobs(spark, "seen-broadcast-build", lambda: build_round_state(
        df, Bloom(capacity=20_000, fpr=1e-3, n_segments=8)
    ))
    cat = RoundCatalog(spark, str(tmp_path))
    b = Bloom(capacity=20_000, fpr=1e-3, n_segments=8)
    jobs = _jobs(spark, "seen-partitioned-build", lambda: build_round_state(
        df, b, segments_sink=(cat, 0)
    ))
    assert len(jobs) == len(collect_jobs) <= 2, (jobs, collect_jobs)
    assert cat.read("bloom_segments", 0).count() == 8
    assert b.n_added == 0  # driver bloom untouched in this mode


def test_broadcast_resume_build_counts_rows_without_count_job(spark, monkeypatch):
    """The resume rebuild takes ``n_added`` from the segment rows it
    collects: exact, and without a ``count()`` job over the seen table."""
    h, df = _sha1_df(spark, 3_000, 4)
    b_ref = Bloom(capacity=20_000, fpr=1e-3, n_segments=8)
    build_jobs = _jobs(spark, "seen-round-build", lambda: build_round_state(df, b_ref))

    def no_count(self):
        raise AssertionError("count() job in the bloom rebuild")

    monkeypatch.setattr(type(df), "count", no_count)
    b = Bloom(capacity=20_000, fpr=1e-3, n_segments=8)
    jobs = _jobs(spark, "seen-resume-build", lambda: build_bloom_distributed(df, b))
    assert b.n_added == len(h)
    assert np.array_equal(b.bits, b_ref.bits)
    assert len(jobs) == len(build_jobs), (jobs, build_jobs)


def test_lsh_bucket_size_cap_drops_giant_buckets(spark):
    """max_bucket_size: a pathological near-dup cluster must not produce a
    quadratic bucket join — capped buckets are dropped entirely."""
    from cs3103_gocrawler_spark.operators.dedup import minhash_lsh_pairs

    rows = [{"doc_id": i, "text": "identical text cluster of words here"}
            for i in range(30)]
    rows += [{"doc_id": 100 + i, "text": f"unique document number {i} about topic {i}"}
             for i in range(5)]
    docs = spark.createDataFrame(pd.DataFrame(rows))
    uncapped = minhash_lsh_pairs(docs).count()
    capped = minhash_lsh_pairs(docs, max_bucket_size=10).count()
    assert uncapped >= 30 * 29 / 2  # the giant cluster is quadratic
    assert capped < uncapped
    assert capped == 0  # every bucket of the 30-clone cluster exceeds the cap


def test_filter_pushdown_reaches_scan(spark):
    """§4.2 discipline: predicate + projection must reach the parquet scan."""
    sf = "/root/testdata/sf0.01"
    df = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:200]


def test_broadcast_join_chosen(spark):
    sf = "/root/testdata/sf0.01"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    part = spark.read.parquet(f"{sf}/part.parquet")
    df = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).groupBy("p_brand").count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_phash_neardup_matches_bruteforce(spark):
    """Image-axis near-dup: banded phash join must equal brute-force Hamming
    (pigeonhole-exact for max_hamming < n_bands)."""
    from cs3103_gocrawler_spark.operators.dedup import phash_neardup_pairs

    rng = np.random.default_rng(7)
    base = rng.integers(-(2**63), 2**63 - 1, size=20, dtype=np.int64)
    rows = []
    for i, b in enumerate(base):
        rows.append({"image_id": f"img{i:03d}_0", "phash": int(b)})
        # 1-3 bit-flipped variants = near dups; far images are random.
        # Flip in the unsigned domain then re-sign — python ^ on a negative
        # int with bit 63 escapes the int64 range before ingestion
        flips = rng.choice(64, size=(i % 4), replace=False)
        u = int(b) & ((1 << 64) - 1)
        for f in flips:
            u ^= 1 << int(f)
        rows.append({
            "image_id": f"img{i:03d}_1",
            "phash": u - (1 << 64) if u >= (1 << 63) else u,
        })
    df = spark.createDataFrame(pd.DataFrame(rows))
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_neardup_pairs(df, max_hamming=3).collect()
    }
    # brute force
    want = set()
    for a in rows:
        for b in rows:
            if a["image_id"] >= b["image_id"]:
                continue
            h = bin((a["phash"] ^ b["phash"]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want.add((a["image_id"], b["image_id"], h))
    assert got == want
    assert len(want) >= 15  # the constructed variants are actually present


def test_lang_id_cjk_and_profiles():
    """The trigram heuristic's branches, incl. the CJK codepoint path the
    ASCII testdata never exercises."""
    from cs3103_gocrawler_spark.operators.textstats import lang_id_py

    assert lang_id_py("这是一个中文文档 with some latin") == "zh"
    assert lang_id_py("the thing and the other thing of note") == "en"
    assert lang_id_py("la casa de la madre y el padre de ellos") == "es"
    assert lang_id_py("") == "en"  # empty → initial best


def test_repetition_stats_semantics(spark):
    """Gopher repetition filters: hand-computed fractions, empty-doc and
    duplicate-heavy edge cases, keep-flag thresholds."""
    from cs3103_gocrawler_spark.operators.textstats import repetition_stats

    docs = spark.createDataFrame(pd.DataFrame([
        # 3 lines, one duplicated; words: the,cat,sat,the,cat,the -> 6 words,
        # 3 distinct, top=3x'the'
        {"doc_id": "a", "text": "the cat sat\nthe cat\nthe cat sat"},
        # clean doc: no dup lines, 6 distinct words (top share 1/6 < 0.2)
        {"doc_id": "b", "text": "alpha beta gamma\ndelta epsilon zeta"},
        # empty doc
        {"doc_id": "c", "text": ""},
        # single word repeated: top_word_frac = 1 -> dropped
        {"doc_id": "d", "text": "spam spam spam spam"},
    ]))
    got = repetition_stats(docs).toPandas().set_index("doc_id")
    a = got.loc["a"]
    assert int(a["n_lines"]) == 3 and int(a["n_words"]) == 8
    assert abs(a["dup_line_frac"] - 1 / 3) < 1e-6
    assert abs(a["dup_word_frac"] - (8 - 3) / 8) < 1e-6
    assert abs(a["top_word_frac"] - 3 / 8) < 1e-6
    assert int(a["keep"]) == 0
    b = got.loc["b"]
    assert (b[["dup_line_frac", "dup_word_frac"]] == 0).all()
    assert int(b["keep"]) == 1
    c = got.loc["c"]
    assert int(c["n_lines"]) == 0 and int(c["n_words"]) == 0
    assert int(c["keep"]) == 1  # vacuously clean: zero-length, no repetition
    d = got.loc["d"]
    assert abs(d["top_word_frac"] - 1.0) < 1e-6 and int(d["keep"]) == 0


def test_boilerplate_strip_semantics(spark):
    """C4 boilerplate removal: lines in >2 docs dropped corpus-wide, order
    preserved, fully-stripped and empty docs survive with empty text."""
    from cs3103_gocrawler_spark.operators.textstats import boilerplate_strip

    footer = "subscribe to our newsletter"
    docs = spark.createDataFrame(pd.DataFrame([
        {"doc_id": "a", "text": f"unique alpha\n{footer}\nunique omega"},
        {"doc_id": "b", "text": f"{footer}\nshared pair"},
        {"doc_id": "c", "text": f"shared pair\n{footer}"},
        {"doc_id": "d", "text": footer},          # fully stripped
        {"doc_id": "e", "text": ""},              # empty
    ]))
    got = boilerplate_strip(docs).toPandas().set_index("doc_id")
    # footer appears in 4 docs (>2) -> removed; "shared pair" in 2 -> kept
    assert got.loc["a", "clean_text"] == "unique alpha\nunique omega"
    assert int(got.loc["a", "n_removed"]) == 1
    assert got.loc["b", "clean_text"] == "shared pair"
    assert got.loc["c", "clean_text"] == "shared pair"
    assert got.loc["d", "clean_text"] == "" and int(got.loc["d", "n_removed"]) == 1
    assert got.loc["e", "clean_text"] == "" and int(got.loc["e", "n_removed"]) == 0


def test_pii_redact_semantics(spark):
    from cs3103_gocrawler_spark.operators.textstats import pii_redact

    docs = spark.createDataFrame(pd.DataFrame([
        {"doc_id": 1,
         "text": "mail me at jo.doe+x@example.co.uk or 10.0.255.7, "
                 "call +1 (555) 123-4567 now"},
        {"doc_id": 2, "text": "clean text with the number 42"},
    ]))
    got = pii_redact(docs).toPandas().set_index("doc_id")
    r1 = got.loc[1]
    assert (int(r1["n_emails"]), int(r1["n_ips"]), int(r1["n_phones"])) == (1, 1, 1)
    assert r1["redacted_text"] == (
        "mail me at <EMAIL> or <IP>, call <PHONE> now"
    )
    r2 = got.loc[2]
    assert (int(r2["n_emails"]), int(r2["n_ips"]), int(r2["n_phones"])) == (0, 0, 0)
    assert r2["redacted_text"] == "clean text with the number 42"


def test_neardup_components_chain_and_isolated(spark):
    """Hash-min CC: a 5-node chain (needs multi-hop propagation), a separate
    pair, and a triangle all get min-id labels; no cross-component bleed."""
    from cs3103_gocrawler_spark.operators.dedup import neardup_components

    pairs = spark.createDataFrame(pd.DataFrame([
        # chain d9-d7-d5-d3-d1 given as adjacent pairs (worst case for
        # propagation depth: min id at one end)
        {"doc_a": "d9", "doc_b": "d7"}, {"doc_a": "d7", "doc_b": "d5"},
        {"doc_a": "d5", "doc_b": "d3"}, {"doc_a": "d3", "doc_b": "d1"},
        # separate pair
        {"doc_a": "x2", "doc_b": "x8"},
        # triangle with duplicate edge
        {"doc_a": "t3", "doc_b": "t2"}, {"doc_a": "t2", "doc_b": "t1"},
        {"doc_a": "t1", "doc_b": "t3"}, {"doc_a": "t2", "doc_b": "t3"},
    ]))
    got = neardup_components(pairs).toPandas().set_index("doc_id")["component"]
    assert got.loc[["d1", "d3", "d5", "d7", "d9"]].eq("d1").all()
    assert got.loc[["x2", "x8"]].eq("x2").all()
    assert got.loc[["t1", "t2", "t3"]].eq("t1").all()
    assert len(got) == 10


def test_neardup_filter_keeps_canonicals_and_unclustered(spark):
    from cs3103_gocrawler_spark.operators.dedup import neardup_filter

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["a1", "a2", "a3", "b1", "b2", "solo"],
        "text": ["t"] * 6,
    }))
    pairs = spark.createDataFrame(pd.DataFrame([
        {"doc_a": "a2", "doc_b": "a1"}, {"doc_a": "a3", "doc_b": "a2"},
        {"doc_a": "b1", "doc_b": "b2"},
    ]))
    kept = sorted(r.doc_id for r in neardup_filter(docs, pairs).collect())
    assert kept == ["a1", "b1", "solo"]


def test_contamination_check_semantics(spark):
    """Hand-computed 3-gram overlap fractions; benchmark side must be a
    broadcast join (corpus side streams)."""
    from cs3103_gocrawler_spark.operators.textstats import contamination_check

    bench = spark.createDataFrame(pd.DataFrame([
        {"text": "the quick brown fox jumps"},
    ]))
    docs = spark.createDataFrame(pd.DataFrame([
        # shingles: "the quick brown","quick brown fox","brown fox leaps",
        # "fox leaps high" -> 2 of 4 in benchmark
        {"doc_id": "a", "text": "The quick brown fox leaps high!"},
        # shingles: "quick brown fox","brown fox jumps","fox jumps over"
        # -> first two in benchmark
        {"doc_id": "b", "text": "quick brown fox jumps over"},
        # no overlap
        {"doc_id": "c", "text": "completely unrelated words here"},
        # short doc (< k words): single joined shingle, not in benchmark
        {"doc_id": "d", "text": "quick brown"},
        # empty doc
        {"doc_id": "e", "text": ""},
    ]))
    out = contamination_check(docs, bench)
    got = out.toPandas().set_index("doc_id")
    assert (int(got.loc["a", "n_shingles"]), int(got.loc["a", "n_overlap"])) == (4, 2)
    assert int(got.loc["a", "contaminated"]) == 1  # 0.5 >= threshold
    assert (int(got.loc["b", "n_shingles"]), int(got.loc["b", "n_overlap"])) == (3, 2)
    assert int(got.loc["b", "contaminated"]) == 1
    assert int(got.loc["c", "n_overlap"]) == 0 and int(got.loc["c", "contaminated"]) == 0
    assert (int(got.loc["d", "n_shingles"]), int(got.loc["d", "n_overlap"])) == (1, 0)
    assert (int(got.loc["e", "n_shingles"]), int(got.loc["e", "contaminated"])) == (0, 0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_stratified_sample_exact_per_group_topn(spark):
    """One-window sample == the per-group top-n of a pandas sort."""
    from cs3103_gocrawler_spark.operators.dedup import hash64
    from cs3103_gocrawler_spark.operators.textstats import stratified_sample

    pdf = pd.DataFrame({
        "doc_id": range(200),
        "source": [f"s{i % 3}" for i in range(200)],
        "text": [f"doc {i}" for i in range(200)],
    })
    docs = spark.createDataFrame(pdf)
    n = 7
    got = stratified_sample(docs, group_col="source", n_per_group=n).toPandas()
    keyed = docs.withColumn("_h", hash64(F.col("doc_id").cast("string"))).toPandas()
    want = (
        keyed.sort_values(["source", "_h", "doc_id"]).groupby("source").head(n)
    )
    assert sorted(got["doc_id"]) == sorted(want["doc_id"])
    assert got.groupby("source")["sample_rank"].max().eq(n).all()
    assert set(got.columns) == {"doc_id", "source", "text", "sample_rank"}


def test_neardup_components_nonconvergence_raises(spark):
    """A chain whose diameter exceeds max_iter must raise, not return the
    partial (mutually inconsistent) fixpoint (ADVICE r3)."""
    from cs3103_gocrawler_spark.operators.dedup import neardup_components

    chain = spark.createDataFrame(pd.DataFrame([
        {"doc_a": f"c{i:02d}", "doc_b": f"c{i + 1:02d}"} for i in range(9)
    ]))
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_components(chain, max_iter=2)
    ok = neardup_components(chain, max_iter=20).toPandas()
    assert (ok["component"] == "c00").all()


def test_neardup_components_checkpoint_resume(spark, tmp_path):
    """Reliable-checkpoint mode: an interrupted (max_iter-exhausted) run
    leaves committed per-iteration labels; a re-invocation with the same dir
    resumes from them instead of restarting, and a third call returns the
    stored fixpoint without iterating."""
    import json
    import os

    from cs3103_gocrawler_spark.operators.dedup import neardup_components

    chain = spark.createDataFrame(pd.DataFrame([
        {"doc_a": f"c{i:02d}", "doc_b": f"c{i + 1:02d}"} for i in range(7)
    ]))
    cc_dir = str(tmp_path / "cc")
    with pytest.raises(RuntimeError, match="did not converge"):
        neardup_components(chain, max_iter=2, checkpoint_dir=cc_dir)
    man_path = os.path.join(cc_dir, "manifest.json")
    with open(man_path) as f:
        man = json.load(f)
    assert man["last_round"] == 1 and not man["converged"]

    got = neardup_components(
        chain, max_iter=20, checkpoint_dir=cc_dir
    ).toPandas()
    assert (got["component"] == "c00").all() and len(got) == 8
    with open(man_path) as f:
        man2 = json.load(f)
    assert man2["converged"] and man2["last_round"] > 1

    # converged manifest short-circuits: labels come straight from parquet
    again = neardup_components(
        chain, max_iter=1, checkpoint_dir=cc_dir
    ).toPandas()
    assert (again["component"] == "c00").all() and len(again) == 8


def test_incremental_lsh_pairs_batch_probes_corpus(spark):
    """T30: a batch doc that copies a corpus doc collides in every band;
    a novel batch doc collides nowhere; the pair set equals the full
    self-join's pairs restricted to batch x corpus."""
    from cs3103_gocrawler_spark.operators.dedup import (
        incremental_lsh_pairs, minhash_lsh_pairs,
    )

    t_a = "the quick brown fox jumps over the lazy dog near the river bank"
    t_b = "completely different content about spark shuffle partitions and skew"
    t_c = "a third novel text mentioning bloom filters politeness and frontiers"
    corpus = spark.createDataFrame(pd.DataFrame([
        {"doc_id": 1, "text": t_a}, {"doc_id": 2, "text": t_b},
    ]))
    batch = spark.createDataFrame(pd.DataFrame([
        {"doc_id": 100, "text": t_a},  # exact copy of corpus doc 1
        {"doc_id": 101, "text": t_c},  # novel
    ]))
    got = {
        (r.batch_doc, r.corpus_doc)
        for r in incremental_lsh_pairs(batch, corpus).collect()
    }
    assert (100, 1) in got
    assert all(b != 101 for b, _ in got)

    # parity with the self-join over the union, restricted to cross pairs
    full = minhash_lsh_pairs(corpus.unionByName(batch))
    cross = {
        (max(r.doc_a, r.doc_b), min(r.doc_a, r.doc_b))
        for r in full.collect()
        if (r.doc_a >= 100) != (r.doc_b >= 100)
    }
    assert got == cross


def test_tfidf_topk_ranks_distinctive_terms(spark):
    """T31: a rare repeated term outranks corpus-wide terms; ties on the
    rounded score break by term text; rk never exceeds k."""
    import math

    from cs3103_gocrawler_spark.operators.textstats import tfidf_topk

    docs = spark.createDataFrame(pd.DataFrame([
        {"doc_id": 1, "text": "zebra zebra zebra common word"},
        {"doc_id": 2, "text": "common word alpha"},
        {"doc_id": 3, "text": "common word beta"},
    ]))
    got = tfidf_topk(docs, k=3).toPandas()
    assert got["rk"].max() <= 3
    d1 = got[got.doc_id == 1].sort_values("rk")
    assert d1.iloc[0]["term"] == "zebra"
    assert d1.iloc[0]["tf"] == 3 and d1.iloc[0]["df"] == 1
    assert abs(d1.iloc[0]["tfidf"] - round(3 * (math.log(4 / 2) + 1), 6)) < 1e-9
    d2 = got[got.doc_id == 2].sort_values("rk")
    # alpha (rare) first, then the score-1.0 tie common/word by term text
    assert list(d2["term"]) == ["alpha", "common", "word"]


def test_host_skew_stats_exact_percentiles(spark, tmp_path):
    """T32: exact rank-at-ceil(p*K) percentiles and max/mean skew ratio on a
    hand-computable staircase distribution (key i appears i times)."""
    from cs3103_gocrawler_spark.plans.generic_queries import q_host_skew_stats

    rows = [{"user_id": k} for k in range(1, 11) for _ in range(k)]
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(
        str(tmp_path / "events.parquet")
    )
    got = q_host_skew_stats(spark, str(tmp_path)).collect()[0]
    assert got.n_keys == 10 and got.total_rows == 55 and got.max_cnt == 10
    assert abs(got.avg_cnt - 5.5) < 1e-9
    assert (got.p50_cnt, got.p90_cnt, got.p99_cnt) == (5, 9, 10)
    assert abs(got.skew_ratio - round(100 / 55, 6)) < 1e-9


# --------------------------------------------------------------------------
# T38-T40 — temporal operators (operators/temporal.py)
# --------------------------------------------------------------------------

def _ts(s):
    return pd.Timestamp(s)


def test_asof_join_inclusive_tiebreak_and_missing(spark):
    """Hand case: inclusive backward match, max-event_id tie-break at equal
    ts, null carry when no right row precedes, key isolation."""
    from cs3103_gocrawler_spark.operators import temporal

    purchases = spark.createDataFrame(
        pd.DataFrame({
            "event_id": [100, 101, 102],
            "user_id": [1, 1, 2],
            "ts": [_ts("2024-01-01 00:00:20"),  # ties with views 11/12
                   _ts("2024-01-01 00:00:05"),  # before every view -> null
                   _ts("2024-01-01 00:00:30")], # user 2 has no views -> null
        })
    )
    views = spark.createDataFrame(
        pd.DataFrame({
            "user_id": [1, 1, 1],
            "view_ts": [_ts("2024-01-01 00:00:10"),
                        _ts("2024-01-01 00:00:20"),
                        _ts("2024-01-01 00:00:20")],
            "view_event_id": [10, 11, 12],
        })
    )
    got = {
        r["event_id"]: (r["view_event_id"], r["view_ts"])
        for r in temporal.asof_join(
            purchases, views, on="user_id", left_ts="ts", right_ts="view_ts",
            carry=("view_event_id", "view_ts"), tiebreak="view_event_id",
        ).collect()
    }
    assert got[100][0] == 12          # inclusive, and 12 beats 11 on the tie
    assert got[101] == (None, None)   # no prior view
    assert got[102] == (None, None)   # other user's views never leak


def test_interval_join_halfopen_boundaries_and_bin_spanning(spark):
    """Exact [start, start+dur): the start instant is in, the end instant is
    out, a point in the interval's SECOND hour-bin matches exactly once."""
    from cs3103_gocrawler_spark.operators import temporal

    base = _ts("2024-01-01 00:30:00")  # interval 00:30:00..01:30:00 spans 2 bins
    intervals = spark.createDataFrame(
        pd.DataFrame({"window_id": [1], "window_start": [base]})
    )
    points = spark.createDataFrame(
        pd.DataFrame({
            "click_id": [1, 2, 3, 4],
            "click_ts": [
                base,                                   # == start: in
                _ts("2024-01-01 01:10:00"),             # second bin: in, once
                _ts("2024-01-01 01:30:00"),             # == end: out
                _ts("2024-01-01 00:29:59.999999"),      # just before: out
            ],
        })
    )
    got = temporal.interval_join(
        points, intervals, point_ts="click_ts", start_ts="window_start",
        duration_us=temporal.HOUR_US,
    ).toPandas()
    assert sorted(got["click_id"]) == [1, 2]
    assert len(got) == 2  # the bin-spanning point matched exactly once


def test_sessionize_gap_semantics(spark):
    """A gap of exactly gap_us continues the session; strictly greater
    starts a new one; indexes are per-key dense from 1."""
    from cs3103_gocrawler_spark.operators import temporal

    t0 = _ts("2024-01-01 00:00:00")
    sec = pd.Timedelta(seconds=1)
    ev = spark.createDataFrame(
        pd.DataFrame({
            "user_id": [1, 1, 1, 1, 2],
            "event_id": [1, 2, 3, 4, 5],
            "ts": [t0, t0 + 10 * sec,        # same session (10 <= 10)
                   t0 + 20 * sec,            # same session (10 <= 10)
                   t0 + 31 * sec,            # 11 > 10 -> new session
                   t0],                      # other key restarts at 1
        })
    )
    got = {
        r["event_id"]: r["session_idx"]
        for r in temporal.sessionize(
            ev, key="user_id", ts="ts", tiebreak="event_id",
            gap_us=10_000_000,
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}
