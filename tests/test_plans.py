"""Physical-plan quality gates (SURVEY.md §4.2).

These assert the *plan shape*, not results: filters reach the parquet scan,
small dimensions broadcast, the anti-join stays an anti-join, the bucketed
pages table joins without shuffling its (payload-carrying) side, and scans
prune columns. A regression here is a 100 TB problem that sf0.01 results
can't catch.
"""

import os

import pytest
from pyspark.sql import functions as F  # noqa: N812

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def assert_topk_once(plan: str, key: str) -> None:
    """The plan ranks with exactly one Window, and on the path from it down
    to its input (each node's first child) the rows cross one Exchange,
    hash-partitioned by ``key``, with a Partial WindowGroupLimit below it:
    the top-k is pruned per input partition before the shuffle."""
    nodes = []
    for line in plan.splitlines():
        m = _NODE_RE.match(line)
        if m:
            nodes.append((m.start(1), line[m.start(1):]))
    windows = [i for i, (_, text) in enumerate(nodes) if text.startswith("Window ")]
    assert len(windows) == 1, plan
    i = windows[0]
    path = [nodes[i][1]]
    while i + 1 < len(nodes) and nodes[i + 1][0] > nodes[i][0]:
        i += 1
        path.append(nodes[i][1])
    exchanges = [k for k, text in enumerate(path) if text.startswith("Exchange")]
    assert len(exchanges) == 1, plan
    assert path[exchanges[0]].startswith(f"Exchange hashpartitioning({key}#"), plan
    partial = [
        k for k, text in enumerate(path)
        if text.startswith("WindowGroupLimit") and text.endswith("Partial")
    ]
    assert partial and partial[0] > exchanges[0], plan


def test_filter_pushdown_reaches_parquet(spark):
    df = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "o_orderstatus" in plan.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning_in_scan(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select("l_orderkey")
    plan = _formatted(df)
    read_schema = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" in read_schema
    assert "l_extendedprice" not in read_schema  # untouched columns pruned


def test_dim_join_broadcasts(spark):
    from cs3103_gocrawler_spark.plans.generic_queries import q_broadcast_dim_join

    plan = _plan(q_broadcast_dim_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_seen_anti_join_shape(spark):
    from cs3103_gocrawler_spark.plans.generic_queries import q_seen_anti_join

    plan = _plan(q_seen_anti_join(spark, SF_DIR))
    assert "LeftAnti" in plan


def test_bucketed_fetch_join_no_big_side_shuffle(spark, tiny_web):
    """The pages side of the fetch join is bucketed on the join key — it must
    scan bucket-aligned with NO Exchange above it (the frontier side alone
    shuffles). This is the local stand-in for the Iceberg storage-partitioned
    join (SURVEY.md §4.2.5)."""
    from cs3103_gocrawler_spark.storage import register_bucketed_pages

    _cfg, web_dir = tiny_web
    tbl = register_bucketed_pages(
        spark, f"{web_dir}/pages.parquet", table_name="pages_plan_test", n_buckets=8
    )
    pages = spark.table(tbl)
    frontier = pages.select(F.col("image_id").alias("url")).limit(50)
    joined = frontier.join(
        pages.select(F.col("image_id").alias("url"), "status"), "url", "left"
    )
    plan = _plan(joined)
    # find the SortMergeJoin/ShuffledHashJoin subtree; the bucketed scan side
    # must show its FileScan without an Exchange between join and scan
    assert "pages_plan_test" in plan
    scan_side = plan[plan.index("pages_plan_test"):]
    before_scan = plan[: plan.index("pages_plan_test")]
    # exactly one Exchange in the whole plan (the frontier side)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"bucketed join should shuffle only one side:\n{plan}"
    assert scan_side is not None and before_scan is not None
    # the payload side must not re-sort either: its bucket files are written
    # sorted and session.py enables sorted-bucket-scan metadata — only the
    # frontier side may carry a Sort
    assert plan.count("Sort [") <= 1, f"payload side re-sorted:\n{plan}"


def test_politeness_dequeue_partial_windows(spark):
    """One rank window per host: Catalyst plans a Partial WindowGroupLimit
    below the key exchange, so no key's rows all reach one partition before
    the prune (skew guard), and a Final one above it."""
    from cs3103_gocrawler_spark.plans.generic_queries import (
        q_politeness_rank_dequeue,
    )

    assert_topk_once(_plan(q_politeness_rank_dequeue(spark, SF_DIR)), "l_suppkey")


def test_fused_fetch_single_python_stage(spark, tiny_web):
    """The round's fetch pipeline must cross JVM↔Python exactly once:
    one MapInPandas/ArrowEvalPython node, not a chain."""
    from cs3103_gocrawler_spark.operators.fetch import fetch_process
    from cs3103_gocrawler_spark.operators.matchers import conjunction

    _cfg, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    from cs3103_gocrawler_spark.operators.canonicalize import with_canonical

    frontier = with_canonical(
        pages.select(
            F.col("image_id").alias("url"),
            F.lit(0).cast("int").alias("priority"),
            F.lit(0).alias("depth"),
            F.lit("").alias("parent"),
        )
    )
    df = fetch_process(
        frontier, pages, matcher=conjunction(["html"]), validate=True
    )
    plan = _plan(df)
    n_python_stages = plan.count("MapInPandas") + plan.count("ArrowEvalPython")
    # one MapInPandas for the fused pass + one ArrowEvalPython for the
    # frontier canonicalization UDF upstream
    assert plan.count("MapInPandas") == 1, plan
    assert n_python_stages <= 2, plan


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="testdata missing")
def test_payload_columns_never_shuffle(spark, tiny_web):
    """body_html / image bytes must not appear above any Exchange in the
    fused fetch plan (payload discipline, SURVEY.md §4.2)."""
    from cs3103_gocrawler_spark.operators.canonicalize import with_canonical
    from cs3103_gocrawler_spark.operators.fetch import fetch_process
    from cs3103_gocrawler_spark.operators.matchers import conjunction

    _cfg, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    frontier = with_canonical(
        pages.select(
            F.col("image_id").alias("url"),
            F.lit(0).cast("int").alias("priority"),
            F.lit(0).alias("depth"),
            F.lit("").alias("parent"),
        )
    )
    df = fetch_process(
        frontier, pages, matcher=conjunction(["html"]), validate=True
    )
    # output schema carries no payload columns at all
    assert "body_html" not in df.columns
    assert "bytes" not in df.columns
    plan = _plan(df)
    # every Exchange in the plan must be below the pages scan or carry only
    # narrow columns: body_html may appear in scan/join nodes but never in an
    # Exchange's output attribute list
    for chunk in plan.split("Exchange")[1:]:
        header = chunk.splitlines()[0]
        assert "body_html" not in header, plan
        assert "bytes" not in header, plan


def test_phash_neardup_no_cross_join(spark, tiny_web):
    from cs3103_gocrawler_spark.operators.dedup import phash_neardup_pairs

    _cfg, web_dir = tiny_web
    pages = spark.read.parquet(f"{web_dir}/pages.parquet")
    plan = _plan(phash_neardup_pairs(pages))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ---------------------------------------------------------------------------
# plan-fingerprint regression gates (VERDICT r3 task 9): pin the normalized
# physical-plan shape of every headline query — a CollapseProject-style
# regression (the 29 s → 2.1 s minhash trap, dedup.py docstring) changes
# these counts long before anyone reruns the bench.
# ---------------------------------------------------------------------------

import re

_NODE_RE = re.compile(r"^[\s:+\-*()0-9]*([A-Z][A-Za-z]+)")
_FP_KEYS = (
    "Exchange", "ReusedExchange", "Sort", "SortMergeJoin", "BroadcastHashJoin",
    "ShuffledHashJoin", "CartesianProduct", "BroadcastNestedLoopJoin",
    "ArrowEvalPython", "MapInPandas", "FlatMapCoGroupsInPandas", "Window",
    "WindowGroupLimit", "RunningWindowFunction", "Generate", "HashAggregate",
    "ObjectHashAggregate", "SortAggregate",
)

# pinned at round 4; regenerate CONSCIOUSLY with scripts in the test body if
# a plan improvement changes a count (a silent increase in Exchange/Sort/
# Python-eval nodes is exactly what this gate exists to catch)
PLAN_FINGERPRINTS = {
    "broadcast_dim_join": {"BroadcastHashJoin": 1, "Exchange": 1, "HashAggregate": 2},
    "dedup_minhash_lsh": {"BroadcastHashJoin": 1, "Exchange": 2, "Generate": 4,
                          "HashAggregate": 6},
    "edge_explode_tokens": {"Exchange": 1, "Generate": 1, "HashAggregate": 2},
    "event_window_agg": {"Exchange": 1, "HashAggregate": 2},
    "host_aggregate": {"Exchange": 2, "ObjectHashAggregate": 4},
    # one rank window: Catalyst's Partial/Final WindowGroupLimit pair is the
    # skew guard
    "politeness_rank_dequeue": {"Exchange": 1, "Sort": 2, "Window": 1,
                                "WindowGroupLimit": 2},
    # pure narrow projection: NO shuffle, NO Python eval, NO aggregate —
    # the empty dict is the assertion
    "quality_scores": {},
    "window_topk_per_group": {"Exchange": 1, "Sort": 2, "Window": 1,
                              "WindowGroupLimit": 2},
    # T30: the 1 BroadcastHashJoin IS the assertion — the batch side
    # broadcasts into the corpus's banded index, never a corpus self-join
    "dedup_incremental": {"BroadcastHashJoin": 1, "Exchange": 2,
                          "Generate": 4, "HashAggregate": 6},
    # T31: Generate=1 pins the single corpus scan (df via window count over
    # the tf relation, not a groupBy+self-join that re-explodes the corpus)
    "tfidf_topk": {"BroadcastNestedLoopJoin": 1, "Exchange": 4, "Generate": 1,
                   "HashAggregate": 4, "Sort": 3, "Window": 2,
                   "WindowGroupLimit": 2},
    # T32: exactly one Sort/Window — the global rank runs on the bounded
    # per-key-count relation only, never the raw rows
    "host_skew_stats": {"BroadcastNestedLoopJoin": 1, "Exchange": 4,
                        "HashAggregate": 8, "Sort": 1, "Window": 1},
    # T36: band explode pushes through the 2-branch union (4 Generates =
    # 2 sides x 2 branches, each branch scanned once); gates are row-local
    # (no extra Exchange beyond the banded join + drop-list anti-join)
    "image_curation": {"BroadcastHashJoin": 2, "Exchange": 4, "Generate": 4,
                       "HashAggregate": 4, "Sort": 4, "SortMergeJoin": 2},
    # T38: the whole as-of is ONE shuffle + sort + carry-forward window over
    # the union — no join node at all (the join-free merge_asof shape)
    "asof_attribution": {"Exchange": 1, "Sort": 1, "Window": 1},
    # T39: bin-bucketed equi-join (broadcast at this SF) + residual range
    # filter, ONE interval explode — a CartesianProduct/BNLJ here is
    # exactly the regression this pin exists to catch
    "range_window_clicks": {"BroadcastHashJoin": 1, "Exchange": 1,
                            "Generate": 1, "HashAggregate": 2},
    # T40: lag-boundary + running-sum windows share one (user) sort, and the
    # (user, session_idx) rollup rides the user-hash partitioning (subset
    # key) — ONE exchange end-to-end
    "sessionize": {"Exchange": 1, "HashAggregate": 2, "Sort": 1, "Window": 2},
    # T42: pinned pivot VALUES → no distinct-values pre-job; Spark lowers
    # the multi-agg pivot to (user, type) partial agg + PivotFirst rollup —
    # two aggregate pairs, no join, no Python
    "event_type_pivot": {"Exchange": 2, "HashAggregate": 4},
}


def _plan_fingerprint(df) -> dict:
    counts = {}
    for line in _plan(df).splitlines():
        m = _NODE_RE.match(line)
        if m and m.group(1) in _FP_KEYS:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    return counts


@pytest.mark.parametrize("name", sorted(PLAN_FINGERPRINTS))
def test_headline_plan_fingerprint(spark, name):
    from cs3103_gocrawler_spark.plans.generic_queries import QUERIES

    fn, _sql = QUERIES[name]
    got = _plan_fingerprint(fn(spark, SF_DIR))
    assert got == PLAN_FINGERPRINTS[name], (
        f"{name}: physical plan shape drifted\n"
        f"  pinned: {PLAN_FINGERPRINTS[name]}\n  got:    {got}"
    )
