#!/usr/bin/env python
"""spark-submit entry point for the crawl engine (north_rule launch path).

Cluster launch (the shape the BASELINE protocol evidences at two sizes):

    python scripts/make_dist.py                       # builds dist/cs3103_gocrawler_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/cs3103_gocrawler_spark.zip \
        scripts/crawl_driver.py \
        --web-dir /data/web --state-dir /data/state \
        --max-depth 5 --budget-per-host 20 [--resume] [--validate]

In the sandbox the same command runs with ``--master local[8]`` and
``local[32]`` for the two-parallelism scaling evidence (BASELINE.md).
The driver prints one JSON line with per-round metrics and throughput.

Replaces the reference's example main()s (example/explorer/main.go:36-65):
config parse -> engine build -> seed fan-out -> round loop -> report.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--web-dir", required=True, help="synthetic web dir (pages/seeds parquet)")
    ap.add_argument("--state-dir", required=True, help="round-snapshot state dir")
    ap.add_argument("--gen-pages", type=int, default=0,
                    help="generate the synthetic web at this size if web-dir is missing")
    ap.add_argument("--gen-hosts", type=int, default=100)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--max-depth", type=int, default=3)
    ap.add_argument("--budget-per-host", type=float, default=None)
    ap.add_argument("--carryover", action="store_true",
                    help="fractional per-host token carryover (ST5)")
    ap.add_argument("--blacklist", default="", help="comma-separated hosts")
    ap.add_argument("--blacklist-www-variants", action="store_true",
                    help="SO3: also blacklist each host's www-variant")
    ap.add_argument("--blacklist-substrings", default="",
                    help="P8: comma-separated bidirectional host substrings (explorer)")
    ap.add_argument("--same-host", action="store_true",
                    help="P9: keep only same-host links (sitemapper)")
    ap.add_argument("--path-includes", default="",
                    help="P10: comma-separated path substrings to include (tianalyser)")
    ap.add_argument("--robots", action="store_true",
                    help="enforce <web-dir>/robots.parquet: disallow-prefix "
                         "gating + per-host crawl_delay_ms politeness caps")
    ap.add_argument("--round-target-ms", type=int, default=1000,
                    help="round time target for crawl_delay caps "
                         "(take = max(1, target // delay))")
    ap.add_argument("--validate", action="store_true", help="inline payload validation (X5)")
    ap.add_argument("--resume", action="store_true", help="resume from last committed round")
    ap.add_argument("--report", default=None, help="write the JSON crawl report here (S7)")
    args = ap.parse_args()

    from cs3103_gocrawler_spark.streaming.rounds import (
        PHASE_KEYS,
        CrawlConfig,
        CrawlEngine,
    )

    # validate the config before a JVM starts: a bad budget is a usage error
    budget = args.budget_per_host
    if budget is not None and budget.is_integer():
        budget = int(budget)
    try:
        cfg = CrawlConfig(
            max_depth=args.max_depth,
            budget_per_host=budget,
            politeness_carryover=args.carryover,
            blacklist_hosts=tuple(h for h in args.blacklist.split(",") if h),
            blacklist_www_variants=args.blacklist_www_variants,
            blacklist_substrings=tuple(s for s in args.blacklist_substrings.split(",") if s),
            scope_same_host=args.same_host,
            scope_path_includes=tuple(p for p in args.path_includes.split(",") if p),
            validate=args.validate,
            gen_seed=args.seed,
            round_target_ms=args.round_target_ms,
        )
    except (TypeError, ValueError) as e:
        ap.error(str(e))

    from pyspark.sql import functions as F  # noqa: N812

    from cs3103_gocrawler_spark.session import build_session

    # the engine's session confs; spark-submit's --master and --conf take
    # precedence, and a bare run falls back to $SPARK_MASTER or local[*]
    spark = build_session(app_name="gocrawler-spark")

    from cs3103_gocrawler_spark.synthetic.webgen import WebConfig, generate_spark

    if args.gen_pages and not os.path.exists(
        os.path.join(args.web_dir, "pages.parquet", "_SUCCESS")
    ):
        generate_spark(
            spark,
            WebConfig(seed=args.seed, n_hosts=args.gen_hosts, n_pages=args.gen_pages),
            args.web_dir,
        )

    pages = spark.read.parquet(f"{args.web_dir}/pages.parquet")
    seeds = spark.read.parquet(f"{args.web_dir}/seeds.parquet").select(
        "url", F.col("priority").cast("int").alias("priority")
    )
    robots_df = (
        spark.read.parquet(f"{args.web_dir}/robots.parquet") if args.robots else None
    )
    eng = CrawlEngine(spark, pages, cfg, args.state_dir, robots=robots_df)
    t0 = time.monotonic()
    if not args.resume:
        eng.init_frontier(seeds)
    hist = eng.run(resume=args.resume)
    wall = time.monotonic() - t0

    if args.report:
        from cs3103_gocrawler_spark.plans.report import write_report

        write_report(eng, args.report, wall_sec=wall, config=vars(args))

    dequeued = sum(h.get("dequeued", 0) for h in hist)
    print(json.dumps({
        "rounds": len(hist),
        "urls_dequeued": dequeued,
        "urls_fetched_ok": sum(h.get("fetched_ok", 0) for h in hist),
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(dequeued / wall, 1) if wall else None,
        "parallelism": spark.sparkContext.defaultParallelism,
        # per-phase seconds summed over this run's rounds
        "phase_s": {
            k: round(sum(h.get("timings", {}).get(k, 0.0) for h in hist), 3)
            for k in PHASE_KEYS
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
