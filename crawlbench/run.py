#!/usr/bin/env python3
"""Crawl benchmark: timed crawls of one workload, checked against the oracle.

    python3 crawlbench/run.py --workload wide-bfs --seed 1 --seconds 15 --trace 0

Run from the root of the repository. The run generates the workload's
synthetic web from ``--seed`` (cached per seed under ``.crawlbench/``)
while it starts a host-sized Spark session, then repeats whole crawls
through the engine's public API (``CrawlEngine.init_frontier`` / ``run``)
until ``--seconds`` of crawl time are measured. Every crawl runs in a
fresh state dir and is checked against the sequential oracle outside its
timed window.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones below; with ``--trace 1`` the run is a
separate traced run that reports the per-layer metrics of ``tracing.py``.
The line before it is a JSON object with the details (per-crawl figures,
sample counts, the effective Spark conf).

End-to-end metrics (each a median over the run unless stated):
  crawl_urls_per_s     URLs dequeued ÷ wall time from init_frontier to the
                       return of run(), both legs
  round_p50_s          median time from one round commit to the next
  discovery_lag_p50_s  commit time of the round that fetched a non-seed URL
  discovery_lag_p99_s    minus that of the round that fetched its parent;
                         percentiles per crawl, then the median over crawls
  recovery_s           fresh CrawlEngine on an interrupted state dir → the
                       commit of its first round
  setup_s              median of three set-up passes, each writing and
                       registering the bucketed pages table and pulling it
                       through the page cache (an untimed two-round
                       warm-up crawl with a resume follows them)
  state_mb             on-disk size of the crawl's state dir at the end
  crawl_ok_ratio       crawls that neither raised nor failed the oracle gate
                       ÷ crawls attempted
  task_ok_ratio        Spark task attempts that did not fail ÷ attempts
                       (statusTracker, one job group per crawl)
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".crawlbench")
PACKAGE = "cs3103_gocrawler_spark"

SETUP_PASSES = 3
# a run stops starting crawls past this much wall time, so that it ends
# well inside its 180 s limit even when the host is slow
WALL_CAP_S = 60.0

END_TO_END = {
    "crawl_urls_per_s": "URLs/s",
    "round_p50_s": "s",
    "discovery_lag_p50_s": "s",
    "discovery_lag_p99_s": "s",
    "recovery_s": "s",
    "setup_s": "s",
    "state_mb": "MB",
    "crawl_ok_ratio": "ratio",
    "task_ok_ratio": "ratio",
}


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def driver_memory() -> str:
    """A quarter of MemAvailable, at most 4 GB: the JVM heap plus the
    Python workers of local[n] must stay well below what the host has."""
    return f"{max(1, min(4, mem_available_bytes() // (4 << 30)))}g"


def isolate_env(run_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine from it."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_session(run_dir: str, cores: int, event_log_dir: str | None = None):
    from cs3103_gocrawler_spark.session import build_session

    conf = {
        "spark.driver.memory": driver_memory(),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return build_session(
        app_name=f"crawlbench[{cores}]", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
            raise


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def prefetch(path: str) -> None:
    """Pull a table's files through the OS page cache."""
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                while fh.read(1 << 22):
                    pass


@dataclass
class Ctx:
    """Everything one run's crawls share."""

    spark: object
    workload: object
    seed: int
    web_cfg: object
    web_dir: str
    run_dir: str
    seeds: list
    oracle: dict
    cap: object
    pages: object = None
    pages_table: str = ""
    seeds_df: object = None
    robots_df: object = None
    n_crawls: int = 0

    def crawl_config(self, **overrides):
        from crawlbench.workloads import crawl_config

        return crawl_config(self.workload, self.seed, **overrides)

    def fresh_state(self, tag: str) -> str:
        self.n_crawls += 1
        d = os.path.join(self.run_dir, "state", f"{self.n_crawls:03d}-{tag}")
        shutil.rmtree(d, ignore_errors=True)
        return d


def ensure_web(w, seed: int):
    """Generate the workload's web for this seed, or reuse the cached one.
    Returns (web_dir, generate_s, cache_hit); generate_s is the time the
    generation took when it ran, read back from the cache on a hit.

    The web is written by ``write_parquet_tables``, the generator's pandas
    path (the same rows as ``generate_spark``). It needs no session, so the
    run generates the web while the JVM starts."""
    import dataclasses
    import hashlib

    from cs3103_gocrawler_spark.synthetic.webgen import (
        WEBGEN_VERSION,
        write_parquet_tables,
    )

    from crawlbench.workloads import web_config

    cfg = web_config(w, seed)
    digest = hashlib.sha1(
        json.dumps(dataclasses.asdict(cfg), sort_keys=True).encode()
    ).hexdigest()[:10]
    d = os.path.join(WORK, "webs", f"{w.name}-s{seed}-v{WEBGEN_VERSION}-{digest}")
    meta = os.path.join(d, "meta.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return d, json.load(f)["generate_s"], True
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.monotonic()
    write_parquet_tables(cfg, d)
    gen_s = time.monotonic() - t0
    with open(meta, "w") as f:
        json.dump({"generate_s": gen_s}, f)
    return d, gen_s, False


def make_ctx(spark, w, seed: int, run_dir: str, web_dir: str) -> Ctx:
    import pandas as pd

    from crawlbench import gate
    from crawlbench.workloads import crawl_config, seed_urls, web_config

    web_cfg = web_config(w, seed)
    seeds = seed_urls(w, web_cfg)
    cfg = crawl_config(w, seed)
    oracle = gate.oracle_record(
        web_cfg, cfg, seeds, web_dir, w.robots, os.path.join(WORK, "oracle")
    )
    ctx = Ctx(
        spark=spark, workload=w, seed=seed, web_cfg=web_cfg, web_dir=web_dir,
        run_dir=run_dir, seeds=seeds, oracle=oracle,
        cap=gate.host_cap(cfg, oracle["delays"]),
    )
    ctx.seeds_df = spark.createDataFrame(
        pd.DataFrame({
            "url": [u for u, _ in seeds],
            "priority": pd.Series([p for _, p in seeds], dtype="int32"),
        })
    )
    if w.robots:
        ctx.robots_df = spark.read.parquet(f"{web_dir}/robots.parquet")
    return ctx


def setup_pass(ctx: Ctx, i: int) -> float:
    """One set-up pass: write and register the bucketed pages table afresh
    and pull it through the page cache. Returns seconds."""
    from cs3103_gocrawler_spark.storage import register_bucketed_pages

    spark = ctx.spark
    t0 = time.monotonic()
    name = f"pages_p{i}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
    tbl = register_bucketed_pages(
        spark, f"{ctx.web_dir}/pages.parquet", table_name=name,
        n_buckets=n_cores(),
    )
    prefetch(os.path.join(warehouse, tbl))
    dt = time.monotonic() - t0
    if ctx.pages is not None:
        spark.sql(f"DROP TABLE IF EXISTS {ctx.pages_table}")
    ctx.pages, ctx.pages_table = spark.table(tbl), tbl
    return dt


def warm_up(ctx: Ctx) -> float:
    """One untimed crawl from 10 seeds: a round, then a fresh engine that
    resumes for a second one, so that the timed crawls find the code of a
    round and of a resume compiled and the Python workers started. Returns
    seconds."""
    from cs3103_gocrawler_spark.streaming.rounds import CrawlEngine

    t0 = time.monotonic()
    state = ctx.fresh_state("warmup")
    for rounds in (1, 2):
        eng = CrawlEngine(
            ctx.spark, ctx.pages, ctx.crawl_config(max_rounds=rounds), state,
            robots=ctx.robots_df,
        )
        if rounds == 1:
            eng.init_frontier(ctx.seeds_df.limit(10))
        eng.run(resume=rounds > 1)
    shutil.rmtree(state, ignore_errors=True)
    return time.monotonic() - t0


@dataclass
class Crawl:
    """One crawl's measurements."""

    wall_s: float
    dequeued: int
    history: list
    state_dir: str
    # (engine index, round_id, monotonic time) per manifest commit
    commits: list = field(default_factory=list)
    recovery_s: float | None = None
    t0: float = 0.0

    @property
    def urls_per_s(self) -> float:
        return self.dequeued / self.wall_s

    def round_times(self) -> list[float]:
        out = []
        for (e0, _, t0), (e1, _, t1) in zip(self.commits, self.commits[1:]):
            if e0 == e1:
                out.append(t1 - t0)
        return out

    def commit_time(self) -> dict[int, float]:
        return {r: t for _, r, t in self.commits}


def engine(ctx: Ctx, state_dir: str, crawl: Crawl, idx: int, **overrides):
    """A CrawlEngine whose catalog records the time of every commit."""
    from cs3103_gocrawler_spark.streaming.rounds import CrawlEngine

    eng = CrawlEngine(
        ctx.spark, ctx.pages, ctx.crawl_config(**overrides), state_dir,
        robots=ctx.robots_df,
    )
    commit = eng.cat.commit_round

    def timed_commit(round_id, extra=None):
        commit(round_id, extra)
        crawl.commits.append((idx, round_id, time.monotonic()))

    eng.cat.commit_round = timed_commit
    return eng


def run_crawl(ctx: Ctx, state_dir: str, **overrides) -> tuple[Crawl, object]:
    """One crawl of the workload from init_frontier to the return of run():
    leg 1 stops after the workload's leg-1 rounds, then a fresh engine on
    the same state dir finishes it with run(resume=True)."""
    w = ctx.workload
    c = Crawl(wall_s=0.0, dequeued=0, history=[], state_dir=state_dir)
    c.t0 = t0 = time.monotonic()
    leg1 = engine(ctx, state_dir, c, 0, **{**overrides, "max_rounds": w.leg1_rounds})
    leg1.init_frontier(ctx.seeds_df)
    c.history = leg1.run()
    t_new = time.monotonic()
    eng = engine(ctx, state_dir, c, 1, **overrides)
    c.history += eng.run(resume=True)
    c.recovery_s = next(t for e, _, t in c.commits if e == 1) - t_new
    c.wall_s = time.monotonic() - t0
    c.dequeued = sum(h.get("dequeued", 0) for h in c.history)
    return c, eng


def gate_crawl(ctx: Ctx, eng):
    """(problems, fetched pandas frame) of a finished crawl."""
    from cs3103_gocrawler_spark.plans.report import crawl_order

    from crawlbench import gate

    fetched = eng.cat.read_all("fetched").select(*gate.FETCHED_COLS).toPandas()
    order = crawl_order(eng.visited_df()).select("host", "seq", "url").toPandas()
    return gate.check(fetched, order, ctx.oracle, ctx.cap), fetched


def discovery_lags(crawl: Crawl, fetched) -> list[float]:
    ok = fetched[fetched["outcome"] == "ok"]
    round_of = dict(zip(ok["url"], ok["round_id"]))
    at = crawl.commit_time()
    return [
        at[r] - at[round_of[p]]
        for r, p in zip(ok["round_id"], ok["parent"])
        if p and p in round_of
    ]


def task_counts(sc, group: str) -> tuple[int, int]:
    """(task attempts, failed task attempts) of a job group."""
    st = sc.statusTracker()
    attempts = failed = 0
    for job in st.getJobIdsForGroup(group):
        info = st.getJobInfo(job)
        for sid in info.stageIds if info else ():
            s = st.getStageInfo(sid)
            if s is not None:
                attempts += s.numCompletedTasks + s.numFailedTasks
                failed += s.numFailedTasks
    return attempts, failed


def p99(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=100)[98]


def timed_runs(ctx: Ctx, seconds: float, t_start: float) -> dict:
    """Crawl until ``seconds`` of crawl time are measured, gating each one."""
    sc = ctx.spark.sparkContext
    crawls, lags, failures, details = [], [], [], []
    tasks = [0, 0]
    measured = 0.0
    while not details or (
        measured < seconds and time.monotonic() - t_start < WALL_CAP_S
    ):
        i = len(details)
        group = f"crawl-{i}"
        sc.setJobGroup(group, f"timed crawl {i}")
        d = {"crawl": i}
        try:
            c, eng = run_crawl(ctx, ctx.fresh_state("timed"))
            sc.setJobGroup(f"gate-{i}", f"oracle gate {i}")
            problems, fetched = gate_crawl(ctx, eng)
            d.update(
                wall_s=c.wall_s, dequeued=c.dequeued, rounds=len(c.round_times()),
                state_bytes=dir_bytes(c.state_dir), recovery_s=c.recovery_s,
                problems=problems,
            )
            measured += c.wall_s
            if problems:
                failures.append(problems)
            else:
                crawls.append(c)
                lags.append(discovery_lags(c, fetched))
            shutil.rmtree(c.state_dir, ignore_errors=True)
        except Exception:
            traceback.print_exc()
            failures.append(["raised"])
            d["problems"] = ["raised"]
        a, f = task_counts(sc, group)
        tasks[0] += a
        tasks[1] += f
        details.append(d)
    sc.setJobGroup("bench", "benchmark bookkeeping")
    return {
        "crawls": crawls, "lags": lags, "failures": failures,
        "details": details, "tasks": tasks,
    }


def end_to_end(ctx: Ctx, res: dict, setup_s: list[float]) -> dict:
    crawls = res["crawls"]
    if not crawls:
        return {}
    n = len(res["details"])
    attempts, failed = res["tasks"]
    vals = {
        "crawl_urls_per_s": statistics.median(c.urls_per_s for c in crawls),
        "round_p50_s": statistics.median(t for c in crawls for t in c.round_times()),
        # per crawl, then the median over crawls
        "discovery_lag_p50_s": statistics.median(map(statistics.median, res["lags"])),
        "discovery_lag_p99_s": statistics.median(map(p99, res["lags"])),
        "recovery_s": statistics.median(c.recovery_s for c in crawls),
        "setup_s": statistics.median(setup_s),
        "state_mb": statistics.median(
            d["state_bytes"] for d in res["details"] if not d.get("problems")
        ) / 1e6,
        "crawl_ok_ratio": (n - len(res["failures"])) / n,
        "task_ok_ratio": (attempts - failed) / attempts if attempts else 1.0,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def parse_args(argv):
    from crawlbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="tiny webs, for the benchmark's self-tests")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.monotonic()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}: run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args = parse_args(argv)

    from crawlbench.workloads import WORKLOADS, toy

    w = WORKLOADS[args.workload]
    if args.toy:
        w = toy(w)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate_env(run_dir)
    cores = n_cores()
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    # the web is generated in a thread while the JVM starts
    with ThreadPoolExecutor(1) as pool:
        web = pool.submit(ensure_web, w, args.seed)
        spark = start_session(run_dir, cores, event_log)
        session_s = time.monotonic() - t_start
        try:
            web_dir, gen_s, hit = web.result()
        except BaseException:
            stop_jvm(spark)
            raise
    try:
        ctx = make_ctx(spark, w, args.seed, run_dir, web_dir)
        # a traced run reports no setup_s: one pass registers the table
        setup_s = [setup_pass(ctx, i) for i in range(1 if args.trace else SETUP_PASSES)]
        warm_up_s = warm_up(ctx)
        detail = {
            "workload": w.name, "seed": args.seed, "cores": cores,
            "session_start_s": session_s, "setup_passes_s": setup_s,
            "warm_up_s": warm_up_s,
            "oracle_visited": ctx.oracle["n_visited"], "seeds": len(ctx.seeds),
            "generate_s": gen_s, "web_cache_hit": hit,
            "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        }
        if args.trace:
            from crawlbench import tracing

            result = tracing.traced_run(ctx, detail, event_log, start_session)
            spark = ctx.spark
        else:
            res = timed_runs(ctx, args.seconds, t_start)
            metrics = end_to_end(ctx, res, setup_s)
            detail.update(
                crawls=res["details"], discovery_lag_samples=[len(x) for x in res["lags"]],
                task_attempts=res["tasks"][0], task_failures=res["tasks"][1],
            )
            result = {
                "correct": not res["failures"] and bool(metrics),
                "attempted": len(res["details"]),
                "failed": len(res["failures"]),
                "metrics": metrics,
            }
    finally:
        stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
