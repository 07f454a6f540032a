"""Traced run: per-layer metrics of one workload.

Three sources, combined after the crawls:

* spans around the engine's layer calls, kept in memory. ``rounds.py``
  binds ``dequeue``, ``fetch_process``, ``build_round_state``,
  ``build_bloom_distributed``, ``filter_unseen`` and ``with_canonical`` with
  ``from … import``, so those names are wrapped in the ``streaming.rounds``
  namespace; ``RoundCatalog`` methods are wrapped on the class. A span that
  can run Spark jobs also tags them with its name as the job description.
* Spark's event log (uncompressed, not rolled): task metrics, and the SQL
  metrics of every plan version, including the ones AQE re-issues.
* noop-sink replays of the lazy operators (``dequeue``, ``filter_unseen``)
  over the traced crawl's persisted state, since a span around a call that
  only builds a plan cannot see its busy time.

The run also crawls leg 1 of the workload untraced (the tracing-overhead
reference) and runs the first round at ``local[n]`` and ``local[1]``
(scaling efficiency).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import time
from collections import defaultdict

# rounds of the scaling comparison, within leg 1 of every workload
SCALING_ROUNDS = 1
# dequeue and filter_unseen are replayed over this many last rounds
REPLAY_ROUNDS = 1

# name, unit, better, (end-to-end metric @ workload it should move)
PER_LAYER = [
    ("rounds.count", "count", "lower", "round_p50_s, crawl_urls_per_s @ polite-deep"),
    ("rounds.spark_jobs_per_round", "count", "lower", "round_p50_s, crawl_urls_per_s @ polite-deep"),
    ("rounds.driver_s_per_round", "s", "lower", "round_p50_s @ polite-deep"),
    ("rounds.task_skew", "ratio", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("rounds.gc_s", "s", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("rounds.spill_bytes", "bytes", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("rounds.peak_exec_memory_mb", "MB", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("rounds.scaling_eff_1_to_n", "ratio", "higher", "crawl_urls_per_s @ wide-bfs (informational)"),
    ("storage.write_s.fetched", "s", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("storage.write_s.frontier", "s", "lower", "crawl_urls_per_s @ wide-bfs; round_p50_s @ polite-deep"),
    ("storage.write_s.bloom_segments", "s", "lower", "crawl_urls_per_s, round_p50_s @ polite-deep"),
    ("storage.bytes.fetched", "bytes", "lower", "state_mb @ all"),
    ("storage.bytes.frontier", "bytes", "lower", "state_mb @ all"),
    ("storage.bytes.bloom_segments", "bytes", "lower", "state_mb, crawl_urls_per_s @ polite-deep"),
    ("storage.files_per_round", "count", "lower", "state_mb @ all; round_p50_s @ polite-deep"),
    ("storage.metadata_s", "s", "lower", "round_p50_s @ polite-deep"),
    ("storage.recovery_s", "s", "lower", "recovery_s @ all"),
    ("politeness.pending_rows", "count", "lower", "counts only (deterministic)"),
    ("politeness.deferred_rows", "count", "lower", "counts only (deterministic)"),
    ("politeness.dequeue_s", "s", "lower", "round_p50_s, discovery_lag_p99_s @ polite-deep; ~0 @ wide-bfs"),
    ("politeness.shuffle_bytes", "bytes", "lower", "round_p50_s @ polite-deep; 0 @ wide-bfs"),
    ("fetch.rows", "count", "higher", "counts only"),
    ("fetch.ok_ratio", "ratio", "higher", "counts only"),
    ("fetch.links_per_ok", "count", "higher", "counts only"),
    ("fetch.python_s", "s", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("fetch.python_bytes_sent", "bytes", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("fetch.python_bytes_returned", "bytes", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("fetch.python_start_s", "s", "lower", "round_p50_s @ polite-deep"),
    ("fetch.join_shuffle_bytes", "bytes", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("validate.valid_ratio", "ratio", "higher", "must be 1.0"),
    ("canonicalize.rows", "count", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("canonicalize.python_s", "s", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("seen.build_s", "s", "lower", "round_p50_s @ polite-deep; crawl_urls_per_s @ wide-bfs"),
    ("seen.build_python_s", "s", "lower", "round_p50_s @ polite-deep; crawl_urls_per_s @ wide-bfs"),
    ("seen.filter_unseen_s", "s", "lower", "crawl_urls_per_s @ wide-bfs and polite-deep"),
    ("seen.candidates", "count", "lower", "crawl_urls_per_s @ wide-bfs and polite-deep"),
    ("seen.bloom_new_ratio", "ratio", "higher", "crawl_urls_per_s @ wide-bfs and polite-deep"),
    ("seen.bloom_fp", "count", "lower", "crawl_urls_per_s @ wide-bfs"),
    ("seen.antijoin_shuffle_bytes", "bytes", "lower", "crawl_urls_per_s @ wide-bfs and polite-deep"),
    ("seen.probe_python_s", "s", "lower", "crawl_urls_per_s @ wide-bfs and polite-deep"),
    ("webgen.generate_s", "s", "lower", "run wall time on a web-cache miss (it overlaps the JVM start)"),
    ("trace.slowdown", "ratio", "lower", "untraced ÷ traced URLs/s over leg 1 (tracing overhead)"),
]

ROUNDS_NAMES = {
    "dequeue": "politeness.dequeue",
    "fetch_process": "fetch.fetch_process",
    "build_round_state": "seen.build_round_state",
    "build_bloom_distributed": "seen.build_bloom_distributed",
    "filter_unseen": "seen.filter_unseen",
    "with_canonical": "canonicalize.with_canonical",
}
# spans whose calls run Spark jobs; their name becomes the job description
JOB_SPANS = {"seen.build_round_state", "seen.build_bloom_distributed"}
CATALOG_METHODS = (
    "write", "write_empty", "read", "read_all", "exists", "count",
    "column_min", "manifest", "commit_round", "drop_rounds_after",
)
METADATA_SPANS = {
    "storage.count", "storage.column_min", "storage.manifest", "storage.commit_round",
}
RECOVERY_SPANS = {"storage.manifest", "storage.drop_rounds_after", "storage.read_all"}


class Tracer:
    """Spans (name, start, end, parent, run id) around the engine's layer
    calls, recorded in memory. ``install`` wraps the calls; ``uninstall``
    restores them."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, tag_jobs: bool = False):
        rec = {
            "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = self.sc.getLocalProperty("spark.job.description") if tag_jobs else None
        if tag_jobs:
            self.sc.setJobDescription(name)
        try:
            yield
        finally:
            if tag_jobs:
                self.sc.setJobDescription(prev)
            self._stack.pop()
            rec["end"] = time.time()

    def _wrap(self, owner, attr: str, name_of) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            name, tag = name_of(args, kwargs)
            with tracer.span(name, tag):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        from cs3103_gocrawler_spark.storage import RoundCatalog
        from cs3103_gocrawler_spark.streaming import rounds

        for fn, name in ROUNDS_NAMES.items():
            self._wrap(rounds, fn, lambda a, k, n=name: (n, n in JOB_SPANS))
        for m in CATALOG_METHODS:
            if m in ("write", "write_empty"):
                # write(self, df, kind, round_id) / write_empty(self, kind, ...)
                pos = 2 if m == "write" else 1
                self._wrap(RoundCatalog, m, lambda a, k, m=m, p=pos: (
                    f"storage.{m}.{a[p] if len(a) > p else k['kind']}", True))
            else:
                self._wrap(RoundCatalog, m, lambda a, k, m=m: (f"storage.{m}", False))
        self._wrap(rounds.CrawlEngine, "_run_round", lambda a, k: ("rounds.round", False))
        self._wrap(rounds.CrawlEngine, "run", lambda a, k: (
            "rounds.run.resume" if k.get("resume") or (len(a) > 1 and a[1]) else "rounds.run",
            False))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------------- event log
class EventLog:
    """The parts of a Spark event log the per-layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.acc: dict[int, float] = defaultdict(float)
        self.plans: dict[int, list] = defaultdict(list)
        self.exec_desc: dict[int, str] = {}
        self.exec_group: dict[int, str | None] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": int(props["spark.sql.execution.id"])
                if props.get("spark.sql.execution.id") else None,
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in e["Stage IDs"]:
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "peak": m.get("Peak Execution Memory", 0),
            })
            for a in info.get("Accumulables", ()):
                if a.get("Metadata") == "sql" and "Update" in a:
                    self.acc[a["ID"]] += float(a["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                self.acc[aid] += float(v)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            x = e["executionId"]
            self.exec_desc[x] = e.get("description") or ""
            self.exec_group[x] = e.get("jobGroupId")
            self.plans[x].append(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]].append(e["sparkPlanInfo"])

    def executions(self, desc_prefix: str, group: str | None = None) -> list[int]:
        return [
            x for x, d in self.exec_desc.items()
            if d.startswith(desc_prefix) and (group is None or self.exec_group[x] == group)
        ]

    def sql_metric(self, execs, node_pred, metric: str) -> float:
        """Sum of one SQL metric over the nodes matching ``node_pred`` in every
        plan version of ``execs``; timings in seconds, sizes in bytes."""
        ids: dict[int, str] = {}
        for x in execs:
            for plan in self.plans[x]:
                for node in _walk(plan):
                    if node_pred(node):
                        for m in node.get("metrics", ()):
                            if m["name"] == metric:
                                ids[m["accumulatorId"]] = m["metricType"]
        scale = {"timing": 1e-3, "nsTiming": 1e-9}
        return sum(self.acc.get(i, 0.0) * scale.get(t, 1.0) for i, t in ids.items())

    def join_input_exchange_bytes(self, execs, join_pred) -> float:
        """Shuffle bytes written by the exchanges that feed a join: the first
        Exchange on each path down from the join's children."""
        ids = set()
        for x in execs:
            for plan in self.plans[x]:
                for node in _walk(plan):
                    if "Join" in node["nodeName"] and join_pred(node):
                        for child in node.get("children", ()):
                            ids |= _first_exchange_ids(child)
        return sum(self.acc.get(i, 0.0) for i in ids)

    def group_jobs(self, group: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] == group]

    def group_tasks(self, group: str) -> list[dict]:
        return [
            t for t in self.tasks
            if self.jobs.get(self.stage_job.get(t["stage"]), {}).get("group") == group
        ]


def _walk(plan):
    yield plan
    for c in plan.get("children", ()):
        yield from _walk(c)


def _first_exchange_ids(node) -> set:
    if node["nodeName"] == "Exchange":
        return {
            m["accumulatorId"] for m in node.get("metrics", ())
            if m["name"] == "shuffle bytes written"
        }
    if "Join" in node["nodeName"] or node["nodeName"] == "BroadcastExchange":
        return set()
    out = set()
    for c in node.get("children", ()):
        out |= _first_exchange_ids(c)
    return out


def _udf_node(*names):
    py_nodes = ("MapInPandas", "ArrowEvalPython", "FlatMapCoGroupsInPandas")

    def pred(node):
        return node["nodeName"] in py_nodes and any(
            f"{n}(" in node.get("simpleString", "") for n in names
        )

    return pred


# ------------------------------------------------------------------ spans
def _union_len(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def span_total(spans, names) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] in names)


def driver_s_per_round(spans, jobs) -> float:
    """Round span time during which no Spark job ran: planning, footer reads,
    commits and Python-side bookkeeping on the driver."""
    rounds = [s for s in spans if s["name"] == "rounds.round"]
    busy = [(j["start"], j["end"]) for j in jobs if j["end"] is not None]
    out = []
    for r in rounds:
        inside = [
            (max(a, r["start"]), min(b, r["end"])) for a, b in busy
            if b > r["start"] and a < r["end"]
        ]
        out.append((r["end"] - r["start"]) - _union_len(inside))
    return statistics.mean(out) if out else 0.0


def recovery_storage_s(spans) -> float:
    """Storage spans of a resumed run() before its first round."""
    total = 0.0
    for s in spans:
        if s["name"] != "rounds.run.resume":
            continue
        first_round = min(
            (c["start"] for c in spans if c["name"] == "rounds.round"
             and s["start"] <= c["start"] <= s["end"]),
            default=s["end"],
        )
        total += sum(
            c["end"] - c["start"] for c in spans
            if c["name"] in RECOVERY_SPANS and s["start"] <= c["start"] < first_round
        )
    return total


# ---------------------------------------------------------------- replays
def _noop(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def replay_dequeue(eng, rounds: list[int]) -> float:
    """Net dequeue time: the two dequeue outputs written to a noop sink, minus
    a plain scan of the same frontier snapshot."""
    from cs3103_gocrawler_spark.operators.politeness import dequeue

    sc, cfg, total = eng.spark.sparkContext, eng.cfg, 0.0
    for r in rounds:
        pending = eng.cat.read("frontier", r)
        sc.setJobDescription(f"replay.scan.r{r}")
        scan = _noop(pending)
        # the engine's own per-round take composition (budget, robots caps)
        takes, _, budget = eng._host_takes(r, pending)
        dq, deferred = dequeue(pending, budget, cfg.salt_buckets, host_takes=takes)
        sc.setJobDescription(f"replay.dequeue.r{r}")
        total += _noop(dq) + _noop(deferred) - scan
    sc.setJobDescription(None)
    return total


def replay_filter_unseen(eng, rounds: list[int]) -> dict:
    """filter_unseen over each round's children, rebuilt from the fetched
    table the way the round built them, against the seen set and bloom
    state as of that round."""
    from pyspark.sql import functions as F  # noqa: N812

    from cs3103_gocrawler_spark.operators.canonicalize import with_canonical
    from cs3103_gocrawler_spark.operators.seen import (
        Bloom,
        build_bloom_distributed,
        filter_unseen,
    )

    sc, cfg = eng.spark.sparkContext, eng.cfg
    out = {"s": 0.0, "candidates": 0, "unseen": 0, "survivors": 0}
    cap = cfg.max_depth - 1
    for r in rounds:
        ok = eng.cat.read("fetched", r).filter(
            (F.col("outcome") == "ok") & (F.col("depth") + 1 <= cap)
        )
        children = eng._robots_gate(with_canonical(ok.select(
            F.col("url").alias("parent"), F.explode("links").alias("url"),
            (F.col("depth") + 1).alias("depth"), "priority",
        ))).persist()
        sc.setJobDescription(f"replay.children.r{r}")
        n = children.count()
        if n == 0:
            children.unpersist()
            continue
        bloom = Bloom(cfg.bloom_capacity, cfg.bloom_fpr, n_segments=cfg.bloom_segments)
        segments = None
        if eng.bloom_mode == "partitioned":
            segments = eng.cat.read_all("bloom_segments", up_to_round=r)
        else:
            sc.setJobDescription(f"replay.bloom.r{r}")
            build_bloom_distributed(eng.fetched_df(up_to_round=r).select("url_sha1"), bloom)
        unseen, survivors = filter_unseen(
            eng.spark, children, eng.seen_urls(up_to_round=r), bloom,
            segments=segments, probe_salt=cfg.bloom_probe_salt,
        )
        sc.setJobDescription(f"replay.filter_unseen.r{r}")
        out["s"] += _noop(unseen)
        sc.setJobDescription(f"replay.counts.r{r}")
        out["candidates"] += n
        out["unseen"] += unseen.count()
        out["survivors"] += survivors.count()
        children.unpersist()
    sc.setJobDescription(None)
    return out


# ------------------------------------------------------------------ the run
def traced_run(ctx, detail: dict, event_log_dir: str, start_session) -> dict:
    from pyspark.sql import functions as F  # noqa: N812

    from crawlbench import run as bench

    spark, sc = ctx.spark, ctx.spark.sparkContext
    problems = []

    leg1 = ctx.workload.leg1_rounds

    phases = {}
    tracer = Tracer(spark, f"{ctx.workload.name}-s{ctx.seed}-{os.getpid()}")
    tracer.install()
    try:
        t = time.monotonic()
        sc.setJobGroup("traced", "traced")
        traced, eng = bench.run_crawl(ctx, ctx.fresh_state("traced"), instrument_bloom=True)
        phases["traced"] = time.monotonic() - t
    finally:
        tracer.uninstall()
    sc.setJobGroup("traced-gate", "oracle gate")
    problems.extend(f"traced: {x}" for x in bench.gate_crawl(ctx, eng)[0])
    # the untraced reference runs second: the first full-size crawl of a
    # process is the slower one, so the overhead is never understated
    t = time.monotonic()
    sc.setJobGroup("untraced", "untraced")
    untraced = first_rounds_crawl(ctx, leg1)
    phases["untraced"] = time.monotonic() - t

    sc.setJobGroup("replay", "replays")
    frontier_rounds = sorted(
        int(d[1:]) for d in os.listdir(os.path.join(traced.state_dir, "frontier"))
        if d.startswith("r")
    )
    fetched_rounds = [h["round_id"] for h in traced.history if h.get("dequeued")]
    t = time.monotonic()
    dequeue_s = replay_dequeue(eng, frontier_rounds[:-1][-REPLAY_ROUNDS:])
    phases["replay_dequeue"] = time.monotonic() - t
    unseen = replay_filter_unseen(eng, fetched_rounds[-REPLAY_ROUNDS:])
    phases["replay_filter_unseen"] = time.monotonic() - t - phases["replay_dequeue"]
    ok = eng.cat.read_all("fetched").filter(F.col("outcome") == "ok")
    agg = ok.agg(
        F.count("*").alias("n"),
        F.sum(F.col("valid").cast("int")).alias("valid"),
        F.avg(F.size("links")).alias("links"),
    ).first()
    state_bytes = {
        k: bench.dir_bytes(os.path.join(traced.state_dir, k))
        for k in ("fetched", "frontier", "bloom_segments")
    }
    n_files = sum(len(f) for _, _, f in os.walk(traced.state_dir))

    spark.stop()
    t = time.monotonic()
    log = EventLog(glob.glob(os.path.join(event_log_dir, "*"))[0])
    phases["event_log"] = time.monotonic() - t

    # local[n] (the untraced crawl's first round) vs the same round at
    # local[1] in a new session (informational)
    t = time.monotonic()
    thr_n = first_rounds_urls_per_s(untraced, SCALING_ROUNDS)
    ctx.spark = start_session(ctx.run_dir, 1)
    ctx1 = bench.make_ctx(ctx.spark, ctx.workload, ctx.seed, ctx.run_dir, ctx.web_dir)
    _reregister(ctx1, ctx.pages_table)
    thr_1 = first_rounds_urls_per_s(first_rounds_crawl(ctx1, SCALING_ROUNDS), SCALING_ROUNDS)
    phases["local1"] = time.monotonic() - t
    # tracing overhead on leg 1, the part of the traced crawl the untraced
    # reference repeats
    untraced_thr = first_rounds_urls_per_s(untraced, leg1)
    traced_thr = first_rounds_urls_per_s(traced, leg1)

    hist = traced.history
    n_rounds = len([h for h in hist if "dequeued" in h])  # committed rounds
    spans = tracer.spans
    traced_jobs = log.group_jobs("traced")
    fetch_x = log.executions("storage.write.fetched", "traced")
    frontier_x = log.executions("storage.write.frontier", "traced")
    all_traced = [x for x, g in log.exec_group.items() if g == "traced"]
    py = lambda names, metric, xs=all_traced: log.sql_metric(xs, _udf_node(*names), metric)  # noqa: E731
    deq = sum(h.get("dequeued", 0) for h in hist)
    vals = {
        "rounds.count": n_rounds,
        "rounds.spark_jobs_per_round": len(traced_jobs) / max(1, n_rounds),
        "rounds.driver_s_per_round": driver_s_per_round(spans, traced_jobs),
        "rounds.task_skew": task_skew(log, fetch_x),
        "rounds.gc_s": sum(t["gc_ms"] for t in log.group_tasks("traced")) / 1e3,
        "rounds.spill_bytes": sum(t["spill"] for t in log.group_tasks("traced")),
        "rounds.peak_exec_memory_mb": max(
            (t["peak"] for t in log.group_tasks("traced")), default=0) / 1e6,
        "rounds.scaling_eff_1_to_n": thr_n / (bench.n_cores() * thr_1),
        "storage.write_s.fetched": span_total(spans, {"storage.write.fetched"}),
        "storage.write_s.frontier": span_total(
            spans, {"storage.write.frontier", "storage.write_empty.frontier"}),
        "storage.write_s.bloom_segments": span_total(spans, {"storage.write.bloom_segments"}),
        **{f"storage.bytes.{k}": v for k, v in state_bytes.items()},
        "storage.files_per_round": n_files / max(1, n_rounds),
        "storage.metadata_s": span_total(spans, METADATA_SPANS),
        "storage.recovery_s": recovery_storage_s(spans),
        "politeness.pending_rows": sum(h.get("pending", 0) for h in hist),
        "politeness.deferred_rows": sum(h.get("deferred", 0) for h in hist),
        "politeness.dequeue_s": dequeue_s,
        "politeness.shuffle_bytes": log.sql_metric(
            log.executions("replay.dequeue"), lambda n: n["nodeName"] == "Exchange",
            "shuffle bytes written"),
        "fetch.rows": deq,
        "fetch.ok_ratio": sum(h.get("fetched_ok", 0) for h in hist) / max(1, deq),
        "fetch.links_per_ok": float(agg["links"] or 0.0),
        "fetch.python_s": py(["process"], "time to run Python workers", fetch_x),
        "fetch.python_bytes_sent": py(["process"], "data sent to Python workers", fetch_x),
        "fetch.python_bytes_returned": py(["process"], "data returned from Python workers", fetch_x),
        "fetch.python_start_s": py(["process"], "time to start Python workers", fetch_x)
        + py(["process"], "time to initialize Python workers", fetch_x),
        "fetch.join_shuffle_bytes": log.join_input_exchange_bytes(fetch_x, lambda n: True),
        "validate.valid_ratio": (agg["valid"] or 0) / max(1, agg["n"]),
        "canonicalize.rows": py(["canon_struct"], "number of output rows"),
        "canonicalize.python_s": py(["canon_struct"], "time to run Python workers"),
        "seen.build_s": span_total(spans, {"seen.build_round_state"}),
        "seen.build_python_s": py(["build"], "time to run Python workers"),
        "seen.filter_unseen_s": unseen["s"],
        "seen.candidates": unseen["candidates"],
        "seen.bloom_new_ratio": (unseen["unseen"] - unseen["survivors"])
        / max(1, unseen["candidates"]),
        "seen.bloom_fp": sum(max(0, h.get("bloom_fp", 0)) for h in hist),
        "seen.antijoin_shuffle_bytes": log.join_input_exchange_bytes(
            frontier_x, lambda n: "LeftAnti" in n.get("simpleString", "")),
        "seen.probe_python_s": py(["might_contain", "probe"], "time to run Python workers"),
        "webgen.generate_s": detail["generate_s"],
        "trace.slowdown": untraced_thr / traced_thr,
    }
    units = {name: unit for name, unit, _, _ in PER_LAYER}
    detail.update(
        traced_leg1_urls_per_s=traced_thr, untraced_leg1_urls_per_s=untraced_thr,
        traced_urls_per_s=traced.urls_per_s,
        scaling_urls_per_s={"n": thr_n, "1": thr_1}, problems=problems,
        spans=len(spans), filter_unseen_replay_rounds=fetched_rounds[-REPLAY_ROUNDS:],
        phases_s=phases,
        moves={name: moves for name, _, _, moves in PER_LAYER},
    )
    shutil.rmtree(traced.state_dir, ignore_errors=True)
    return {
        "correct": not problems and vals["validate.valid_ratio"] == 1.0,
        "attempted": 1,
        "failed": int(bool(problems)),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in vals.items()},
    }


def task_skew(log: EventLog, execs) -> float:
    """Median over rounds of max/median task time in the busiest stage of
    the fetched-write job."""
    out = []
    for x in execs:
        stages = defaultdict(list)
        for t in log.tasks:
            j = log.jobs.get(log.stage_job.get(t["stage"]), {})
            if j.get("exec") == x:
                stages[t["stage"]].append(t["run_ms"])
        if stages:
            busiest = max(stages.values(), key=sum)
            med = statistics.median(busiest)
            out.append(max(busiest) / med if med else 1.0)
    return statistics.median(out) if out else 1.0


def first_rounds_urls_per_s(crawl, n_rounds: int) -> float:
    """URLs/s of a crawl's first ``n_rounds`` rounds, from init_frontier to
    the commit of the last of them."""
    done = next(t for _, r, t in crawl.commits if r == n_rounds - 1)
    n = sum(
        h["dequeued"] for h in crawl.history
        if "dequeued" in h and h["round_id"] < n_rounds
    )
    return n / (done - crawl.t0)


def first_rounds_crawl(ctx, n_rounds: int):
    """The workload's first ``n_rounds`` rounds as one crawl, not resumed."""
    from crawlbench import run as bench

    state = ctx.fresh_state("first-rounds")
    c = bench.Crawl(wall_s=0.0, dequeued=0, history=[], state_dir=state)
    c.t0 = time.monotonic()
    eng = bench.engine(ctx, state, c, 0, max_rounds=n_rounds)
    eng.init_frontier(ctx.seeds_df)
    c.history = eng.run()
    shutil.rmtree(state, ignore_errors=True)
    return c


def _reregister(ctx, table: str) -> None:
    """Declare the bucketed pages table of the first session in a new one."""
    from cs3103_gocrawler_spark.storage import register_bucketed_pages

    from crawlbench import run as bench

    register_bucketed_pages(
        ctx.spark, f"{ctx.web_dir}/pages.parquet", table_name=table,
        n_buckets=bench.n_cores(),
    )
    ctx.pages, ctx.pages_table = ctx.spark.table(table), table
