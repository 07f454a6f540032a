"""The crawl round loop — gocrawler's recursion as Spark micro-batches.

One round replaces one wave of the reference's goroutine tree
(crawler.go:86-109); the dataflow per round (SURVEY.md §3.2):

    frontier_r ──dequeue (one host window, top-B, W2)──────┐
        └──fetch join vs pages (J4, JVM) → outcome (P1-P6) ─┤
            → ONE fused mapInPandas (U2/U3/U4/X5):          │
              retry/backoff enrich + link extraction +      │
              inline payload validation; body/payload       │
              dropped inside the Python worker              │
            → write fetched_r                               │
                       ↑ the ONE materialization point      │
    children = explode(links) → url columns on the JVM      │
    frontier_{r+1} = min-(depth,parent) merge(frontier_r ∪  │  (A5)
        children) → robots gate → exact anti-join vs        │
        seen(≤ r)                                           │  (J1)
    manifest commit = checkpoint

Job discipline: the round's per-URL work rides two writes — the fetched
write (outcome counts and min depth ride it as ``Observation`` metrics) and
the frontier write, whose plan holds the children pipeline and the seen
filter: one exact ``left_anti`` join of pending ∪ children against the
fetched table's urls, with no bloom build, probe or extra table. That join
also yields the deferred rows, so the dequeue's one rank window runs once,
inside the fetched write. Row counts come from parquet footer metadata on
the driver (Iceberg: snapshot summaries), not count() jobs or the observed
metrics; a next frontier with no candidates is committed driver-side.
visited/rejected/seen/validation are *views* over the fetched table
(column-pruned, predicate-filtered parquet reads), not extra
materializations; payload validation runs inside the fetch pass (the payload
reaches a Python worker exactly once and never re-joins); per-round metrics
are buffered into the manifest, with each round's phase seconds, and
written as a table once at the end. The round's three catalog reads
(pending, the fetched re-read, the seen set) take their schema from a
parquet footer and start no job; each used to run a schema-inference job.
Each write runs one Spark job per AQE query stage, in two waves. The
fetched write's first wave holds the dequeue's host shuffle and the pages
(and delay-cap takes) broadcasts, its second the fused pass and the write.
The frontier write's first wave holds the merge's shuffle map stage and the
robots and seen broadcasts, its second the merge, the gate, the anti-join
and the write; the gate sits above the merge (pending rows passed it
already, and it is a per-URL predicate), because below it the merge's map
stage waited for the robots broadcast, a third wave. Traced crawlbench runs
(seed 101, local[4], 4 vCPUs) count 8.75 jobs per round on polite-deep and
4.67 on wide-bfs (``rounds.spark_jobs_per_round``, which also counts the
crawl's start-up jobs; 9.75 and 4.67 before the start-up changes below; the
gate move saves a wave, not a job). Building an engine and resuming one
start no job: whether any host has a positive delay is decided once per
crawl, by an observed metric of the frontier-0 write's robots broadcast,
and kept in the manifest. Columns every round
reuses are built once per engine, since each ``F.*`` or Column call is a
Py4J round trip or more. Outside live-robots mode,
which fetches new hosts' robots.txt in its own pass, the fused fetch pass
is the round's only Python stage; like every worker-side function of the
engine it first drops the worker's zip finders (``functions/pyworker.py``).

Determinism: every output table has an order-insensitive definition; the
recorded crawl ordering (W3) is ``row_number() OVER (PARTITION BY host ORDER
BY round_id, priority, depth, url)`` — identical at local[8] and local[32],
which is the two-cluster-size check's requirement (§4.2.4).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..operators.canonicalize import url_columns, with_canonical
from ..operators.fetch import fetch_process
from ..operators.matchers import conjunction
from ..operators.politeness import dequeue
from ..operators.seen import filter_unseen
# the engine calls neither; kept for crawlbench until ROADMAP item 2
# (its tracer wraps both names in this module and raises on a missing one)
from ..operators.seen import build_bloom_distributed, build_round_state  # noqa: F401

from ..operators.validate import VALIDATION_COL_NAMES
from ..storage import RoundCatalog

_OUTCOMES = ("ok", "matcher", "fetch_error")

# modulus of the fetched table's host_bucket column
N_HOST_BUCKETS = 64

VISITED_COLS = [
    "url", "host", "path", "url_sha1", "depth", "parent", "priority", "links",
    "resp_ms", "attempts", "backoff_ms", "round_id", "partition_id", "host_bucket",
]

METRIC_KEYS = [
    "round_id", "pending", "dequeued", "fetched_ok", "rejected",
    "new_urls", "deferred", "elapsed_ms",
]

# phase seconds each round's manifest record carries under "timings" (the
# manifest commit itself is timed too, but only in run()'s history)
PHASE_KEYS = ("read_pending", "fetch_extract_write", "frontier_write", "frontier_count")


@dataclass
class CrawlConfig:
    """Mirrors reference Config (config.go:10-18) + target-only knobs.

    ``max_depth`` keeps the reference's off-by-one: user value d ⇒ pages at
    depth 0..d-1 fetched (crawler.go:59,93). ``budget_per_host=None`` ⇒
    unbounded fan-out per round (the reference's default modulo its global
    token bucket, which is a wall-clock not a count limit)."""

    max_depth: int = 3
    budget_per_host: int | float | None = None
    # ST5 — reference token-bucket generalization (crawler.go:57,105):
    # fractional per-host budget balance carried across rounds via the
    # host_state table; budget 2.5 alternates 2- and 3-URL rounds
    politeness_carryover: bool = False
    # robots crawl_delay consumption (north_rule politeness; no reference
    # analog): a host with crawl_delay_ms=d may be fetched at most
    # max(1, round_target_ms // d) times per round — the count a polite
    # crawler pacing one request per d ms fits into a round's time target.
    # The floor of 1 guarantees progress for hosts slower than the target.
    round_target_ms: int = 1000
    max_retries: int = 3
    blacklist_hosts: tuple[str, ...] = ()
    # SO3: expand the blacklist with 'www.'-prefix variants both ways
    # (explorer config.go:52-65)
    blacklist_www_variants: bool = False
    # P8 — explorer's bidirectional-substring host blacklist
    # (explorer/linkextractor.go:34-42)
    blacklist_substrings: tuple[str, ...] = ()
    # P9 — sitemapper's same-host scope (sitemapper/linkextractor.go:26-43)
    scope_same_host: bool = False
    # P10 — tianalyser's path-contains include scope
    # (tianalyser/linkextractor.go:33-53)
    scope_path_includes: tuple[str, ...] = ()
    # X2 — custom (base_url, body_html) -> list[str] extractor; overrides the
    # scope knobs above when set (reference LinkExtractor field); links must
    # be canonical, so the engine wraps it in extract.canonicalizing
    extractor: object | None = None
    matchers: tuple[str, ...] = ("html",)
    # S2 live mode: an operators.fetch.HttpConfig switches the fused fetch
    # pass from the synthetic-web join to real HTTP GETs (reference
    # rhttp.go:45-63); pages may then be None. Tests drive it against a
    # localhost fixture server.
    http: object | None = None
    # live robots (needs http): fetch+parse each host's /robots.txt into the
    # same (host, disallow_prefixes, crawl_delay_ms) dim the engine already
    # consumes — newly-seen hosts are fetched once per round via a
    # mapInPandas delta and the dim persists as a catalog table (resume
    # re-reads, never re-fetches)
    live_robots: bool = False
    # the engine does not read this (the dequeue is one rank window);
    # kept for crawlbench until ROADMAP item 2: its workloads set it and its
    # dequeue replay passes it on
    salt_buckets: int = 16
    # kept for crawlbench until ROADMAP item 2: its workloads set these and
    # its filter_unseen replay reads them; the engine reads none of them
    # (the round's seen filter is the exact anti-join alone)
    bloom_capacity: int = 1 << 20
    bloom_fpr: float = 1e-3
    bloom_segments: int = 32
    bloom_mode: str = "auto"
    bloom_probe_salt: int = 8
    instrument_bloom: bool = False
    gen_seed: int = 42
    validate: bool = False
    max_rounds: int = 10_000

    def __post_init__(self) -> None:
        if self.live_robots and self.http is None:
            raise ValueError(
                "live_robots=True requires an HttpConfig (robots.txt is "
                "fetched over the same live-HTTP client); synthetic mode "
                "passes the robots dim to CrawlEngine directly"
            )
        b = self.budget_per_host
        if b is None:
            return
        if not math.isfinite(b):
            # under carryover NaN and inf pass the >= 0.5 check below, and
            # round 0 then fails at int(2 * b), after the JVM has started
            raise ValueError(f"budget_per_host must be finite (got {b})")
        if self.politeness_carryover:
            # balance is capped at one budget, so allowance = balance + b
            # never reaches 1 when b < 0.5: every round would dequeue 0 and
            # the engine would livelock through max_rounds of empty writes
            if float(b) < 0.5:
                raise ValueError(
                    "politeness_carryover requires budget_per_host >= 0.5 "
                    f"(got {b}): allowance floor(balance+budget) never "
                    "reaches 1 below that — zero-dequeue livelock"
                )
        elif not float(b).is_integer():
            # the sequential oracle raises TypeError on urls[:2.5]; silently
            # truncating here would diverge from it
            raise TypeError(
                f"fractional budget_per_host ({b}) requires "
                "politeness_carryover=True (without carryover the reference "
                "semantics are an integer per-round take)"
            )
        elif b < 1:
            # a take of 0 dequeues nothing, so every round defers all of
            # pending and the engine runs max_rounds empty rounds
            raise ValueError(
                f"budget_per_host must be >= 1 (got {b}): a per-round take "
                "of 0 dequeues nothing — zero-dequeue livelock"
            )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        config: CrawlConfig,
        state_dir: str,
        robots: DataFrame | None = None,
    ):
        self.spark = spark
        self.pages = pages
        self.cfg = config
        self.cat = RoundCatalog(spark, state_dir)
        # kept for crawlbench until ROADMAP item 2: its filter_unseen replay
        # reads it; the engine does not
        self.bloom_mode = config.bloom_mode
        from ..operators.extract import (
            canonicalizing,
            expand_blacklist_www,
            make_scoped_extractor,
        )

        self._blacklist = (
            expand_blacklist_www(config.blacklist_hosts)
            if config.blacklist_www_variants
            else frozenset(config.blacklist_hosts)
        )
        if config.live_robots:
            if robots is not None:
                raise ValueError(
                    "live_robots=True fetches the robots dim itself — don't "
                    "also pass a static robots DataFrame"
                )
            # resume path: a previous run's accumulated robots dim persists
            # as catalog deltas; re-read instead of re-fetching
            robots = self.cat.read_all("robots")
        self._set_robots(robots)
        # Columns every round reuses, built once: each F.* or Column call is
        # one or more Py4J round trips, and so is the JVM object's release
        self._matcher = conjunction(list(config.matchers))
        # the fetched write's observed metrics and its added host_bucket
        self._observed = [
            F.min("depth").alias("min_depth"),
            *[
                F.sum(F.when(F.col("outcome") == o, 1).otherwise(0)).alias(o)
                for o in _OUTCOMES
            ],
        ]
        self._host_bucket = F.pmod(
            F.xxhash64("host"), F.lit(N_HOST_BUCKETS)
        ).cast("int")
        # children: the ok rows below the depth cap spawn one row per link
        # (J5 edge construction — parent rides the row, no join needed)
        depth_cap = config.max_depth - 1  # crawler.go:59
        self._spawns = (F.col("outcome") == "ok") & (F.col("depth") + 1 <= depth_cap)
        self._child_cols = [
            F.col("url").alias("parent"),
            F.explode("links").alias("url"),
            (F.col("depth") + 1).alias("depth"),
            F.col("priority"),
        ]
        self._url_columns = url_columns()
        # A5 min-merge: deterministic first-writer-wins, the
        # lexicographically smallest (depth, parent) and priority per URL
        # (SURVEY §1.3), in the frontier table's column order
        dp = F.min(F.struct("depth", "parent"))
        self._merge_aggs = [
            *[F.first(c).alias(c) for c in ("host", "path", "url_sha1")],
            dp.getField("depth").alias("depth"),
            dp.getField("parent").alias("parent"),
            F.min("priority").alias("priority"),
        ]
        if config.extractor is not None:
            self._extractor = canonicalizing(config.extractor)
        else:
            self._extractor = make_scoped_extractor(
                blacklist=self._blacklist,
                blacklist_substrings=tuple(config.blacklist_substrings),
                same_host=config.scope_same_host,
                path_includes=tuple(config.scope_path_includes),
            )

    def _set_robots(self, robots: DataFrame | None) -> None:
        """Point the engine at a robots dim. The gate's broadcast dim and
        keep predicate and the delay-caps plan are built here, once per dim,
        not once per round; whether any host has a positive delay is left
        undecided (``_active_delay_caps``)."""
        self.robots = robots
        self._delay_caps = self._delay_caps_from(robots)
        self._has_delays: bool | None = None
        self._gate = None
        if robots is not None:
            blocked = F.exists(
                F.coalesce(F.col("disallow_prefixes"), F.array()),
                lambda p: F.col("path").startswith(p),
            )
            self._gate = (
                F.broadcast(robots.select("host", "disallow_prefixes")), ~blocked
            )

    def _delay_caps_from(self, robots: DataFrame | None) -> DataFrame | None:
        """(host, cap) from robots crawl_delay_ms: a host with delay d may be
        fetched max(1, round_target_ms // d) times per round (CrawlConfig
        docstring). None when the dim has no crawl_delay_ms column. This is
        a plan and starts no job: whether it has a row at all is decided by
        ``_active_delay_caps``, once per crawl."""
        if robots is None or "crawl_delay_ms" not in robots.columns:
            return None
        return robots.filter(F.col("crawl_delay_ms") > 0).select(
            "host",
            F.greatest(
                F.lit(1),
                F.floor(
                    F.lit(self.cfg.round_target_ms) / F.col("crawl_delay_ms")
                ),
            ).cast("int").alias("cap"),
        )

    def _active_delay_caps(self) -> DataFrame | None:
        """The delay caps when some host has a positive delay, else None, so
        a crawl without delays plans no takes join. ``init_frontier`` takes
        the answer from an observed metric of its own write and keeps it in
        the manifest (``has_delays``), and ``run()`` reads it back, so
        neither building an engine, starting the crawl nor resuming it
        starts a job for it. The robots dim is part of the crawl's
        definition, like its pages and config: a resumed engine gets the dim
        the crawl started with. A live-robots dim grows each round, so it is
        decided again after each refresh, by one ``isEmpty()`` job (none for
        a driver-local dim), as is a manifest without the answer."""
        if self._delay_caps is None:
            return None
        if self._has_delays is None:
            self._has_delays = not self._delay_caps.isEmpty()
        return self._delay_caps if self._has_delays else None

    # -------------------------------------------------------------- views
    def fetched_df(self, up_to_round: int | None = None) -> DataFrame | None:
        return self.cat.read_all("fetched", up_to_round)

    def visited_df(self, up_to_round: int | None = None) -> DataFrame | None:
        """The VisitedPageInfo table (crawler.go:31) — a filtered view of the
        fetched deltas; parquet column pruning keeps reads narrow.
        ``remote_ip`` (live-mode DNS, S5) rides along when present — the
        report's network_info then carries real resolved addresses."""
        f = self.fetched_df(up_to_round)
        if f is None:
            return None
        cols = VISITED_COLS + (["remote_ip"] if "remote_ip" in f.columns else [])
        return f.filter(F.col("outcome") == "ok").select(*cols)

    def rejected_df(self, up_to_round: int | None = None) -> DataFrame | None:
        f = self.fetched_df(up_to_round)
        if f is None:
            return None
        return f.filter(F.col("outcome") != "ok").select(
            "url", "url_sha1", F.col("outcome").alias("reason"), "round_id"
        )

    def seen_urls(self, up_to_round: int | None = None) -> DataFrame | None:
        f = self.fetched_df(up_to_round)
        return None if f is None else f.select("url")

    def validation_df(self, up_to_round: int | None = None) -> DataFrame | None:
        """Per-URL payload-validation records (X5) — a view of the fetched
        table (populated when config.validate is on)."""
        f = self.fetched_df(up_to_round)
        if f is None or "valid" not in f.columns:
            return None
        return f.filter(F.col("outcome") == "ok").select(
            "url", "fmt", *VALIDATION_COL_NAMES, "round_id"
        )

    def _metrics_pdf(self):
        """METRIC_KEYS frame of the manifest's rounds that dequeued, or None."""
        import pandas as pd

        man = self.cat.manifest() or {}
        rows = [m for m in man.get("metrics", []) if m.get("dequeued", 0) > 0]
        if not rows:
            return None
        return pd.DataFrame([{k: m.get(k) for k in METRIC_KEYS} for m in rows])

    def metrics_df(self) -> DataFrame | None:
        pdf = self._metrics_pdf()
        # pandas → Arrow path: the DF is JVM-local, so downstream jobs over it
        # never spawn a Python-runner task (a list-of-dicts createDataFrame
        # cost ~4 s per tiny job in worker spin-up)
        return None if pdf is None else self.spark.createDataFrame(pdf)

    # ------------------------------------------------------------------ setup
    def init_frontier(self, seeds: DataFrame) -> None:
        """Round-0 frontier from seeds(url, priority) — S1 (explorer main.go:57-65)."""
        f = with_canonical(seeds)
        if self._blacklist:
            f = f.filter(~F.col("host").isin(list(self._blacklist)))
        f = f.withColumns({"depth": F.lit(0), "parent": F.lit("")})
        if self.cfg.live_robots:
            self._refresh_live_robots(f, 0)
        delays = robots = None
        if self._delay_caps is not None and not self.cfg.live_robots:
            # whether any host has a positive delay rides this write as an
            # observed metric of the gate's robots broadcast, which reads
            # the whole dim: the decision starts no job of its own
            delays = Observation("has_delays")
            robots = self.robots.observe(
                delays, F.count_if(F.col("crawl_delay_ms") > 0).alias("n")
            )
        self.cat.write(self._robots_gate(self._min_merge(f), robots), "frontier", 0)
        extra: dict = {"metrics": []}
        # an empty frontier 0 may plan the broadcast away, and it ends the
        # crawl before any dequeue needs the answer
        if delays is not None and self.cat.count("frontier", 0) > 0:
            extra["has_delays"] = delays.get["n"] > 0
        self.cat.commit_round(-1, extra)

    def _min_merge(self, df: DataFrame) -> DataFrame:
        """A5 — deterministic first-writer-wins: keep the lexicographically
        smallest (depth, parent) and priority per URL (SURVEY §1.3)."""
        return df.groupBy("url").agg(*self._merge_aggs)

    def _host_allowance(self, r: int, pending: DataFrame) -> DataFrame:
        """(host, allowance) for every host in pending ∪ host_state — the
        distributed form of the per-host token balance (no driver dict; the
        state is a small table keyed by host, joined on the dequeue key)."""
        b = float(self.cfg.budget_per_host)
        ph = pending.select("host").distinct()
        if self.cat.exists("host_state", r):
            st = self.cat.read("host_state", r)
            return ph.join(st, "host", "full") .select(
                "host",
                (F.coalesce(F.col("balance"), F.lit(0.0)) + F.lit(b)).alias("allowance"),
            )
        return ph.select("host", F.lit(b).alias("allowance"))

    def _host_takes(self, r: int, pending: DataFrame):
        """The single per-round link-budget builder (W2/ST5 + crawl_delay):
        returns ``(host_takes, allowance, budget_arg)`` for the dequeue.

        Composition order: the carryover allowance (balance + budget, ST5)
        sets each host's take; the robots crawl_delay cap then BOUNDS it —
        unspent allowance stays in the balance via the host_state update.
        Without carryover, delayed hosts take min(budget, cap) and hosts
        without a delay fall back to the flat budget (the dequeue's literal
        bound; unbounded when budget is None). New politeness knobs compose
        here once instead of forking the round loop."""
        cfg = self.cfg
        takes = allowance = None
        budget_arg = cfg.budget_per_host
        if cfg.politeness_carryover and cfg.budget_per_host is not None:
            # token carryover (ST5): per-host allowance = balance + budget;
            # floor dequeues now, the fraction persists in host_state.
            # The balance is capped at one budget, so no take exceeds
            # floor(2b): that is the dequeue's literal bound. allowance
            # covers every pending host (full join), so as an absent-host
            # default it never fires
            allowance = self._host_allowance(r, pending)
            takes = allowance.select(
                "host", F.floor("allowance").cast("int").alias("take")
            )
            budget_arg = int(2 * cfg.budget_per_host)
        caps = self._active_delay_caps()
        if caps is not None:
            if takes is not None:
                takes = takes.join(caps, "host", "left").select(
                    "host",
                    F.least(
                        F.col("take"), F.coalesce(F.col("cap"), F.col("take"))
                    ).alias("take"),
                )
            else:
                b = cfg.budget_per_host
                takes = caps.select(
                    "host",
                    (F.least(F.lit(int(b)), F.col("cap")) if b is not None
                     else F.col("cap")).alias("take"),
                )
        return takes, allowance, budget_arg

    def _refresh_live_robots(self, urls_df: DataFrame, delta_round: int) -> None:
        """Live mode: fetch robots.txt for hosts in ``urls_df`` not yet in
        the accumulated robots dim, append the delta as catalog round
        ``delta_round`` (= the round whose frontier those hosts may enter, so
        resume's drop_rounds_after keeps exactly the rows the kept frontier
        needs), and refresh the gate + crawl_delay caps."""
        from ..operators.robots import fetch_robots

        hosts = urls_df.groupBy("host").agg(F.min("url").alias("url_sample"))
        known = self.cat.read_all("robots", up_to_round=delta_round - 1)
        if known is not None:
            hosts = hosts.join(known.select("host"), "host", "left_anti")
        self.cat.write(fetch_robots(hosts, self.cfg.http), "robots", delta_round)
        self._set_robots(self.cat.read_all("robots", up_to_round=delta_round))

    def _robots_gate(self, df: DataFrame, robots: DataFrame | None = None) -> DataFrame:
        """Drop URLs whose path matches a disallow prefix for their host
        (north_rule robots gating; broadcast dim join — no reference analog).
        Keeps ``df``'s column order (the join would put ``host`` first).
        ``robots``, a plan over the engine's dim (``init_frontier`` passes an
        observed one), stands in for the dim built once in ``_set_robots``."""
        if self._gate is None:
            return df
        dim, keep = self._gate
        if robots is not None:
            dim = F.broadcast(robots.select("host", "disallow_prefixes"))
        return df.join(dim, "host", "left").filter(keep).select(*df.columns)

    # ------------------------------------------------------------------ rounds
    def _run_round(self, r: int) -> dict:
        t0 = time.monotonic()
        timings: dict[str, float] = {}
        _last = [t0]

        def _mark(name: str) -> None:
            now = time.monotonic()
            timings[name] = round(now - _last[0], 3)
            _last[0] = now

        cfg = self.cfg
        pending = self.cat.read("frontier", r)
        pending_n = self.cat.count("frontier", r)  # footer metadata, no job
        _mark("read_pending")
        if pending_n == 0:
            return {"round_id": r, "pending": 0, "terminated": True}

        takes, allowance, budget_arg = self._host_takes(r, pending)
        # the deferred side is not built: the frontier anti-join yields it
        dequeued, _ = dequeue(pending, budget_arg, host_takes=takes, deferred=False)

        # fused fetch+enrich+extract(+validate): body/payload cross the
        # JVM↔Python pipe exactly once and are dropped inside the worker
        # (fetch.fetch_process docstring has the profiling numbers)
        processed = (
            fetch_process(
                dequeued, self.pages,
                matcher=self._matcher,
                blacklist=self._blacklist,
                max_retries=cfg.max_retries,
                resp_seed=cfg.gen_seed,
                validate=cfg.validate,
                gen_seed=cfg.gen_seed,
                extractor=self._extractor,
                http=cfg.http,
                matcher_names=tuple(cfg.matchers),
                columns={"round_id": F.lit(r), "host_bucket": self._host_bucket},
            )
        )
        # outcome counts + min depth ride the write job as observed metrics
        # (accumulators, no extra job). A re-run stage may count them twice,
        # so the frontier takes the dequeued count from the fetched footer
        obs = Observation(f"round_{r}")
        processed = processed.observe(obs, *self._observed)
        # the ONE expensive materialization of the round
        self.cat.write(processed, "fetched", r)
        _mark("fetch_extract_write")
        stats = obs.get
        outcome_counts = {
            o: int(stats[o] or 0) for o in _OUTCOMES if stats[o]
        }
        min_depth = None if stats["min_depth"] is None else int(stats["min_depth"])
        dequeued_n = self.cat.count("fetched", r)
        deferred_n = pending_n - dequeued_n
        processed = self.cat.read("fetched", r)

        if allowance is not None:
            # balance' = min(allowance − dequeued, budget) per host — the
            # bucket refills by one budget per round, stores at most one
            # (burst ≙ reference rate.NewLimiter(MaxRPS, 1) scaled to rounds)
            b = float(cfg.budget_per_host)
            counts = processed.groupBy("host").agg(F.count("*").alias("_n"))
            new_state = allowance.join(counts, "host", "left").select(
                "host",
                F.least(
                    F.col("allowance") - F.coalesce(F.col("_n"), F.lit(0)),
                    F.lit(b),
                ).alias("balance"),
            )
            self.cat.write(new_state, "host_state", r + 1)

        depth_cap = cfg.max_depth - 1  # crawler.go:59
        # skip the whole children pipeline (explode → robots → anti-join)
        # when no dequeued row can spawn — the depth-capped final round
        # otherwise pays several seconds of dead plan
        can_spawn = (
            dequeued_n > 0 and min_depth is not None and min_depth + 1 <= depth_cap
        )
        # frontier r+1 = (pending ∪ children) minus seen(≤ r). No pending row
        # was fetched before round r, and every row dequeued in round r has
        # one fetched_r row, so the pending rows the anti-join keeps are
        # exactly the deferred ones
        candidates = []
        if deferred_n > 0:
            candidates.append(pending)
        if can_spawn:
            # links are canonical: only their url columns are derived
            children = (
                processed.filter(self._spawns)
                .select(*self._child_cols)
                .withColumns(self._url_columns)
            )
            if cfg.live_robots:
                # fetch rules for hosts first seen among this round's
                # children BEFORE they are gated / enter frontier r+1
                self._refresh_live_robots(children, r + 1)
            # no persist: the frontier write below is the children's only
            # reader (live robots reads the ungated children in its own job)
            candidates.append(children)
        if candidates:
            # merge first: below the merge, Catalyst pushes the anti-join
            # into each union branch and joins the seen side twice. The gate
            # sits above the merge too: pending rows passed it already and
            # it is a per-URL predicate, so the rows are the same, and the
            # merge's shuffle map stage runs beside the robots and seen
            # broadcasts instead of after the robots one. Pending alone
            # needs no gate
            merged = self._min_merge(reduce(DataFrame.unionByName, candidates))
            if can_spawn:
                merged = self._robots_gate(merged)
            unseen, _ = filter_unseen(
                self.spark, merged, self.seen_urls(up_to_round=r), None,
                survivors=False,
            )
            self.cat.write(unseen, "frontier", r + 1)
        else:
            # nothing can reach frontier r+1 (no spawns, nothing deferred):
            # commit the empty table driver-side — a Spark write of an empty
            # DF still costs a full job of scheduler overhead, which
            # dominates the depth-capped final round of a saturated crawl
            # pending's schema, not a literal: a hardcoded one once drifted
            # from engines seeded with long-typed priorities
            self.cat.write_empty("frontier", r + 1, pending.schema)
        _mark("frontier_write")
        next_n = self.cat.count("frontier", r + 1)
        _mark("frontier_count")

        m = {
            "round_id": r,
            "pending": int(pending_n),
            "dequeued": dequeued_n,
            "fetched_ok": int(outcome_counts.get("ok", 0)),
            "rejected": int(
                outcome_counts.get("matcher", 0) + outcome_counts.get("fetch_error", 0)
            ),
            "new_urls": int(next_n - deferred_n),
            "deferred": int(deferred_n),
            "elapsed_ms": int((time.monotonic() - t0) * 1000),
            "timings": dict(timings),
        }
        man = self.cat.manifest() or {"metrics": []}
        metrics = [x for x in man.get("metrics", []) if x["round_id"] < r] + [m]
        # the other keys (has_delays) carry over to the next record
        self.cat.commit_round(r, {**man, "metrics": metrics})
        _mark("commit")
        return {**m, "terminated": next_n == 0, "timings": timings}

    def _finalize(self) -> None:
        """Write the buffered per-round metrics as a parquet table (A7 /
        north_rule metrics requirement). The rows are driver-local (one per
        round, buffered in the manifest), so this is a direct pyarrow write —
        the previous 1-task Spark write of the same 3-row table cost ~4 s of
        Python-worker spin-up per crawl, a pure serial tax on the scaling
        curve."""
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = self._metrics_pdf()
        if pdf is None:
            return
        out = f"{self.cat.state_dir}/metrics_table"
        os.makedirs(out, exist_ok=True)
        # clear any previous finalize (incl. uuid-named part files from the
        # old Spark overwrite path) — stale parts would duplicate metric rows
        for f in os.listdir(out):
            if f.endswith(".parquet"):
                os.remove(os.path.join(out, f))
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(out, "part-00000.parquet"),
        )
        # _SUCCESS marker so spark.read.parquet/RoundCatalog treat it as committed
        open(os.path.join(out, "_SUCCESS"), "w").close()

    def run(self, resume: bool = False) -> list[dict]:
        """Run rounds until the frontier drains. ``resume=True`` continues
        from the last committed manifest (round-snapshot checkpointing)."""
        man = self.cat.manifest()
        if man is None:
            raise RuntimeError("call init_frontier(seeds) first")
        start = man["last_round"] + 1
        if self._has_delays is None:
            self._has_delays = man.get("has_delays")
        if resume and start > 0:
            # the seen set is the fetched table itself, so nothing is rebuilt;
            # a bloom_segments table left by an older engine is never read
            self.cat.drop_rounds_after(man["last_round"])
        history: list[dict] = []
        for r in range(start, self.cfg.max_rounds):
            m = self._run_round(r)
            history.append(m)
            if m.get("terminated"):
                break
        self._finalize()
        return history
