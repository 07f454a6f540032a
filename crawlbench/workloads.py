"""Workload definitions: synthetic-web shape, seed selection and engine config.

Every input is a pure function of ``--seed``: the web (``WebConfig.seed``),
the seed URLs and the engine's payload-validation seed. Sizes are scaled to
a 4-core host so that every run of the benchmark fits its time budget; the
engine knobs that set task counts (pages buckets, bloom segments, salts)
are sized to the core count, because on a small host each extra Python task
costs more than the rows it carries.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, replace

from cs3103_gocrawler_spark.streaming.rounds import CrawlConfig
from cs3103_gocrawler_spark.synthetic.webgen import (
    WebConfig,
    page_url,
    pages_per_host,
    seeds_for,
)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    web: dict
    crawl: dict
    # share of all pages used as seeds, chosen by a hash of (seed, url);
    # None means the generator's own seeds (one /p/0 per host, n_seeds)
    seed_every: int | None = None
    robots: bool = False
    # every crawl is resumed once: leg 1 stops after this many rounds, a
    # fresh engine then runs run(resume=True) on the same state dir
    leg1_rounds: int = 1


# web shape shared by every workload. No dangling links: a fetch miss in the
# same Arrow batch as a hit turns the batch's phash column into float64, and
# the fused validation then rejects valid payloads (phash precision loss) —
# a known engine defect the oracle gate would report on every crawl.
COMMON_WEB = dict(p_dangling=0.0)

# engine knobs shared by every workload (host-sized, see module docstring)
COMMON_CRAWL = dict(
    validate=True,
    blacklist_hosts=WebConfig.blacklist_hosts,
    salt_buckets=4,
    bloom_segments=4,
    bloom_capacity=1 << 17,
    bloom_probe_salt=1,
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="wide-bfs",
            why=(
                "no per-host budget, broadcast bloom, resumed after round 0: "
                "every discovered URL is fetched the next round, so fetch, "
                "canonicalize and the seen probe carry the work"
            ),
            web=dict(n_pages=12_000, n_hosts=100),
            crawl=dict(max_depth=3, budget_per_host=None, bloom_mode="broadcast"),
            seed_every=10,
        ),
        Workload(
            name="polite-deep",
            why=(
                "budget 5 per host, robots delays, partitioned bloom, resumed "
                "after round 1: pending outgrows each round, so fixed "
                "per-round cost, dequeue, lag and recovery dominate"
            ),
            # a delay on every 8th host keeps lags of 3 rounds under 1%, so
            # the p99 discovery lag sits on one plateau (a 2-round lag across
            # the resume) for every seed simulated with the oracle
            web=dict(n_pages=8_000, n_hosts=100, n_seeds=100, crawl_delay_every=8),
            crawl=dict(
                max_depth=8, budget_per_host=5, bloom_mode="partitioned",
                max_rounds=4,
            ),
            robots=True,
            leg1_rounds=2,
        ),
    )
}

# toy sizes for the benchmark's self-tests: same shapes, seconds per crawl
TOY_WEB = dict(n_pages=600, n_hosts=12)


def toy(w: Workload) -> Workload:
    web = {**w.web, **TOY_WEB}
    if "n_seeds" in web:
        web["n_seeds"] = web["n_hosts"]
    return replace(w, web=web)


def web_config(w: Workload, seed: int) -> WebConfig:
    return WebConfig(seed=seed, **{**COMMON_WEB, **w.web})


def crawl_config(w: Workload, seed: int, **overrides) -> CrawlConfig:
    return CrawlConfig(**{**COMMON_CRAWL, **w.crawl, "gen_seed": seed, **overrides})


def all_urls(cfg: WebConfig) -> list[str]:
    return [
        page_url(hi, pi)
        for hi, n in enumerate(pages_per_host(cfg))
        for pi in range(int(n))
    ]


def seed_urls(w: Workload, cfg: WebConfig) -> list[tuple[str, int]]:
    """(url, priority) seeds: the generator's seeds, or every page whose
    sha1(seed, url) falls in a 1/seed_every bucket."""
    if w.seed_every is None:
        return [(r.url, int(r.priority)) for r in seeds_for(cfg).itertuples()]
    out = []
    for u in all_urls(cfg):
        h = hashlib.sha1(f"{cfg.seed}|seedpick|{u}".encode()).digest()
        if int.from_bytes(h[:4], "big") % w.seed_every == 0:
            out.append((u, cfg.seed_priority))
    return out
