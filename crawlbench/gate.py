"""Oracle gate: every timed crawl is checked against the sequential oracle.

The oracle (``oracle.bfs_oracle.crawl_oracle``) runs on the same generated
web, seeds, config, robots rules and crawl delays as the engine. Its result
is reduced to two digests and cached by (WEBGEN_VERSION, web config, crawl
config, seeds), so a repeated seed pays for the oracle once per checkout.

``check`` is a pure function over pandas frames, so the self-tests can hand
it tampered results without a Spark session.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os

import pandas as pd
import pyarrow.parquet as pq

from cs3103_gocrawler_spark.oracle.bfs_oracle import crawl_oracle
from cs3103_gocrawler_spark.synthetic.webgen import WEBGEN_VERSION

# columns of the engine's fetched table the gate reads
FETCHED_COLS = ["url", "host", "depth", "parent", "round_id", "outcome", "valid"]


def _digest(lines) -> str:
    h = hashlib.sha1()
    for line in sorted(lines):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def visited_digest(rows) -> str:
    """Digest of visited (url, depth, parent) triples, order-insensitive."""
    return _digest(f"{u}\t{int(d)}\t{p}" for u, d, p in rows)


def order_digest(rows) -> str:
    """Digest of the per-host crawl order (host, seq, url)."""
    return _digest(f"{h}\t{int(s)}\t{u}" for h, s, u in rows)


def read_web(web_dir: str, robots: bool):
    """Oracle inputs from the generated parquet tables the engine reads."""
    pages_t = pq.read_table(
        f"{web_dir}/pages.parquet", columns=["image_id", "status", "content_type"]
    ).to_pydict()
    pages = {
        u: {"status": s, "content_type": ct}
        for u, s, ct in zip(
            pages_t["image_id"], pages_t["status"], pages_t["content_type"]
        )
    }
    edges = pq.read_table(f"{web_dir}/edges.parquet").to_pydict()
    links: dict[str, list[str]] = {}
    for s, d in zip(edges["src"], edges["dst"]):
        links.setdefault(s, []).append(d)
    rules = delays = None
    if robots:
        r = pq.read_table(f"{web_dir}/robots.parquet").to_pydict()
        rules = dict(zip(r["host"], (list(p) for p in r["disallow_prefixes"])))
        delays = {h: int(d) for h, d in zip(r["host"], r["crawl_delay_ms"]) if d}
    return pages, links, rules, delays


def host_cap(crawl_cfg, delays: dict | None):
    """host -> the most URLs it may be dequeued in one round (None: no cap);
    the budget bounded by the robots crawl-delay cap, as the engine composes
    them."""
    delays = delays or {}
    budget = crawl_cfg.budget_per_host

    def cap(host: str):
        d = delays.get(host, 0)
        delay_cap = max(1, crawl_cfg.round_target_ms // d) if d else None
        caps = [c for c in (budget, delay_cap) if c is not None]
        return int(min(caps)) if caps else None

    return cap


def oracle_record(web_cfg, crawl_cfg, seeds, web_dir, robots, cache_dir) -> dict:
    """Digests of the oracle crawl, computed once per cache key."""
    key_src = json.dumps(
        {
            "webgen": WEBGEN_VERSION,
            "web": dataclasses.asdict(web_cfg),
            "crawl": {
                k: getattr(crawl_cfg, k)
                for k in (
                    "max_depth", "budget_per_host", "blacklist_hosts",
                    "round_target_ms", "max_rounds", "matchers",
                )
            },
            "robots": robots,
            "seeds": seeds,
        },
        sort_keys=True,
        default=list,
    )
    key = hashlib.sha1(key_src.encode()).hexdigest()[:20]
    path = os.path.join(cache_dir, f"oracle_{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    pages, links, rules, delays = read_web(web_dir, robots)
    res = crawl_oracle(
        pages, links, seeds,
        max_depth=crawl_cfg.max_depth,
        budget_per_host=crawl_cfg.budget_per_host,
        blacklist=set(crawl_cfg.blacklist_hosts),
        robots=rules,
        crawl_delays=delays,
        round_target_ms=crawl_cfg.round_target_ms,
        max_rounds=crawl_cfg.max_rounds,
        resp_seed=crawl_cfg.gen_seed,
    )
    rec = {
        "visited_digest": visited_digest(
            (u, v["depth"], v["parent"]) for u, v in res.visited.items()
        ),
        "order_digest": order_digest(res.order),
        "n_visited": len(res.visited),
        "n_rejected": len(res.rejected),
        "delays": delays or {},
    }
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, path)
    return rec


def check(fetched: pd.DataFrame, order: pd.DataFrame, want: dict, cap) -> list[str]:
    """Problems found in one crawl's result (empty list: the crawl passes).

    ``fetched``: FETCHED_COLS rows of the engine's fetched table;
    ``order``: (host, seq, url) rows of ``plans.report.crawl_order``;
    ``want``: an ``oracle_record``; ``cap``: ``host_cap``."""
    problems = []
    ok = fetched[fetched["outcome"] == "ok"]
    got = visited_digest(zip(ok["url"], ok["depth"], ok["parent"]))
    if got != want["visited_digest"]:
        problems.append(
            f"visited set differs from the oracle ({len(ok)} visited, "
            f"oracle {want['n_visited']})"
        )
    if order_digest(zip(order["host"], order["seq"], order["url"])) != want["order_digest"]:
        problems.append("per-host crawl order differs from the oracle")
    ratio = valid_ratio(fetched)
    if ratio != 1.0:
        problems.append(f"payload valid ratio {ratio} != 1")
    dup = int(fetched["url"].duplicated().sum())
    if dup:
        problems.append(f"{dup} URLs fetched more than once")
    per = fetched.groupby(["round_id", "host"]).size()
    over = [
        (int(r), h, int(n))
        for (r, h), n in per.items()
        if cap(h) is not None and n > cap(h)
    ]
    if over:
        r, h, n = over[0]
        problems.append(
            f"{len(over)} host-rounds over their take (round {r}: {h} "
            f"dequeued {n} > {cap(h)})"
        )
    return problems


def valid_ratio(fetched: pd.DataFrame) -> float:
    """valid ÷ ok rows (1.0 when nothing was fetched ok)."""
    ok = fetched[fetched["outcome"] == "ok"]
    return float((ok["valid"] == True).mean()) if len(ok) else 1.0  # noqa: E712
