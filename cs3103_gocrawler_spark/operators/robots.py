"""Live robots.txt fetching + parsing (north_rule robots gating, S2 live mode).

The engine consumes robots exclusively as a dimension table
``(host, disallow_prefixes, crawl_delay_ms)`` — the broadcast gate in
``rounds._robots_gate`` and the crawl_delay politeness caps in
``rounds._delay_caps_from``. In synthetic/join mode that table is an input
fixture; in live-HTTP mode this module BUILDS it by fetching
``{scheme}://{netloc}/robots.txt`` for every newly-seen host inside one
``mapInPandas`` pass — one urllib opener per Python worker, memoized per
worker so a host is fetched at most once per worker process (the reference
has no robots support; semantics here follow RFC 9309's prefix-match model
restricted to the engine's existing disallow-prefix contract).

Scale shape: the host dim is tiny relative to the frontier (one row per
host), the fetch delta per round is only the anti-joined NEW hosts, and the
accumulated table persists as per-round catalog deltas — resume re-reads it
instead of re-fetching.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..functions.pyworker import forget_zip_finders

ROBOTS_SCHEMA = "host string, disallow_prefixes array<string>, crawl_delay_ms long"


def parse_robots_txt(text: str, user_agent: str = "*") -> tuple[list[str], int]:
    """Parse a robots.txt body into ``(disallow_prefixes, crawl_delay_ms)``
    for ``user_agent``.

    RFC 9309 subset matching the engine's gate: records are grouped by
    ``User-agent`` lines; the record whose agent token is the LONGEST
    case-insensitive substring of our user agent wins, with ``*`` as the
    fallback; ``Disallow`` values are path prefixes (empty value = allow
    all, dropped); ``Crawl-delay`` (a de-facto extension, seconds) converts
    to ms. Unparsable lines are skipped — an empty/garbage body yields
    ``([], 0)`` (allow everything).
    """
    ua = user_agent.lower()
    # records: list of (agent_tokens, disallows, delay_ms)
    records: list[tuple[list[str], list[str], int]] = []
    cur_agents: list[str] = []
    cur_dis: list[str] = []
    cur_delay = 0
    in_agent_block = False  # consecutive User-agent lines share one record

    def _flush():
        nonlocal cur_agents, cur_dis, cur_delay
        if cur_agents:
            records.append((cur_agents, cur_dis, cur_delay))
        cur_agents, cur_dis, cur_delay = [], [], 0

    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_agent_block:
                _flush()
            cur_agents.append(val.lower())
            in_agent_block = True
            continue
        in_agent_block = False
        if not cur_agents:
            continue  # rule before any User-agent line: ignored
        if key == "disallow" and val:
            cur_dis.append(val)
        elif key == "crawl-delay":
            try:
                cur_delay = max(0, int(float(val) * 1000))
            except ValueError:
                pass
    _flush()

    best: tuple[int, list[str], int] | None = None  # (specificity, dis, delay)
    for agents, dis, delay in records:
        for a in agents:
            if a == "*":
                spec = 0
            elif a and a in ua:
                spec = len(a)
            else:
                continue
            if best is None or spec > best[0]:
                best = (spec, dis, delay)
    if best is None:
        return [], 0
    return list(best[1]), int(best[2])


def fetch_robots(hosts: DataFrame, http, user_agent: str | None = None) -> DataFrame:
    """``(host, url_sample)`` → the robots dim rows for those hosts, fetched
    live. ``url_sample`` is any URL of the host (its scheme+netloc locate the
    robots file — the canonical ``host`` column strips default ports).

    Error policy: any non-200 response or transport error yields allow-all
    ``([], 0)`` — RFC 9309 §2.3.1.3-style "unreachable means unrestricted"
    (the conservative disallow-all-on-5xx variant would deadlock a crawl
    against a flaky host; the reference crawls with no robots support at
    all, so allow-all is the compatible failure mode).
    """
    ua = user_agent or getattr(http, "user_agent", "*")
    timeout_s = getattr(http, "timeout_s", 5.0)
    proxy = getattr(http, "proxy", None)

    def proc(batches):
        forget_zip_finders()
        import urllib.request as _rq
        from urllib.parse import urlsplit

        handlers = []
        if proxy:
            handlers.append(_rq.ProxyHandler({"http": proxy, "https": proxy}))
        opener = _rq.build_opener(*handlers)
        memo: dict[str, tuple[list[str], int]] = {}
        for pdf in batches:
            out = {"host": [], "disallow_prefixes": [], "crawl_delay_ms": []}
            for host, sample in zip(pdf["host"], pdf["url_sample"]):
                if host not in memo:
                    try:
                        p = urlsplit(sample)
                        robots_url = f"{p.scheme}://{p.netloc}/robots.txt"
                        req = _rq.Request(
                            robots_url, headers={"User-Agent": ua}
                        )
                        with opener.open(req, timeout=timeout_s) as resp:
                            body = resp.read().decode("utf-8", "replace")
                        memo[host] = parse_robots_txt(body, ua)
                    except Exception:
                        memo[host] = ([], 0)
                pre, delay = memo[host]
                out["host"].append(host)
                out["disallow_prefixes"].append(pre)
                out["crawl_delay_ms"].append(delay)
            yield pd.DataFrame(out)

    return hosts.mapInPandas(proc, schema=ROBOTS_SCHEMA)
