"""Deterministic seeded synthetic web generator (FIXTURES.md §1-§4).

Produces the authoritative input table shape from ``BASELINE.json.input_hint``:

    pages(image_id string, bytes binary, w int, h int, fmt string,
          caption string, phash long, status int, content_type string,
          body_html string)

plus the ``edges(src, dst)`` link graph (the oracle's ground truth), the
``seeds(url, priority)`` fixture, and a ``robots(host, disallow_prefixes,
crawl_delay_ms)`` table.

Determinism contract
--------------------
Every per-page attribute is a pure function of ``(cfg.seed, url)`` via
SHA1-seeded PCG64 — independent of generation order, partitioning, or scale.
The same code path generates 30 pages (pytest) or 10^10 pages (the target
frontier): ``generate_spark`` runs the identical row function inside
``mapInPandas`` over ``spark.range(n_pages)``, so generation itself is an
embarrassingly-parallel Spark job with no shuffle.

Host sizes follow a power law (rank^-alpha) to exercise per-host skew in
the dequeue's host window (SURVEY.md §4.2.1); link targets mix same-host / cross-host /
dangling-404 / blacklisted-host per FIXTURES.md §2.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .imagecodec import encode_image, phash64

_WORDS = (
    "amber", "basalt", "cobalt", "delta", "ember", "fjord", "granite", "harbor",
    "indigo", "jasper", "krill", "lumen", "maple", "nadir", "onyx", "prism",
    "quartz", "raven", "slate", "tundra", "umber", "vortex", "willow", "xenon",
    "yonder", "zephyr", "copper", "drift", "flint", "gale", "heath", "isle",
)

_FMTS = ("png", "jpeg", "webp")

# Bump on ANY change to payload/edge derivation (pixel bytes, caption text,
# fmt assignment, link targets …). Cache keys (crawlbench) embed this so a web
# generated by an older derivation regenerates instead of silently failing
# the validation recompute.
WEBGEN_VERSION = 2


@dataclass(frozen=True)
class WebConfig:
    """Scale-parameterized generator config (single integer seed, no external data)."""

    seed: int = 42
    n_hosts: int = 8
    n_pages: int = 200
    max_degree: int = 6
    alpha: float = 1.2          # power-law exponent for pages-per-host skew
    img_w: int = 16
    img_h: int = 16
    p_same_host: float = 0.70
    p_cross_host: float = 0.20
    p_dangling: float = 0.05    # remainder goes to blacklisted hosts
    p_status_404: float = 0.03
    p_status_500: float = 0.03
    p_non_html: float = 0.05
    blacklist_hosts: tuple[str, ...] = ("blocked0.test", "blocked1.test")
    n_seeds: int = 2
    seed_priority: int = 0
    # robots fixture: every crawl_delay_every-th host (0 = none) advertises
    # crawl_delay_ms — consumed by the engine's per-round delay caps
    crawl_delay_every: int = 0
    crawl_delay_ms: int = 400
    extra: dict = field(default_factory=dict)


def _rng_for(seed: int, key: str) -> np.random.Generator:
    """Order-independent PRNG: one generator per (seed, key)."""
    digest = hashlib.sha1(f"{seed}|{key}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "big")))


def _bytes_for(seed: int, key: str, n: int) -> bytes:
    """Deterministic byte stream for (seed, key) — direct SHAKE-256 digest.

    Hot-path alternative to ``_rng_for``: constructing a numpy Generator
    (SeedSequence + PCG64) costs ~40 µs per call, which dominated the
    per-row payload validation (X5 recomputes pixels+caption for every
    fetched URL). A SHAKE digest is ~2 µs and just as deterministic."""
    return hashlib.shake_256(f"{seed}|{key}".encode()).digest(n)


def pages_per_host(cfg: WebConfig) -> np.ndarray:
    """Power-law page counts per host, summing exactly to cfg.n_pages."""
    w = (np.arange(cfg.n_hosts) + 1.0) ** (-cfg.alpha)
    w /= w.sum()
    counts = np.maximum(1, np.floor(w * cfg.n_pages)).astype(np.int64)
    # deterministically distribute the remainder to the largest hosts
    i = 0
    while counts.sum() < cfg.n_pages:
        counts[i % cfg.n_hosts] += 1
        i += 1
    while counts.sum() > cfg.n_pages:
        j = int(np.argmax(counts))
        counts[j] -= 1
    return counts


def host_name(host_idx: int) -> str:
    return f"h{host_idx}.test"


def page_url(host_idx: int, page_idx: int) -> str:
    return f"http://h{host_idx}.test/p/{page_idx}"


def page_pixels(seed: int, url: str, w: int, h: int) -> np.ndarray:
    """Ground-truth pixels, regenerable from (seed, url) alone — used by the
    validation UDF (X5) to check decoded payloads without a side table.
    Direct SHAKE byte stream (see ``_bytes_for``) — per-row hot path."""
    buf = _bytes_for(seed, f"px|{url}", h * w * 3)
    return np.frombuffer(buf, dtype=np.uint8).reshape(h, w, 3)


def page_caption(seed: int, url: str) -> str:
    d = _bytes_for(seed, f"cap|{url}", 17)
    k = 4 + d[0] % 5
    nw = len(_WORDS)
    words = [
        _WORDS[int.from_bytes(d[1 + 2 * i : 3 + 2 * i], "big") % nw]
        for i in range(k)
    ]
    return " ".join(words) + f" [{url}]"


def page_resp_ms(seed: int, url: str) -> int:
    """Deterministic synthetic fetch latency (10..500 ms) — the stand-in for
    wall-clock response time in host aggregates (A4), regenerable by both the
    fetch UDF and the oracle. Direct sha1 derivation (no PRNG object) — this
    runs per fetched row in the hot path."""
    d = hashlib.sha1(f"{seed}|rt|{url}".encode()).digest()
    return 10 + int.from_bytes(d[:4], "big") % 491


def page_fmt(seed: int, url: str) -> str:
    return _FMTS[_bytes_for(seed, f"fmt|{url}", 1)[0] % len(_FMTS)]


def page_status_ct(cfg: WebConfig, url: str) -> tuple[int, str]:
    rng = _rng_for(cfg.seed, f"st|{url}")
    u = float(rng.random())
    if u < cfg.p_status_404:
        status = 404
    elif u < cfg.p_status_404 + cfg.p_status_500:
        status = 500
    else:
        status = 200
    ct = "application/pdf" if float(rng.random()) < cfg.p_non_html else "text/html; charset=utf-8"
    return status, ct


def page_links(cfg: WebConfig, host_idx: int, page_idx: int, pph: np.ndarray) -> list[str]:
    """Outgoing hrefs in generated order — may contain duplicates (exercises
    per-page dedup A1, reference linkextractor.go:31-57)."""
    url = page_url(host_idx, page_idx)
    rng = _rng_for(cfg.seed, f"lnk|{url}")
    deg = int(rng.integers(1, cfg.max_degree + 1))
    out: list[str] = []
    for _ in range(deg):
        u = float(rng.random())
        if u < cfg.p_same_host:
            out.append(page_url(host_idx, int(rng.integers(0, pph[host_idx]))))
        elif u < cfg.p_same_host + cfg.p_cross_host:
            th = int(rng.integers(0, cfg.n_hosts))
            out.append(page_url(th, int(rng.integers(0, pph[th]))))
        elif u < cfg.p_same_host + cfg.p_cross_host + cfg.p_dangling:
            out.append(f"http://h{host_idx}.test/missing/{int(rng.integers(0, 50))}")
        else:
            bl = cfg.blacklist_hosts[int(rng.integers(0, len(cfg.blacklist_hosts)))]
            out.append(f"http://{bl}/x/{int(rng.integers(0, 10))}")
    if float(rng.random()) < 0.3:  # duplicate href within the page
        out.append(out[0])
    return out


def render_body_html(url: str, caption: str, links: list[str]) -> str:
    """Absolute-href HTML body (FIXTURES.md §2: absolute-only so the
    reference's relative-URL aliasing quirk cannot diverge). Includes a
    caption-word table — the scrape target for the X4 operator
    (tianalyser.go:80-118 analog)."""
    anchors = "\n".join(f'<a href="{href}">link</a>' for href in links)
    words = caption.split(" ")[:-1]  # drop the trailing [url] marker
    table_rows = "\n".join(
        f"<tr><td>{i}</td><td>{w}</td></tr>" for i, w in enumerate(words)
    )
    return (
        f"<html><head><title>{url}</title></head><body>\n"
        f"<a name=\"top\"></a>\n<p>{caption}</p>\n"
        f"<table>\n{table_rows}\n</table>\n{anchors}\n</body></html>"
    )


def gen_page_row(cfg: WebConfig, host_idx: int, page_idx: int, pph: np.ndarray) -> dict:
    url = page_url(host_idx, page_idx)
    px = page_pixels(cfg.seed, url, cfg.img_w, cfg.img_h)
    fmt = page_fmt(cfg.seed, url)
    caption = page_caption(cfg.seed, url)
    status, ct = page_status_ct(cfg, url)
    links = page_links(cfg, host_idx, page_idx, pph)
    return {
        "image_id": url,
        "bytes": encode_image(px, fmt),
        "w": np.int32(cfg.img_w),
        "h": np.int32(cfg.img_h),
        "fmt": fmt,
        "caption": caption,
        "phash": np.int64(phash64(px)),
        "status": np.int32(status),
        "content_type": ct,
        "body_html": render_body_html(url, caption, links),
    }


def _host_offsets(pph: np.ndarray) -> np.ndarray:
    return np.concatenate([[0], np.cumsum(pph)])


def global_to_hp(gidx: int, offsets: np.ndarray) -> tuple[int, int]:
    host_idx = int(np.searchsorted(offsets, gidx, side="right") - 1)
    return host_idx, int(gidx - offsets[host_idx])


def generate_pandas(cfg: WebConfig) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Small-scale generation for pytest: returns (pages, edges) DataFrames."""
    pph = pages_per_host(cfg)
    rows, edge_rows = [], []
    for hi in range(cfg.n_hosts):
        for pi in range(int(pph[hi])):
            row = gen_page_row(cfg, hi, pi, pph)
            rows.append(row)
            for dst in page_links(cfg, hi, pi, pph):
                edge_rows.append({"src": row["image_id"], "dst": dst})
    pages = pd.DataFrame(rows)
    edges = pd.DataFrame(edge_rows, columns=["src", "dst"])
    return pages, edges


def seeds_for(cfg: WebConfig) -> pd.DataFrame:
    """First page of the n_seeds largest hosts, priority cfg.seed_priority."""
    urls = [page_url(hi, 0) for hi in range(min(cfg.n_seeds, cfg.n_hosts))]
    return pd.DataFrame({"url": urls, "priority": np.int32(cfg.seed_priority)})


def robots_for(cfg: WebConfig) -> pd.DataFrame:
    """Deterministic robots table: every 5th host disallows /p/4* paths."""
    rows = []
    for hi in range(cfg.n_hosts):
        disallow = ["/missing/"] + (["/p/4"] if hi % 5 == 4 else [])
        delay = (
            cfg.crawl_delay_ms
            if cfg.crawl_delay_every and hi % cfg.crawl_delay_every == 0
            else 0
        )
        rows.append({
            "host": host_name(hi),
            "disallow_prefixes": disallow,
            "crawl_delay_ms": np.int64(delay),
        })
    return pd.DataFrame(rows)


def write_parquet_tables(cfg: WebConfig, out_dir: str) -> str:
    """Small-scale (pytest) materialization: pages/edges/seeds/robots parquet
    via pandas+pyarrow — same rows as generate_spark, no session needed."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    pages, edges = generate_pandas(cfg)
    pages.to_parquet(f"{out_dir}/pages.parquet", index=False)
    edges.to_parquet(f"{out_dir}/edges.parquet", index=False)
    seeds_for(cfg).to_parquet(f"{out_dir}/seeds.parquet", index=False)
    robots_for(cfg).to_parquet(f"{out_dir}/robots.parquet", index=False)
    return out_dir


def generate_spark(spark, cfg: WebConfig, out_dir: str, partitions: int | None = None):
    """Scale path: generate pages+edges as a distributed Spark job.

    ``spark.range(n_pages)`` → ``mapInPandas`` with the same pure row function
    — no shuffle, no driver materialization; this is how the 10^10-URL
    frontier input would be laid down on a real cluster.
    """
    from pyspark.sql import functions as F  # noqa: N812

    pph = pages_per_host(cfg)
    offsets = _host_offsets(pph)
    sc_cfg = cfg  # closure capture (plain dataclass, pickles cheaply)

    pages_schema = (
        "image_id string, bytes binary, w int, h int, fmt string, caption string, "
        "phash long, status int, content_type string, body_html string"
    )

    def gen_batch(it):
        for pdf in it:
            out = []
            for gidx in pdf["id"].tolist():
                hi, pi = global_to_hp(int(gidx), offsets)
                out.append(gen_page_row(sc_cfg, hi, pi, pph))
            yield pd.DataFrame(out)

    n_part = partitions or max(1, cfg.n_pages // 1000)
    base = spark.range(0, cfg.n_pages, numPartitions=n_part)
    pages_df = base.mapInPandas(gen_batch, schema=pages_schema)
    pages_df.write.mode("overwrite").parquet(f"{out_dir}/pages.parquet")

    def edge_batch(it):
        for pdf in it:
            srcs, dsts = [], []
            for gidx in pdf["id"].tolist():
                hi, pi = global_to_hp(int(gidx), offsets)
                src = page_url(hi, pi)
                for dst in page_links(sc_cfg, hi, pi, pph):
                    srcs.append(src)
                    dsts.append(dst)
            yield pd.DataFrame({"src": srcs, "dst": dsts})

    edges_df = base.mapInPandas(edge_batch, schema="src string, dst string")
    edges_df.write.mode("overwrite").parquet(f"{out_dir}/edges.parquet")

    spark.createDataFrame(seeds_for(cfg)).withColumn(
        "priority", F.col("priority").cast("int")
    ).write.mode("overwrite").parquet(f"{out_dir}/seeds.parquet")
    spark.createDataFrame(robots_for(cfg)).write.mode("overwrite").parquet(
        f"{out_dir}/robots.parquet"
    )
    return out_dir
