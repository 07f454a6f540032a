"""Report queries (SURVEY.md §3.3) — the flagship batch shapes over the
crawl output tables: host aggregates (A3/A4/A6), crawl ordering (W3), the
geo-enrichment dimension join (J6/S5/S6) with an explicit-schema
``from_json`` parse of the simulated RPC payload (F12), and the JSON report
sink (S7) with a distributed mode for crawls too large for one file.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F  # noqa: N812


def host_report(visited: DataFrame) -> DataFrame:
    """Per-host NetworkInfo report (sitemap.go:25-57 semantics): distinct-path
    count, sorted path list, total/avg response time — avg over *distinct
    paths* with the ÷0→1 guard (sitemap.go:43-48, SURVEY.md §1.3)."""
    return (
        visited.groupBy("host")
        .agg(
            F.countDistinct("path").alias("path_count"),
            F.array_sort(F.collect_set("path")).alias("visited_paths"),
            F.sum("resp_ms").alias("total_response_ms"),
        )
        .withColumn(
            "avg_response_ms",
            F.floor(
                F.col("total_response_ms") / F.greatest(F.lit(1), F.col("path_count"))
            ).cast("long"),
        )
    )


def crawl_order(visited: DataFrame) -> DataFrame:
    """W3 — the recorded per-host crawl ordering the conformance check
    compares: deterministic at any parallelism level."""
    w = Window.partitionBy("host").orderBy("round_id", "priority", "depth", "url")
    return visited.select("host", "url", "round_id", "priority", "depth").withColumn(
        "seq", (F.row_number().over(w) - 1).cast("int")
    )


GEO_SCHEMA = "ip string, location string, as_number string"


def geo_payload_col(host_col):
    """Simulated ipapi.co response body (crawler.go:222-249) as a JSON string
    column — deterministic from the host (sha1-derived, matching the synthetic
    DNS stand-in S5), computed entirely JVM-side. In a live deployment this
    column is the raw RPC response fetched inside a mapInPandas batch."""
    hx = F.sha1(host_col)

    def b(i: int):
        return F.conv(F.substring(hx, 2 * i + 1, 2), 16, 10).cast("int")

    ip = F.concat_ws(".", F.lit("10"), b(0), b(1), b(2))
    loc = F.concat(F.lit("Region-"), (b(3) % 32).cast("string"))
    asn = F.concat(F.lit("AS"), (b(4) * 256 + b(5)).cast("string"))
    return F.to_json(
        F.struct(ip.alias("ip"), loc.alias("location"), asn.alias("as_number"))
    )


def geo_dim(hosts: DataFrame, host_col: str = "host") -> DataFrame:
    """F12 — parse the (simulated) ipapi JSON payload with an EXPLICIT schema
    via ``from_json`` (reference crawler.go:239-246 json.Unmarshal into a
    typed struct): host → (ip, location, as_number). Stays distributed — no
    driver-side host list."""
    parsed = F.from_json(geo_payload_col(F.col(host_col)), GEO_SCHEMA)
    return hosts.select(
        host_col,
        parsed.getField("ip").alias("ip"),
        parsed.getField("location").alias("location"),
        parsed.getField("as_number").alias("as_number"),
    )


def host_report_with_geo(spark: SparkSession, visited: DataFrame) -> DataFrame:
    """Host report enriched via broadcast dimension join (J6) — the RPC of
    the reference becomes a dimension join in the Spark design; the dim is
    derived from the distinct hosts without any driver collect.

    Live mode (S5): when the visited view carries ``remote_ip`` (real
    per-worker DNS resolution, crawler.go:122-126), the report's ip column
    is that resolved address — the synthetic sha1-derived dim only stands in
    when no live resolution exists. Geo fields stay null live: the
    reference's ipapi.co enrichment is an external RPC this sandbox can't
    reach, and fabricating locations for real IPs would be wrong."""
    rep = host_report(visited)
    if "remote_ip" in visited.columns:
        dim = (
            visited.groupBy("host")
            .agg(F.min("remote_ip").alias("ip"))
            .withColumn("location", F.lit(None).cast("string"))
            .withColumn("as_number", F.lit(None).cast("string"))
        )
    else:
        dim = geo_dim(rep.select("host").distinct())
    return rep.join(F.broadcast(dim), "host", "left")


def default_report_path(app: str = "report", now: float | None = None) -> str:
    """F9 — the reference's timestamped default report filename
    (example/explorer/internal/explorer/config.go:31: Go layout
    ``2006-01-02_15-04``)."""
    t = time.localtime(now if now is not None else time.time())
    return f"{app}_{time.strftime('%Y-%m-%d_%H-%M', t)}.json"


def _network_info_rows(spark: SparkSession, visited: DataFrame) -> DataFrame:
    return host_report_with_geo(spark, visited).select(
        "host",
        F.struct(
            F.array(F.struct("ip", "location", "as_number")).alias("remote_ip_info"),
            "avg_response_ms", "path_count", "visited_paths",
        ).alias("info"),
    )


def _page_info_rows(visited: DataFrame) -> DataFrame:
    return visited.select(
        "url", "depth", "parent",
        F.array_sort(F.coalesce("links", F.array())).alias("links"),
    )


def write_report(engine, path: str, wall_sec: float, config: dict,
                 mode: str = "auto", small_threshold: int = 100_000) -> dict:
    """S7 — the JSON report sink (filewriter.ToJSON, explorerreport.go:12-21):
    scalar header (seeds/depth/rps analog/crawl_time) + per-host network_info
    (A3/A4/A6 + geo J6) + per-URL page_info.

    ``mode='single'`` reproduces the reference's one-file shape — it
    necessarily materializes one row per visited URL driver-side, so it is
    gated behind ``small_threshold``. ``mode='distributed'`` (what ``auto``
    picks past the threshold) writes the per-URL and per-host sections with
    ``df.write.json`` — executors write, the driver collects only the scalar
    header — and the report file holds pointers to the section directories.
    A 10^10-URL crawl has no one-file report; this split is the scale-correct
    form of the same contract (SURVEY §1.1.5)."""
    import json
    import os

    visited = engine.visited_df()
    spark = engine.spark
    n_visited = 0 if visited is None else visited.count()
    if mode == "auto":
        mode = "single" if n_visited <= small_threshold else "distributed"

    report = {
        "config": {k: v for k, v in sorted(config.items()) if k != "report"},
        "crawl_time": f"{wall_sec:.3f}s",
    }
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)

    if mode == "single":
        net, page = {}, {}
        if visited is not None:
            for r in _network_info_rows(spark, visited).collect():
                info = r["info"].asDict(recursive=True)
                info["visited_paths"] = list(info["visited_paths"])
                net[r["host"]] = [info]
            for r in _page_info_rows(visited).collect():
                page[r["url"]] = {
                    "depth": r["depth"], "parent": r["parent"],
                    "links": list(r["links"]),
                }
        report["network_info"] = dict(sorted(net.items()))
        report["page_info"] = dict(sorted(page.items()))
    else:
        base = os.path.abspath(path) + ".d"
        if visited is not None:
            _network_info_rows(spark, visited).write.mode("overwrite").json(
                os.path.join(base, "network_info")
            )
            _page_info_rows(visited).write.mode("overwrite").json(
                os.path.join(base, "page_info")
            )
        report["network_info_dir"] = os.path.join(base, "network_info")
        report["page_info_dir"] = os.path.join(base, "page_info")
        report["n_pages"] = n_visited

    with open(path, "w") as fh:
        json.dump(report, fh, indent=2, sort_keys=True)
    return report
