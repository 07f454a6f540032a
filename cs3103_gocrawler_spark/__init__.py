"""cs3103_gocrawler_spark — a from-scratch PySpark-native distributed URL
frontier + fetch scheduler with the query/data-processing semantics of the
Go reference ``yusufaine/cs3103-gocrawler`` (read-only at /root/reference).

This is NOT a port: the reference's goroutine recursion + mutex-guarded maps
(reference crawler.go:19-32) are re-expressed as micro-batch DataFrame rounds
over durable frontier/visited/pages/metrics tables (SURVEY.md §3.2, §7).

Layout
------
synthetic/   deterministic seeded web generator (pages+edges+seeds+robots)
             and the image payload codecs per BASELINE.json input_hint
oracle/      sequential pure-Python oracle of the reference BFS semantics —
             the definition of "correct" for conformance tests (SURVEY §5.2.2)
operators/   the crawl's Spark operators: canonicalize (U1), seen-set
             exact anti-join (J1), politeness window-rank dequeue (W2), link
             extraction (U3/X1), fused fetch (J4/U2), matchers (P1-P6),
             payload validation (U4/X5), robots (live mode), the X4
             table scrape of the reference's tianalyser, and the
             training-data pipeline ops (dedup / textstats / temporal)
             behind the query registry
functions/   scalar helpers: URL column functions, retry backoff policies
plans/       report/aggregate queries (A3-A7) and the operator query
             registry with DuckDB twins (``generic_queries.QUERIES``)
streaming/   the micro-batch round loop + checkpoint/resume
storage.py   table catalog: parquet snapshot layout (Iceberg-ready interface)
"""

__version__ = "0.1.0"
