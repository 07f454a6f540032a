"""Operator-inventory queries over the generic testdata tables (FIXTURES §6).

Each entry maps one SURVEY.md §2 operator (or training-data pipeline op) to
(a) a Spark callable ``(spark, sf_dir) -> DataFrame`` and (b) an ANSI-SQL
twin DuckDB runs on the same parquet for the driver's correctness gate.

Cross-engine parity rules used throughout:
* money/value sums go through integer cents (``floor(x*100)``) — identical
  per-row IEEE doubles floor to identical ints, so sums are exact.
* unavoidable doubles (ratios, cosines) are ``round(…, 6)`` on both sides
  computed with the identical formula/operand order.
* Spark's int-typed ``size``/``row_number`` are cast to long to match
  DuckDB's BIGINT.
* the shared 60-bit hash is the md5-prefix trick (operators/dedup.py).

Every entry — including the pandas-UDF pipelines (lang_id, scrape) and
the MinHash LSH path — carries a full SQL twin: deterministic UDF outputs
are *reconstructed* in SQL (md5/sha256 + arithmetic), so the driver's hash
gate covers the whole registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F  # noqa: N812

from ..operators import dedup, temporal, textstats

STOP_SQL = "['" + "','".join(textstats.STOPWORDS) + "']"

_WORDS_SQL = (
    "list_filter(string_split_regex(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +'), w -> w <> '')"
)
_HASH_SQL = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    return F.floor(col * 100).cast("long")


# --------------------------------------------------------------------------
# §2.3/§2.6 — joins & set ops
# --------------------------------------------------------------------------

def q_seen_anti_join(spark, sf_dir):
    """J1/SO1 — the URL-seen anti-join shape (crawler.go:74-79)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


SQL_SEEN_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
"""


def q_broadcast_dim_join(spark, sf_dir):
    """J6 — geo-enrichment as broadcast dimension join (crawler.go:222-249)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_cents(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
            .alias("revenue_cents"),
            F.count("*").alias("n_items"),
        )
    )


SQL_BROADCAST_DIM_JOIN = """
SELECT p_brand,
       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_fetch_join(spark, sf_dir):
    """J4 — the fetch join: frontier URL → page payload as a *left* join
    against the keyed pages table (crawler.go:128-148 re-expressed as a
    storage join; misses ≙ HTTP 404)."""
    frontier = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("url_key"))
        .distinct()
    )
    pages = _t(spark, sf_dir, "customer")
    return (
        frontier.join(pages, frontier.url_key == pages.c_custkey, "left")
        .select(
            "url_key",
            F.when(F.col("c_name").isNull(), F.lit(404))
            .otherwise(F.lit(200))
            .cast("long")
            .alias("status"),
            F.coalesce("c_mktsegment", F.lit("")).alias("payload"),
        )
    )


SQL_FETCH_JOIN = """
SELECT url_key,
       CAST(CASE WHEN c_name IS NULL THEN 404 ELSE 200 END AS BIGINT) AS status,
       coalesce(c_mktsegment, '') AS payload
FROM (SELECT DISTINCT o_custkey AS url_key FROM orders) f
LEFT JOIN customer ON url_key = c_custkey
"""


def q_blacklist_theta_join(spark, sf_dir):
    """P8/J3 — explorer's substring blacklist: bidirectional-contains theta
    anti-join (example/explorer/internal/explorer/linkextractor.go:34-42),
    broadcast-nested-loop on the tiny blacklist side."""
    bl = spark.createDataFrame([("src1",), ("c3",)], "bl string")
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.join(
            F.broadcast(bl),
            F.expr("contains(source, bl) OR contains(bl, source)"),
            "left_anti",
        )
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


SQL_BLACKLIST_THETA_JOIN = """
SELECT source, count(*) AS n_docs FROM documents
WHERE NOT EXISTS (SELECT 1 FROM (VALUES ('src1'), ('c3')) AS bl(b)
                  WHERE contains(source, b) OR contains(b, source))
GROUP BY source
"""


def q_same_host_filter(spark, sf_dir):
    """P9 — sitemapper's same-host link filter
    (example/sitemapper/internal/sitemapper/linkextractor.go:26-43): a
    projection-level equality between link host and page host — no join,
    the parent host rides the row."""
    ev = _t(spark, sf_dir, "events")
    link_host = (
        F.when(F.col("value") >= 0.5, F.lit("click")).otherwise(F.lit("view"))
    )
    return (
        ev.select(
            "event_id",
            F.col("event_type").alias("page_host"),
            link_host.alias("link_host"),
        )
        .filter(F.col("link_host") == F.col("page_host"))
    )


SQL_SAME_HOST_FILTER = """
SELECT event_id, event_type AS page_host,
       CASE WHEN value >= 0.5 THEN 'click' ELSE 'view' END AS link_host
FROM events
WHERE (CASE WHEN value >= 0.5 THEN 'click' ELSE 'view' END) = event_type
"""


def q_robots_gate(spark, sf_dir):
    """Robots disallow-prefix gate (north_rule; streaming/rounds.py
    ``_robots_gate``): drop rows whose path starts with any disallowed
    prefix for their host — EXISTS over a per-host prefix array."""
    docs = _t(spark, sf_dir, "documents")
    path = F.concat(F.lit("/"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string"))
    rules = spark.createDataFrame(
        [("src1", ["/src1/1", "/src1/2"]), ("src3", ["/src3/"])],
        "host string, disallow_prefixes array<string>",
    )
    joined = docs.withColumn("path", path).withColumn("host", F.col("source")).join(
        F.broadcast(rules), "host", "left"
    )
    blocked = F.exists(
        F.coalesce(F.col("disallow_prefixes"), F.array()),
        lambda p: F.col("path").startswith(p),
    )
    return (
        joined.filter(~blocked)
        .groupBy("host")
        .agg(F.count("*").alias("n_allowed"))
    )


SQL_ROBOTS_GATE = """
WITH rules(host, p) AS (VALUES ('src1', '/src1/1'), ('src1', '/src1/2'), ('src3', '/src3/'))
SELECT source AS host, count(*) AS n_allowed FROM documents
WHERE NOT EXISTS (
  SELECT 1 FROM rules
  WHERE rules.host = source
    AND starts_with('/' || source || '/' || CAST(doc_id AS VARCHAR), p))
GROUP BY source
"""


def q_union_dedup(spark, sf_dir):
    """SO2/A1 — frontier-append union + dedup."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.select(F.col("o_custkey").alias("key"))
        .union(customer.select(F.col("c_custkey").alias("key")))
        .distinct()
    )


SQL_UNION_DEDUP = """
SELECT DISTINCT key FROM (
  SELECT o_custkey AS key FROM orders
  UNION ALL SELECT c_custkey AS key FROM customer
)
"""

# --------------------------------------------------------------------------
# §2.4 — aggregations
# --------------------------------------------------------------------------

def q_host_aggregate(spark, sf_dir):
    """A3/A4/A6 — the per-host NetworkInfo aggregate shape
    (crawler.go:186-219, sitemap.go:35-48): distinct count, sorted set,
    integer total, avg with the ÷0→1 guard."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderstatus").cast("long").alias("status_count"),
            # serialized (not array<string>) so the driver's canonicalizer —
            # which sort_values the output columns — can hash it
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), "|")
            .alias("statuses"),
            F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
            F.count("*").alias("n_orders"),
        )
        .withColumn(
            "avg_cents_per_status",
            F.floor(
                F.col("total_cents") / F.greatest(F.lit(1), F.col("status_count"))
            ).cast("long"),
        )
    )


SQL_HOST_AGGREGATE = """
SELECT o_orderpriority,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS status_count,
       array_to_string(list_sort(list(DISTINCT o_orderstatus)), '|') AS statuses,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       count(*) AS n_orders,
       CAST(floor(CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
            / greatest(1, count(DISTINCT o_orderstatus))) AS BIGINT) AS avg_cents_per_status
FROM orders GROUP BY o_orderpriority
"""


def q_first_writer_wins(spark, sf_dir):
    """A5 — deterministic first-writer-wins via min-(key) struct
    (crawler.go:262-272 made deterministic, SURVEY §1.3)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.col("o_orderdate").alias("first_orderdate"),
        )
    )


SQL_FIRST_WRITER_WINS = """
SELECT o_custkey, o_orderkey AS first_orderkey, o_orderdate AS first_orderdate
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders)
WHERE rn = 1
"""


def q_min_depth_merge(spark, sf_dir):
    """A2/F7 — min-merge (crawler.go:141-144)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.min("l_linenumber").alias("min_line"),
        F.max("l_linenumber").alias("max_line"),
        F.count("*").alias("n_lines"),
    )


SQL_MIN_DEPTH_MERGE = """
SELECT l_orderkey, min(l_linenumber) AS min_line, max(l_linenumber) AS max_line,
       count(*) AS n_lines
FROM lineitem GROUP BY l_orderkey
"""


def q_rollup_agg(spark, sf_dir):
    """Rollup — free-from-Spark grouping sets (SURVEY §2.4 note)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(_cents(F.col("l_quantity"))).alias("qty_cents"),
        F.count("*").alias("n"),
    )


SQL_ROLLUP_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents, count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube_agg(spark, sf_dir):
    """T43 — cube + grouping_id (§2.4's full grouping-sets shape): all four
    (returnflag × linestatus) subtotal planes in one pass. ``grouping_id``
    disambiguates a NULL group key from a subtotal row — without it the
    all-NULL data row and the grand total would be indistinguishable, which
    is exactly the bug class the twin's GROUPING() arithmetic pins down."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping_id().alias("gid"),
        F.sum(_cents(F.col("l_quantity"))).alias("qty_cents"),
        F.count("*").alias("n"),
    )


SQL_CUBE_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
       CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
       count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""

# --------------------------------------------------------------------------
# §2.5 — window / ordering / top-k
# --------------------------------------------------------------------------

def q_politeness_rank_dequeue(spark, sf_dir):
    """W2 — the politeness window-rank dequeue shape (crawler.go:57,105)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    return (
        li.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "rank")
    )


SQL_POLITENESS_RANK_DEQUEUE = """
SELECT l_suppkey, l_orderkey, l_linenumber, rank FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rank
  FROM lineitem)
WHERE rank <= 3
"""


def q_politeness_delay_capped_dequeue(spark, sf_dir):
    """W2 + crawl_delay politeness (round-3, north_rule): the per-host take is
    least(budget, max(1, round_target_ms // crawl_delay_ms)) for delayed hosts
    — here every (l_suppkey % 3 == 0) supplier models a host with a 400 ms
    delay under a 1000 ms round target (cap 2), others take the flat budget 3.
    Same shape the engine runs in streaming/rounds.py (delay-caps dim joined
    onto the rank filter)."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber")
    take = F.when(
        F.col("l_suppkey") % 3 == 0,
        F.least(F.lit(3), F.greatest(F.lit(1), F.floor(F.lit(1000) / F.lit(400)).cast("int"))),
    ).otherwise(F.lit(3))
    return (
        li.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= take)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "rank")
    )


SQL_POLITENESS_DELAY_CAPPED_DEQUEUE = """
SELECT l_suppkey, l_orderkey, l_linenumber, rank FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         row_number() OVER (PARTITION BY l_suppkey
                            ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rank
  FROM lineitem)
WHERE rank <= CASE WHEN l_suppkey % 3 = 0
                   THEN LEAST(3, GREATEST(1, CAST(FLOOR(1000.0 / 400) AS INT)))
                   ELSE 3 END
"""


def q_host_skew_stats(spark, sf_dir):
    """T32 — key-skew diagnostics (north_rule: know the per-host skew before
    it reaches one reducer; the engine's dequeue leaves it to Catalyst's
    per-partition ``WindowGroupLimit``): per-key row counts → exact max /
    mean / p50 / p90 / p99 and the max-over-mean skew ratio. events.user_id
    stands in for the per-host frontier queue depth.

    Scale shape: the per-key count is one map-side-partial aggregate over the
    full table; everything after runs on the KEY-count relation (|keys| ≪
    |rows|) — the single global row_number window sorts only that bounded
    key relation, never the raw rows. Percentiles use the exact
    rank-at-ceil(p·K) definition (no engine-specific interpolation), so the
    DuckDB twin is bit-stable."""
    counts = _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("cnt")
    )
    tot = counts.agg(F.count("*").alias("_k"), F.sum("cnt").alias("_total"))
    ranked = counts.crossJoin(F.broadcast(tot)).withColumn(
        "rn", F.row_number().over(Window.orderBy("cnt", "user_id")).cast("long")
    )
    agg = ranked.agg(
        F.max("_k").alias("k"),
        F.max("_total").alias("total"),
        F.max("cnt").alias("mx"),
        F.max(F.when(F.col("rn") == F.ceil(F.col("_k") / 2.0), F.col("cnt"))).alias("p50"),
        F.max(F.when(F.col("rn") == F.ceil(F.col("_k") * 0.9), F.col("cnt"))).alias("p90"),
        F.max(F.when(F.col("rn") == F.ceil(F.col("_k") * 0.99), F.col("cnt"))).alias("p99"),
    )
    return agg.select(
        F.col("k").cast("long").alias("n_keys"),
        F.col("total").cast("long").alias("total_rows"),
        F.col("mx").cast("long").alias("max_cnt"),
        F.round(F.col("total") / F.col("k").cast("double"), 6).alias("avg_cnt"),
        F.col("p50").cast("long").alias("p50_cnt"),
        F.col("p90").cast("long").alias("p90_cnt"),
        F.col("p99").cast("long").alias("p99_cnt"),
        F.round(
            (F.col("mx") * F.col("k")) / F.col("total").cast("double"), 6
        ).alias("skew_ratio"),
    )


SQL_HOST_SKEW_STATS = """
WITH counts AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
tot AS (SELECT count(*) AS k, sum(cnt) AS total FROM counts),
ranked AS (
  SELECT c.cnt, c.user_id, t.k, t.total,
         row_number() OVER (ORDER BY c.cnt, c.user_id) AS rn
  FROM counts c CROSS JOIN tot t),
agg AS (
  SELECT max(k) AS k, max(total) AS total, max(cnt) AS mx,
         max(CASE WHEN rn = ceil(k / 2.0) THEN cnt END) AS p50,
         max(CASE WHEN rn = ceil(k * 0.9) THEN cnt END) AS p90,
         max(CASE WHEN rn = ceil(k * 0.99) THEN cnt END) AS p99
  FROM ranked)
SELECT CAST(k AS BIGINT) AS n_keys,
       CAST(total AS BIGINT) AS total_rows,
       CAST(mx AS BIGINT) AS max_cnt,
       round(total / CAST(k AS DOUBLE), 6) AS avg_cnt,
       CAST(p50 AS BIGINT) AS p50_cnt,
       CAST(p90 AS BIGINT) AS p90_cnt,
       CAST(p99 AS BIGINT) AS p99_cnt,
       round((mx * k) / CAST(total AS DOUBLE), 6) AS skew_ratio
FROM agg
"""


def q_window_topk_per_group(spark, sf_dir):
    """W4 — top-k per group (skew-guard rank filter)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


SQL_WINDOW_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders)
WHERE rank <= 2
"""


def q_ntile_percent_rank(spark, sf_dir):
    """T44 — distribution windows (§2.5): quartile bucket (`ntile`) and
    `percent_rank` of order value within each priority class. The window
    order is a TOTAL order (cents, then orderkey), so bucket boundaries are
    parallelism-invariant; percent_rank = k/(n-1) with prime-ish group
    sizes never lands on a decimal rounding boundary, so round(…,6) is
    bit-stable across engines."""
    orders = _t(spark, sf_dir, "orders")
    cents = _cents(F.col("o_totalprice")).alias("price_cents")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("price_cents").asc(), F.col("o_orderkey").asc()
    )
    return (
        orders.select("o_orderkey", "o_orderpriority", cents)
        .withColumn("quartile", F.ntile(4).over(w).cast("long"))
        .withColumn("pct_rank", F.round(F.percent_rank().over(w), 6))
    )


SQL_NTILE_PERCENT_RANK = """
SELECT o_orderkey, o_orderpriority,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT), o_orderkey)
"""

# --------------------------------------------------------------------------
# §2.2 / §2.7 — filters & scalar functions
# --------------------------------------------------------------------------

def q_matcher_conjunction(spark, sf_dir):
    """P2-P6 — ordered predicate conjunction (crawler.go:153-158)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderstatus") == "O")
        & F.col("o_totalprice").between(1000, 200000)
        & F.col("o_orderpriority").contains("1")
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")


SQL_MATCHER_CONJUNCTION = """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice BETWEEN 1000 AND 200000
  AND contains(o_orderpriority, '1')
"""


def q_url_parse(spark, sf_dir):
    """F1/F12 — URL parse → host/path/query-param over constructed URLs."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("http://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        F.regexp_extract(url, r"https?://([^/]+)", 1).alias("host"),
        F.regexp_extract(url, r"https?://[^/]+(/[^?#]*)", 1).alias("path"),
        F.regexp_extract(url, r"[?&]lang=([^&#]*)", 1).alias("lang_param"),
    )


SQL_URL_PARSE = """
SELECT doc_id,
       'http://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
         || '?lang=' || lang AS url,
       regexp_extract('http://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang,
                      'https?://([^/]+)', 1) AS host,
       regexp_extract('http://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang,
                      'https?://[^/]+(/[^?#]*)', 1) AS path,
       regexp_extract('http://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR) || '?lang=' || lang,
                      '[?&]lang=([^&#]*)', 1) AS lang_param
FROM documents
"""


def q_edge_explode_tokens(spark, sf_dir):
    """J5/X1 — explode fan-out (link edges ≙ token edges)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(dedup.normalized_words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


SQL_EDGE_EXPLODE_TOKENS = f"""
SELECT token, count(*) AS n FROM (
  SELECT unnest({_WORDS_SQL}) AS token FROM documents)
GROUP BY token
"""


def q_event_window_agg(spark, sf_dir):
    """§2.9 — tumbling-window micro-batch aggregate (round ≙ hour window)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_milli"),
        )
    )


SQL_EVENT_WINDOW_AGG = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# §8 T38-T40 — temporal operators (operators/temporal.py)
# --------------------------------------------------------------------------

def q_asof_attribution(spark, sf_dir):
    """T38 — backward as-of join: each purchase attributes to the user's most
    recent prior (or simultaneous) view; ties on view ts break to the larger
    event_id. One shuffle on user_id (union-tag + carry-forward window) — no
    per-key loop, no range probe (operators/temporal.py)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_event_id"),
        )
    )
    joined = temporal.asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="view_ts",
        carry=("view_event_id", "view_ts"),
        tiebreak="view_event_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("view_event_id").alias("last_view_event_id"),
        F.when(
            F.col("view_event_id").isNotNull(),
            temporal._us("ts") - temporal._us("view_ts"),
        ).alias("view_gap_us"),
    )


SQL_ASOF_ATTRIBUTION = """
SELECT p.event_id, p.user_id, p.ts,
       v.view_event_id AS last_view_event_id,
       CASE WHEN v.view_event_id IS NULL THEN NULL
            ELSE epoch_us(p.ts) - epoch_us(v.view_ts) END AS view_gap_us
FROM events p
LEFT JOIN LATERAL (
    SELECT event_id AS view_event_id, ts AS view_ts
    FROM events
    WHERE event_type = 'view' AND user_id = p.user_id AND ts <= p.ts
    ORDER BY ts DESC, event_id DESC LIMIT 1
) v ON true
WHERE p.event_type = 'purchase'
"""


def q_range_window_clicks(spark, sf_dir):
    """T39 — point-in-interval range join: clicks landing inside the hour
    after each purchase, counted per purchase window. Hour-binned equi-join
    + residual exact predicate — never a cross product; the oracle states
    the same relation as a plain inequality join (operators/temporal.py)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("window_id"), F.col("ts").alias("window_start")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"), "value"
    )
    matched = temporal.interval_join(
        clicks,
        purchases,
        point_ts="click_ts",
        start_ts="window_start",
        duration_us=temporal.HOUR_US,
    )
    return matched.groupBy("window_id").agg(
        F.count("*").alias("n_clicks"),
        F.sum(_cents(F.col("value"))).alias("click_value_cents"),
    )


SQL_RANGE_WINDOW_CLICKS = """
SELECT p.event_id AS window_id,
       count(*) AS n_clicks,
       CAST(sum(CAST(floor(c.value * 100) AS BIGINT)) AS BIGINT) AS click_value_cents
FROM events p
JOIN events c
  ON c.event_type = 'click'
 AND epoch_us(c.ts) >= epoch_us(p.ts)
 AND epoch_us(c.ts) < epoch_us(p.ts) + 3600000000
WHERE p.event_type = 'purchase'
GROUP BY 1
"""


def q_sessionize(spark, sf_dir):
    """T40 — gap sessionization (30-min inactivity) → per-session rollup.
    lag-boundary + running sum over one (user, ts, event_id) window, then a
    groupBy on the same key — a single shuffle end-to-end
    (operators/temporal.py)."""
    ev = _t(spark, sf_dir, "events")
    s = temporal.sessionize(
        ev, key="user_id", ts="ts", tiebreak="event_id", gap_us=30 * temporal.MINUTE_US
    )
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("_ev_us").alias("session_start_us"),
        F.max("_ev_us").alias("session_end_us"),
        (F.max("_ev_us") - F.min("_ev_us")).alias("duration_us"),
        F.sum(_cents(F.col("value"))).alias("value_cents"),
    )


SQL_SESSIONIZE = """
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
), b AS (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w > 1800000000
                   THEN 1 ELSE 0 END AS boundary
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
    SELECT *, CAST(sum(boundary) OVER (
        PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING
    ) AS BIGINT) AS session_idx FROM b
)
SELECT user_id, session_idx, count(*) AS n_events,
       min(us) AS session_start_us, max(us) AS session_end_us,
       max(us) - min(us) AS duration_us,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM s GROUP BY 1, 2
"""


def q_event_type_pivot(spark, sf_dir):
    """T42 — pivot (§2.4 wide-aggregation shape): per-user event counts and
    value cents spread across the five event types. The pivot VALUES are
    pinned explicitly — with them, Spark skips the extra distinct-values job
    and the output schema is static (plan = one partial+final aggregate,
    same as any groupBy; a pivot is just an agg with composite columns)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(
            F.count(F.lit(1)).alias("n"),  # count("*") is invalid in a pivot
            F.sum(_cents(F.col("value"))).alias("cents"),
        )
        .select(
            "user_id",
            *[
                F.coalesce(F.col(f"{t}_{m}"), F.lit(0)).alias(f"{t}_{m}")
                for t in types
                for m in ("n", "cents")
            ],
        )
    )


SQL_EVENT_TYPE_PIVOT = """
SELECT user_id,
       count(*) FILTER (event_type = 'click')    AS click_n,
       COALESCE(CAST(sum(CAST(floor(value * 100) AS BIGINT))
                FILTER (event_type = 'click') AS BIGINT), 0)    AS click_cents,
       count(*) FILTER (event_type = 'error')    AS error_n,
       COALESCE(CAST(sum(CAST(floor(value * 100) AS BIGINT))
                FILTER (event_type = 'error') AS BIGINT), 0)    AS error_cents,
       count(*) FILTER (event_type = 'purchase') AS purchase_n,
       COALESCE(CAST(sum(CAST(floor(value * 100) AS BIGINT))
                FILTER (event_type = 'purchase') AS BIGINT), 0) AS purchase_cents,
       count(*) FILTER (event_type = 'signup')   AS signup_n,
       COALESCE(CAST(sum(CAST(floor(value * 100) AS BIGINT))
                FILTER (event_type = 'signup') AS BIGINT), 0)   AS signup_cents,
       count(*) FILTER (event_type = 'view')     AS view_n,
       COALESCE(CAST(sum(CAST(floor(value * 100) AS BIGINT))
                FILTER (event_type = 'view') AS BIGINT), 0)     AS view_cents
FROM events GROUP BY user_id
"""


def q_session_window_agg(spark, sf_dir):
    """T41 — Spark's NATIVE session_window aggregation, the plan fragment a
    Structured-Streaming sessionizer would run over the same events.
    Boundary semantics are half-open — a successor exactly gap later starts
    a NEW session — which is what the twin's ``>=`` boundary rule states."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
        .select(
            "user_id",
            temporal._us(F.col("sw.start")).alias("session_start_us"),
            temporal._us(F.col("sw.end")).alias("session_end_us"),
            "n_events",
            "value_cents",
        )
    )


SQL_SESSION_WINDOW_AGG = """
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events
), b AS (
    SELECT *, CASE WHEN lag(us) OVER w IS NULL
                     OR us - lag(us) OVER w >= 1800000000
                   THEN 1 ELSE 0 END AS boundary
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
    SELECT *, sum(boundary) OVER (
        PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING
    ) AS session_idx FROM b
)
SELECT user_id,
       min(us) AS session_start_us,
       max(us) + 1800000000 AS session_end_us,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM s GROUP BY user_id, session_idx
"""

# --------------------------------------------------------------------------
# training-data pipeline — dedup family
# --------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents GROUP BY 1
"""

_SHINGLES_SQL = """
words AS (SELECT doc_id, {words} AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(ws) >= 3
                  THEN list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                  ELSE [array_to_string(ws, ' ')] END) AS shingle
    FROM words)),
hsh AS (SELECT doc_id, {base_hash} % {p} AS h FROM sh),
sig AS (
  SELECT doc_id,
    {mh_cols}
  FROM hsh GROUP BY doc_id),
banded AS (
  {bands}),
cand AS (
  SELECT DISTINCT l.doc AS doc_a, r.doc AS doc_b
  FROM banded l JOIN banded r
    ON l.band_id = r.band_id AND l.band_key = r.band_key AND l.doc < r.doc)
""".format(
    words=_WORDS_SQL,
    base_hash=_HASH_SQL.format(x="shingle"),
    p=dedup.MINHASH_P,
    mh_cols=",\n    ".join(
        f"min(({a} * h + {b}) % {dedup.MINHASH_P}) AS mh{i}"
        for i, (a, b) in enumerate(dedup.PERM_AB)
    ),
    bands="\n  UNION ALL ".join(
        f"SELECT doc_id AS doc, {b} AS band_id, "
        f"CAST(mh{2*b} AS VARCHAR) || ',' || CAST(mh{2*b+1} AS VARCHAR) AS band_key FROM sig"
        for b in range(dedup.N_PERMS // dedup.BAND_SIZE)
    ),
)


def q_dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


SQL_DEDUP_MINHASH_LSH = f"WITH {_SHINGLES_SQL} SELECT doc_a, doc_b FROM cand"


def q_dedup_components(spark, sf_dir):
    """T26 — near-dup cluster labeling: connected components (hash-min label
    propagation) over the banded-LSH candidate pairs; label = min reachable
    doc id = the cluster's canonical representative."""
    pairs = dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))
    return dedup.neardup_components(pairs)


# min-reachable-id per node via recursive closure — the same fixpoint the
# Spark hash-min loop converges to
SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE {_SHINGLES_SQL},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand),
reach(u, label) AS (
  SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u)
SELECT u AS doc_id, min(label) AS component FROM reach GROUP BY u
"""


def q_dedup_filtered_corpus(spark, sf_dir):
    """T27 — the corpus after near-dup removal: pairs → components →
    drop non-canonical cluster members via an AQE-broadcast anti-join."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.neardup_filter(docs, dedup.minhash_lsh_pairs(docs))


SQL_DEDUP_FILTERED_CORPUS = f"""
WITH RECURSIVE {_SHINGLES_SQL},
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM cand
  UNION
  SELECT doc_b AS u, doc_a AS v FROM cand),
reach(u, label) AS (
  SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u),
comp AS (SELECT u AS doc_id, min(label) AS component FROM reach GROUP BY u)
SELECT d.* FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
"""


def q_dedup_incremental(spark, sf_dir):
    """T30 — per-ingest incremental dedup: the NEW batch (doc_id % 5 == 0)
    probes the EXISTING corpus's banded-LSH index; no corpus self-join, no
    corpus rescan per batch (operators/dedup.incremental_lsh_pairs). The
    per-crawl-round shape of the engine's two-tier seen-set, applied to
    document content instead of URLs."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_lsh_pairs(batch, corpus)


# the unused `cand` CTE of the shared shingle scaffold is never referenced,
# so DuckDB does not evaluate the self-join here
SQL_DEDUP_INCREMENTAL = f"""
WITH {_SHINGLES_SQL}
SELECT DISTINCT b.doc AS batch_doc, c.doc AS corpus_doc
FROM banded b JOIN banded c
  ON b.band_id = c.band_id AND b.band_key = c.band_key
WHERE b.doc % 5 = 0 AND c.doc % 5 <> 0
"""


def q_dedup_ngram_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {_SHINGLES_SQL},
sets AS (SELECT doc_id, list_sort(list(DISTINCT shingle)) AS s FROM sh GROUP BY doc_id)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
  FROM cand c JOIN sets a ON a.doc_id = c.doc_a JOIN sets b ON b.doc_id = c.doc_b)
WHERE jaccard >= 0.5
"""


def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash(_t(spark, sf_dir, "documents"))


SQL_DEDUP_SIMHASH = """
WITH tok AS (SELECT doc_id, unnest({words}) AS w FROM documents),
h AS (SELECT doc_id, {h} AS h FROM tok),
s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM s
""".format(
    words=_WORDS_SQL,
    h=_HASH_SQL.format(x="w"),
    sums=", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(dedup.SIMHASH_BITS)
    ),
    pack=" + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(dedup.SIMHASH_BITS)
    ),
)

# --------------------------------------------------------------------------
# training-data pipeline — text analysis
# --------------------------------------------------------------------------

def q_token_counts(spark, sf_dir):
    df = textstats.token_counts(_t(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_ws_tokens").cast("long"),
        F.col("n_bpe_tokens").cast("long"),
        F.col("n_chars_computed").cast("long"),
    )


SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(len({_WORDS_SQL}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{textstats.BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(text) AS BIGINT) AS n_chars_computed
FROM documents
"""


def q_tfidf_topk(spark, sf_dir):
    """T31 — top-3 terms per document by smoothed tf-idf
    (operators/textstats.tfidf_topk): explode → map-side-partial tf agg →
    window-count df over the tf relation (single corpus scan) → broadcast
    1-row corpus size → per-DOC window top-k (no global sort)."""
    return textstats.tfidf_topk(_t(spark, sf_dir, "documents"), k=3)


SQL_TFIDF_TOPK = f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
tok AS (SELECT doc_id, unnest(ws) AS term FROM words),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
tfd AS (SELECT doc_id, term, tf,
               count(*) OVER (PARTITION BY term) AS df
        FROM tf),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, t.df,
         round(t.tf * (ln((n.n_docs + 1) / (t.df + 1)) + 1), 6) AS tfidf
  FROM tfd t CROSS JOIN n),
rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                    ORDER BY tfidf DESC, term) AS rk
       FROM scored)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf, CAST(rk AS BIGINT) AS rk
FROM rk WHERE rk <= 3
"""


def q_quality_scores(spark, sf_dir):
    df = textstats.quality_scores(_t(spark, sf_dir, "documents"))
    return df.withColumn("n_tokens", F.col("n_tokens").cast("long"))


SQL_QUALITY_SCORES = f"""
WITH base AS (
  SELECT doc_id, text, {_WORDS_SQL} AS ws,
         len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
  FROM documents),
r AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_tokens,
         round(CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
               / greatest(len(ws), 1), 6) AS mean_token_len,
         round(CAST(len(list_filter(ws, w -> list_contains({STOP_SQL}, w))) AS DOUBLE)
               / greatest(len(ws), 1), 6) AS stopword_ratio,
         round(CAST(n_punct AS DOUBLE) / greatest(len(text), 1), 6) AS punct_ratio
  FROM base)
SELECT doc_id, n_tokens, mean_token_len, stopword_ratio, punct_ratio,
       round(least(n_tokens / 100.0, 1.0) * (1 - punct_ratio)
             * (CASE WHEN stopword_ratio > 0.02 AND stopword_ratio < 0.6
                     THEN 1.0 ELSE 0.5 END), 6) AS quality_score
FROM r
"""


def q_repetition_filter(spark, sf_dir):
    """T21 — Gopher-style repetition filters over documents (dup-line /
    dup-word fractions, top-word dominance, keep flag)."""
    return textstats.repetition_stats(_t(spark, sf_dir, "documents"))


# line-stat idiom shared by the twin: trimmed non-empty '\n' segments
_LINES_SQL = (
    "list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),"
    " l -> l <> '')"
)

SQL_REPETITION_FILTER = f"""
WITH lines AS (
  SELECT doc_id,
         len({_LINES_SQL}) AS nl,
         len(list_distinct({_LINES_SQL})) AS ndl
  FROM documents),
w AS (
  SELECT doc_id, unnest({_WORDS_SQL}) AS w FROM documents),
wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
wagg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct_words,
         CAST(max(c) AS BIGINT) AS top_word_n
  FROM wc GROUP BY doc_id),
r AS (
  SELECT l.doc_id,
         CAST(l.nl AS BIGINT) AS n_lines,
         round(CAST(l.nl - l.ndl AS DOUBLE) / greatest(l.nl, 1), 6)
           AS dup_line_frac,
         coalesce(a.n_words, 0) AS n_words,
         round(CAST(coalesce(a.n_words, 0) - coalesce(a.n_distinct_words, 0)
                    AS DOUBLE) / greatest(coalesce(a.n_words, 0), 1), 6)
           AS dup_word_frac,
         round(CAST(coalesce(a.top_word_n, 0) AS DOUBLE)
               / greatest(coalesce(a.n_words, 0), 1), 6) AS top_word_frac
  FROM lines l LEFT JOIN wagg a USING (doc_id))
SELECT doc_id, n_lines, dup_line_frac, n_words, dup_word_frac, top_word_frac,
       CAST(CASE WHEN dup_line_frac <= 0.30 AND dup_word_frac <= 0.30
                  AND top_word_frac <= 0.20 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM r
"""


def q_boilerplate_strip(spark, sf_dir):
    """T22 — C4-style corpus-wide boilerplate line removal."""
    return textstats.boilerplate_strip(_t(spark, sf_dir, "documents"))


SQL_BOILERPLATE_STRIP = f"""
WITH base AS (
  SELECT doc_id, {_LINES_SQL} AS la FROM documents),
lines AS (
  SELECT doc_id,
         unnest(range(1, len(la) + 1)) AS pos,
         unnest(la) AS line
  FROM base),
common AS (
  SELECT line FROM lines GROUP BY line HAVING count(DISTINCT doc_id) > 2),
kept AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_kept
  FROM lines
  WHERE line NOT IN (SELECT line FROM common)
  GROUP BY doc_id)
SELECT b.doc_id,
       coalesce(k.clean_text, '') AS clean_text,
       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(len(b.la) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
FROM base b LEFT JOIN kept k USING (doc_id)
"""


def q_pii_redact(spark, sf_dir):
    """T23 — PII scrub with per-class counts (emails → IPs → phone runs)."""
    return textstats.pii_redact(_t(spark, sf_dir, "documents"))


SQL_PII_REDACT = f"""
WITH t1 AS (
  SELECT doc_id, text,
         regexp_replace(text, '{textstats.PII_EMAIL_RE}', '<EMAIL>', 'g') AS r1
  FROM documents),
t2 AS (
  SELECT doc_id, text, r1,
         regexp_replace(r1, '{textstats.PII_IP_RE}', '<IP>', 'g') AS r2
  FROM t1)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{textstats.PII_EMAIL_RE}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(r1, '{textstats.PII_IP_RE}')) AS BIGINT)
         AS n_ips,
       CAST(len(regexp_extract_all(r2, '{textstats.PII_PHONE_RE}')) AS BIGINT)
         AS n_phones,
       regexp_replace(r2, '{textstats.PII_PHONE_RE}', '<PHONE>', 'g')
         AS redacted_text
FROM t2
"""


def q_stratified_sample(spark, sf_dir):
    """T24 — deterministic per-source top-n sample (one rank window; Catalyst
    adds the Partial/Final ``WindowGroupLimit``)."""
    df = textstats.stratified_sample(
        _t(spark, sf_dir, "documents"), group_col="source", n_per_group=50
    )
    return df.withColumn("sample_rank", F.col("sample_rank").cast("long"))


SQL_STRATIFIED_SAMPLE = """
WITH k AS (
  SELECT *, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
            AS _h
  FROM documents),
r AS (
  SELECT doc_id, text, lang, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source ORDER BY _h, doc_id)
              AS BIGINT) AS sample_rank
  FROM k)
SELECT * FROM r WHERE sample_rank <= 50
"""


def q_contamination_check(spark, sf_dir):
    """T25 — benchmark-contamination detection: a deterministic 1/20th of
    the corpus plays the benchmark; per-doc distinct-3-gram overlap frac."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(
        F.pmod(dedup.hash64(F.col("doc_id").cast("string")), F.lit(20)) == 0
    )
    return textstats.contamination_check(docs, bench)


SQL_CONTAMINATION_CHECK = f"""
WITH words AS (SELECT doc_id, {_WORDS_SQL} AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(ws) >= 3
                  THEN list_transform(range(1, len(ws) - 1),
                       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                  ELSE [array_to_string(ws, ' ')] END) AS shingle
    FROM words)
  WHERE shingle <> ''),
bench AS (
  SELECT DISTINCT shingle FROM sh
  WHERE {_HASH_SQL.format(x="CAST(doc_id AS VARCHAR)")} % 20 = 0),
agg AS (
  SELECT d.doc_id,
         CAST(count(s.shingle) AS BIGINT) AS n_shingles,
         CAST(count(b.shingle) AS BIGINT) AS n_overlap
  FROM documents d
  LEFT JOIN sh s USING (doc_id)
  LEFT JOIN bench b ON s.shingle = b.shingle
  GROUP BY d.doc_id)
SELECT doc_id, n_shingles, n_overlap,
       round(CAST(n_overlap AS DOUBLE) / greatest(n_shingles, 1), 6)
         AS contamination_frac,
       CAST(CASE WHEN round(CAST(n_overlap AS DOUBLE) / greatest(n_shingles, 1), 6)
                      >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
FROM agg
"""


def q_doc_fingerprints(spark, sf_dir):
    return textstats.doc_fingerprints(_t(spark, sf_dir, "documents"))


SQL_DOC_FINGERPRINTS = """
WITH grams AS (
  SELECT doc_id, {h} AS gh FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(text) - 7, 1) + 1),
                                 i -> substr(text, CAST(i AS INTEGER), 8))) AS gram
    FROM documents))
SELECT doc_id, min(gh) AS fp_min, list_sort(list(gh))[2] AS fp_second
FROM grams GROUP BY doc_id
""".format(h=_HASH_SQL.format(x="gram"))

# --------------------------------------------------------------------------
# training-data pipeline — image near-dup
# --------------------------------------------------------------------------

# two deterministic rows per document: the base 60-bit hash as a pseudo-phash
# and a variant XOR'd with a 3-bit mask (near-dup) or an 8-bit mask (far) —
# so the banded join has real positives and negatives to separate
_PH_NEAR_MASK = (1 << 0) | (1 << 5) | (1 << 20)          # hamming 3
_PH_FAR_MASK = sum(1 << b for b in (1, 9, 17, 25, 33, 41, 49, 57))  # hamming 8


def q_phash_neardup(spark, sf_dir):
    """Image-axis dedup shape: banded perceptual-hash near-dup join
    (dedup.phash_neardup_pairs) over constructed pseudo-phashes."""
    docs = _t(spark, sf_dir, "documents")
    ph = dedup.hash64(F.col("text"))
    mask = F.when(F.col("doc_id") % 3 == 0, F.lit(_PH_NEAR_MASK)).otherwise(
        F.lit(_PH_FAR_MASK)
    )
    imgs = docs.select(
        (F.col("doc_id") * 2).alias("image_id"), ph.alias("phash")
    ).unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("image_id"),
            ph.bitwiseXOR(mask).alias("phash"),
        )
    )
    return dedup.phash_neardup_pairs(imgs, max_hamming=3).withColumn(
        "hamming", F.col("hamming").cast("long")
    )


SQL_PHASH_NEARDUP = f"""
WITH base AS (SELECT doc_id, {_HASH_SQL.format(x='text')} AS ph FROM documents),
imgs AS (
  SELECT doc_id * 2 AS image_id, ph FROM base
  UNION ALL
  SELECT doc_id * 2 + 1,
         xor(ph, CASE WHEN doc_id % 3 = 0 THEN {_PH_NEAR_MASK}
                      ELSE {_PH_FAR_MASK} END)
  FROM base)
SELECT a.image_id AS id_a, b.image_id AS id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS BIGINT) AS hamming
FROM imgs a JOIN imgs b ON a.image_id < b.image_id
WHERE bit_count(xor(a.ph, b.ph)) <= 3
"""


def q_phash_neardup_components(spark, sf_dir):
    """T29 — image near-dup CLUSTERING (the image-axis twin of T26): banded
    perceptual-hash candidate pairs → hash-min connected components; every
    image in a near-dup cluster labeled with its cluster's min id (the
    canonical copy to keep). Same pseudo-phash construction as
    ``phash_neardup``; the banding is exact (pigeonhole, max_hamming <
    n_bands) so the edge set — and therefore the components — match the
    oracle's O(n²) reference join bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    ph = dedup.hash64(F.col("text"))
    mask = F.when(F.col("doc_id") % 3 == 0, F.lit(_PH_NEAR_MASK)).otherwise(
        F.lit(_PH_FAR_MASK)
    )
    imgs = docs.select(
        (F.col("doc_id") * 2).alias("image_id"), ph.alias("phash")
    ).unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("image_id"),
            ph.bitwiseXOR(mask).alias("phash"),
        )
    )
    pairs = dedup.phash_neardup_pairs(imgs, max_hamming=3)
    return dedup.neardup_components(
        pairs, a_col="id_a", b_col="id_b"
    ).select(F.col("doc_id").alias("image_id"), "component")


SQL_PHASH_NEARDUP_COMPONENTS = f"""
WITH RECURSIVE
base AS (SELECT doc_id, {_HASH_SQL.format(x='text')} AS ph FROM documents),
imgs AS (
  SELECT doc_id * 2 AS image_id, ph FROM base
  UNION ALL
  SELECT doc_id * 2 + 1,
         xor(ph, CASE WHEN doc_id % 3 = 0 THEN {_PH_NEAR_MASK}
                      ELSE {_PH_FAR_MASK} END)
  FROM base),
cand AS (
  SELECT a.image_id AS id_a, b.image_id AS id_b
  FROM imgs a JOIN imgs b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.ph, b.ph)) <= 3),
edges AS (
  SELECT id_a AS u, id_b AS v FROM cand
  UNION
  SELECT id_b AS u, id_a AS v FROM cand),
reach(u, label) AS (
  SELECT u, u AS label FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u)
SELECT u AS image_id, min(label) AS component FROM reach GROUP BY u
"""


# --------------------------------------------------------------------------
# pandas-UDF pipelines with reconstructed SQL twins
#
# These run as Arrow-batched Python on the Spark side, but their outputs are
# deterministic functions of the input columns, so the DuckDB twin can
# recompute them exactly (md5/sha256 + arithmetic) — a full hash-checked
# oracle instead of a rows-only record.
# --------------------------------------------------------------------------

def q_lang_id(spark, sf_dir):
    return textstats.lang_id(_t(spark, sf_dir, "documents"))


def _tri_count_sql(tri: str) -> str:
    # python str.count(): non-overlapping left-to-right — identical to the
    # length-delta of replace(); / on ints is float division in DuckDB but the
    # delta is always divisible by 3 so the value is an exact integer double
    esc = tri.replace("'", "''")
    return f"(length(t) - length(replace(t, '{esc}', ''))) / 3"


def _lang_score_sql(lang: str) -> str:
    tris = textstats._LANG_PROFILES[lang]
    total = " + ".join(_tri_count_sql(t) for t in tris)
    return f"(({total}) / greatest(length(t), 1))"


# the sequential best-score fold in lang_id_py keeps the FIRST language (in
# profile order en,es,fr,de) attaining the max score — replicated via
# greatest() + ordered CASE
SQL_LANG_ID = """
WITH t0 AS (
  SELECT doc_id, ' ' || lower(text) || ' ' AS t,
         regexp_matches(substr(text, 1, 400), '[一-鿿]') AS cjk
  FROM documents),
sc AS (
  SELECT doc_id, cjk,
         {s_en} AS s_en, {s_es} AS s_es, {s_fr} AS s_fr, {s_de} AS s_de
  FROM t0)
SELECT doc_id,
       CASE WHEN cjk THEN 'zh'
            WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en'
            WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
            WHEN s_fr >= s_de THEN 'fr'
            ELSE 'de' END AS lang_pred
FROM sc
""".format(
    s_en=_lang_score_sql("en"), s_es=_lang_score_sql("es"),
    s_fr=_lang_score_sql("fr"), s_de=_lang_score_sql("de"),
)


def q_scrape_tables(spark, sf_dir):
    """X4 — tianalyser's HTML-table scrape
    (example/tianalyser/internal/tianalyser/tianalyser.go:80-118) as a
    mapInPandas batch parse over constructed per-doc HTML payloads."""
    from ..operators.scrape import scrape_tables

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 0)
        .select(
            F.col("doc_id").cast("string").alias("url"),
            F.concat(
                F.lit("<html><body><table><tr><td>"),
                F.col("source"),
                F.lit("</td><td>"),
                F.col("lang"),
                F.lit("</td></tr><tr><td>chars</td><td>"),
                F.col("n_chars").cast("string"),
                F.lit("</td></tr></table></body></html>"),
            ).alias("html"),
        )
    )
    return scrape_tables(docs, url_col="url", body_col="html").withColumn(
        # serialized for the driver canonicalizer (array cols are unhashable
        # in its pandas sort); '|' never appears in the constructed cells
        "cells", F.array_join("cells", "|")
    )


# the constructed HTML has exactly one table with rows [source, lang] and
# ['chars', n_chars] — the scrape output is therefore a pure function of the
# input columns and the oracle reconstructs it relationally
SQL_SCRAPE_TABLES = """
SELECT CAST(doc_id AS VARCHAR) AS url, 0 AS table_idx, 0 AS row_idx,
       source || '|' || lang AS cells
FROM documents WHERE doc_id % 100 = 0
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 0, 1, 'chars|' || CAST(n_chars AS VARCHAR)
FROM documents WHERE doc_id % 100 = 0
"""


# --------------------------------------------------------------------------
# T36 — image curation
# --------------------------------------------------------------------------

def q_image_curation(spark, sf_dir):
    """T36 — LAION-style image-corpus curation gate over the constructed
    image table (same two-rows-per-doc pseudo-phash construction as
    q_phash_neardup, plus deterministic metadata): keep an image iff
    min-dim >= 200, aspect within [1/3, 3] (integer cross-multiplied),
    fmt is not an animation container, caption has >= 5 words, and it has
    no SMALLER-id phash near-twin (hamming <= 3, pairwise greedy: a row
    goes iff some smaller id sits within the radius).

    Scale shape: metadata gates are row-local JVM predicates evaluated
    before the banded join (the only shuffle); the drop list re-joins under
    AQE broadcast exactly like dedup_filtered_corpus."""
    docs = _t(spark, sf_dir, "documents")
    ph = dedup.hash64(F.col("text"))
    mask = F.when(F.col("doc_id") % 3 == 0, F.lit(_PH_NEAR_MASK)).otherwise(
        F.lit(_PH_FAR_MASK)
    )
    n_words = F.size(dedup.normalized_words(F.col("text"))).cast("long")
    base = docs.select(
        (F.col("doc_id") * 2).alias("image_id"), ph.alias("phash"), n_words.alias("n_caption_words"),
    ).unionByName(
        docs.select(
            (F.col("doc_id") * 2 + 1).alias("image_id"),
            ph.bitwiseXOR(mask).alias("phash"), n_words.alias("n_caption_words"),
        )
    )
    imgs = base.select(
        "image_id", "phash", "n_caption_words",
        (F.lit(64) + (F.col("image_id") * 37) % 1200).alias("w"),
        (F.lit(64) + (F.col("image_id") * 53) % 900).alias("h"),
        F.element_at(
            F.array(F.lit("jpeg"), F.lit("png"), F.lit("webp"), F.lit("gif")),
            (F.col("image_id") % 4 + 1).cast("int"),
        ).alias("fmt"),
    )
    gated = imgs.filter(
        (F.least("w", "h") >= 200)
        & (F.col("w") * 3 >= F.col("h")) & (F.col("h") * 3 >= F.col("w"))
        & (F.col("fmt") != "gif")
        & (F.col("n_caption_words") >= 5)
    )
    drops = (
        dedup.phash_neardup_pairs(imgs, max_hamming=3)
        .select(F.col("id_b").alias("image_id"))
        .distinct()
    )
    return gated.join(drops, "image_id", "left_anti").select(
        "image_id", "w", "h", "fmt", "n_caption_words"
    )


SQL_IMAGE_CURATION = f"""
WITH b AS (SELECT doc_id, {_HASH_SQL.format(x='text')} AS ph,
                  CAST(len({_WORDS_SQL}) AS BIGINT) AS n_caption_words
           FROM documents),
base AS (
  SELECT doc_id * 2 AS image_id, ph, n_caption_words FROM b
  UNION ALL
  SELECT doc_id * 2 + 1,
         xor(ph, CASE WHEN doc_id % 3 = 0 THEN {_PH_NEAR_MASK}
                      ELSE {_PH_FAR_MASK} END), n_caption_words
  FROM b),
imgs AS (SELECT image_id, ph, n_caption_words,
                64 + (image_id * 37) % 1200 AS w,
                64 + (image_id * 53) % 900 AS h,
                ['jpeg', 'png', 'webp', 'gif'][CAST(image_id % 4 + 1 AS INT)] AS fmt
         FROM base),
drops AS (SELECT DISTINCT b2.image_id
          FROM imgs a JOIN imgs b2
          ON a.image_id < b2.image_id AND bit_count(xor(a.ph, b2.ph)) <= 3)
SELECT image_id, w, h, fmt, n_caption_words
FROM imgs
WHERE least(w, h) >= 200 AND w * 3 >= h AND h * 3 >= w
  AND fmt <> 'gif' AND n_caption_words >= 5
  AND image_id NOT IN (SELECT image_id FROM drops)
"""


# --------------------------------------------------------------------------

QUERIES = {
    "seen_anti_join": (q_seen_anti_join, SQL_SEEN_ANTI_JOIN),
    "broadcast_dim_join": (q_broadcast_dim_join, SQL_BROADCAST_DIM_JOIN),
    "fetch_join": (q_fetch_join, SQL_FETCH_JOIN),
    "blacklist_theta_join": (q_blacklist_theta_join, SQL_BLACKLIST_THETA_JOIN),
    "same_host_filter": (q_same_host_filter, SQL_SAME_HOST_FILTER),
    "robots_gate": (q_robots_gate, SQL_ROBOTS_GATE),
    "union_dedup": (q_union_dedup, SQL_UNION_DEDUP),
    "host_aggregate": (q_host_aggregate, SQL_HOST_AGGREGATE),
    "first_writer_wins": (q_first_writer_wins, SQL_FIRST_WRITER_WINS),
    "min_depth_merge": (q_min_depth_merge, SQL_MIN_DEPTH_MERGE),
    "rollup_agg": (q_rollup_agg, SQL_ROLLUP_AGG),
    "cube_agg": (q_cube_agg, SQL_CUBE_AGG),
    "politeness_rank_dequeue": (q_politeness_rank_dequeue, SQL_POLITENESS_RANK_DEQUEUE),
    "politeness_delay_capped_dequeue": (
        q_politeness_delay_capped_dequeue, SQL_POLITENESS_DELAY_CAPPED_DEQUEUE,
    ),
    "window_topk_per_group": (q_window_topk_per_group, SQL_WINDOW_TOPK_PER_GROUP),
    "ntile_percent_rank": (q_ntile_percent_rank, SQL_NTILE_PERCENT_RANK),
    "host_skew_stats": (q_host_skew_stats, SQL_HOST_SKEW_STATS),
    "matcher_conjunction": (q_matcher_conjunction, SQL_MATCHER_CONJUNCTION),
    "url_parse": (q_url_parse, SQL_URL_PARSE),
    "edge_explode_tokens": (q_edge_explode_tokens, SQL_EDGE_EXPLODE_TOKENS),
    "event_window_agg": (q_event_window_agg, SQL_EVENT_WINDOW_AGG),
    "asof_attribution": (q_asof_attribution, SQL_ASOF_ATTRIBUTION),
    "range_window_clicks": (q_range_window_clicks, SQL_RANGE_WINDOW_CLICKS),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "session_window_agg": (q_session_window_agg, SQL_SESSION_WINDOW_AGG),
    "event_type_pivot": (q_event_type_pivot, SQL_EVENT_TYPE_PIVOT),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_lsh": (q_dedup_minhash_lsh, SQL_DEDUP_MINHASH_LSH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "dedup_components": (q_dedup_components, SQL_DEDUP_COMPONENTS),
    "dedup_filtered_corpus": (q_dedup_filtered_corpus, SQL_DEDUP_FILTERED_CORPUS),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "token_counts": (q_token_counts, SQL_TOKEN_COUNTS),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "quality_scores": (q_quality_scores, SQL_QUALITY_SCORES),
    "doc_fingerprints": (q_doc_fingerprints, SQL_DOC_FINGERPRINTS),
    "repetition_filter": (q_repetition_filter, SQL_REPETITION_FILTER),
    "boilerplate_strip": (q_boilerplate_strip, SQL_BOILERPLATE_STRIP),
    "pii_redact": (q_pii_redact, SQL_PII_REDACT),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "contamination_check": (q_contamination_check, SQL_CONTAMINATION_CHECK),
    "phash_neardup": (q_phash_neardup, SQL_PHASH_NEARDUP),
    "phash_neardup_components": (
        q_phash_neardup_components, SQL_PHASH_NEARDUP_COMPONENTS,
    ),
    "image_curation": (q_image_curation, SQL_IMAGE_CURATION),
    "scrape_tables": (q_scrape_tables, SQL_SCRAPE_TABLES),
    "lang_id": (q_lang_id, SQL_LANG_ID),
}
