"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship report query at sf0.001 (smoke check).
``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2 plus the training-data pipeline ops, in ``QUERIES`` order, each
with an ANSI-SQL twin DuckDB runs on the same parquet. The registry holds 47
entries, so all of them fit the 50 rows the correctness recorder keeps.

The registry lives in cs3103_gocrawler_spark/plans/generic_queries.py; the
crawl engine itself (frontier rounds, politeness, exact seen-set, payload
validation, checkpoint/resume) is conformance-tested against a sequential
oracle in tests/ — see tests/test_oracle_conformance.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cs3103_gocrawler_spark.plans.generic_queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the crawl-report aggregate shape (SURVEY.md §3.3) over the
    generic tables — per-nation order volume via broadcast dim joins, the
    exact plan family the per-host NetworkInfo report uses (A3/A4/J6)."""
    sf = "/root/testdata/sf0.001"
    customer = spark.read.parquet(f"{sf}/customer.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    nation = spark.read.parquet(f"{sf}/nation.parquet")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
            F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        )
        .orderBy("n_name")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q for name, (q, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in QUERIES.items() if sql is not None}
