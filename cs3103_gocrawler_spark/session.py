"""SparkSession construction with the engine's required configs.

PySpark's DataFrame call-site capture is switched off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on, every
wrapped ``F.*`` or ``Column`` call records its Python call site in the JVM:
about nine extra Py4J round trips and a failed ``import IPython`` per call.
A polite-deep round makes ~740 Py4J round trips with it off and ~900 with
it on (seed 101, ``local[4]``, with the Columns every round reuses built
once per engine; the round code before that made ~1,760 with it on). What
is lost is the Python call site in the DataFrame context of an
analysis error; the error itself and its JVM context stay. PySpark reads the
flag once per process, at the first wrapped call, and caches it
(``pyspark.errors.utils.is_debugging_enabled``), so it must be set on the
session before any ``F.*`` call runs.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def _submitted_conf() -> dict[str, str]:
    """The confs spark-submit passed (``--master``, ``--conf``,
    ``--driver-memory`` …), or {} outside spark-submit. Under spark-submit
    the JVM runs before Python starts and carries them as system
    properties; otherwise the JVM starts from this builder's conf."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return {}
    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def build_session(
    app_name: str = "cs3103_gocrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """local[N] for tests/bench; under spark-submit the submitted master and
    confs take precedence over the defaults below, and ``master``,
    ``app_name`` and ``extra_conf`` over both."""
    submitted = _submitted_conf()
    master = (
        master or submitted.get("spark.master")
        or os.environ.get("SPARK_MASTER", "local[*]")
    )
    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        # match parallelism, not the 200 default — avoids tiny-partition overhead
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cores if n in ("", "*") else max(int(n), 1)
    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # no Python call-site capture per Column call (module docstring)
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # exploit the bucketed pages table's per-bucket SORT order in the
        # fetch SortMergeJoin: without this (off by default since 3.0) every
        # round re-sorts the full payload side (~2.5 KB/row) before the
        # join. Safe here: register_bucketed_pages writes exactly one file
        # per bucket (repartition before bucketBy), the case the sorted-scan
        # metadata requires.
        "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
        # Arrow batch sizing is a memory-vs-roundtrip tradeoff, and with wide
        # payload rows (image bytes + html, ~2.5 KB/row) memory wins: 64k-row
        # batches are ~160 MB in flight per task, which at 32 concurrent
        # workers caused multi-GB python-worker RSS spikes, worker kills, and
        # task retries (measured: 120 s vs 18 s for the same 1M-URL round).
        # 8k rows ≈ 20 MB payload batches, and narrow-column UDF stages lose
        # nothing measurable (Arrow overhead amortizes by ~1k rows).
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        "spark.python.worker.reuse": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "48g"),
        "spark.driver.maxResultSize": "8g",
    }
    conf = {k: v for k, v in conf.items() if k not in submitted}
    conf.update({"spark.app.name": app_name, "spark.master": master, **(extra_conf or {})})
    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
