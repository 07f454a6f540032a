"""Round-snapshot table catalog (SURVEY.md §2.9 checkpoint/resume).

Parquet stand-in for the Iceberg tables named in BASELINE.json.north_rule —
the sandbox has no Iceberg runtime jar, so each logical table is a directory
of per-round parquet subdirs plus an atomically-renamed JSON manifest:

    state_dir/
      manifest.json                <- {"last_round": N, "metrics": [...]};
                                      atomic rename
      frontier/r00000/*.parquet    <- full snapshot per round (small: pending only)
      fetched/r00000/*.parquet     <- append-only per-round delta; visited,
                                      rejected, seen and validation are views
      host_state/r00001/*.parquet  <- per-host token balances (carryover only)
      robots/r00000/*.parquet      <- live-fetched robots rules (live robots only)
      metrics_table/*.parquet      <- per-round metrics, written once at the end

Swap-to-Iceberg notes: ``append`` ≙ ``df.writeTo(tbl).append()`` with the
manifest replaced by Iceberg snapshot ids; ``read_all`` ≙ a plain table scan;
resume-from-round-k ≙ time-travel to snapshot k. The engine only touches
storage through this class, so the swap is local to this file.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# footer key under which Spark's parquet writer stores the row schema (JSON)
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _rdir(kind: str, round_id: int) -> str:
    return f"{kind}/r{round_id:05d}"


def register_bucketed_pages(
    spark: SparkSession,
    pages_parquet: str,
    table_name: str = "pages_bucketed",
    n_buckets: int = 64,
    warehouse_subdir: str | None = None,
) -> str:
    """Write/register the pages table bucketed+sorted by ``image_id``.

    This is the local stand-in for the Iceberg storage-partitioned join
    (SURVEY.md §4.2.5): with the big side bucketed on the join key, the
    per-round fetch join shuffles ONLY the frontier side — the page payloads
    (bytes, body_html) never cross an exchange. First call materializes the
    bucketed files via ``bucketBy().sortBy().saveAsTable``; later sessions
    re-register the existing files with the same bucket spec DDL.
    """
    if spark.catalog.tableExists(table_name):
        return table_name
    warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    loc = os.path.join(warehouse, f"{table_name.lower()}")
    if os.path.exists(os.path.join(loc, "_SUCCESS")):
        # files already bucketed by a previous session — re-declare the table
        # (explicit column list required when specifying bucketing)
        schema = spark.read.parquet(loc).schema
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(
            f"CREATE TABLE {table_name} ({cols}) "
            f"USING parquet CLUSTERED BY (image_id) SORTED BY (image_id) "
            f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
        )
        spark.sql(f"REFRESH TABLE {table_name}")
        return table_name
    (
        spark.read.parquet(pages_parquet)
        .repartition(n_buckets, "image_id")
        .write.bucketBy(n_buckets, "image_id")
        .sortBy("image_id")
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    return table_name


class RoundCatalog:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    # -- manifest (the atomic commit point of a round) -----------------------
    def manifest(self) -> dict | None:
        path = os.path.join(self.state_dir, "manifest.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def commit_round(self, round_id: int, extra: dict | None = None) -> None:
        """Atomic rename makes the round durable — a crash before this leaves
        the previous manifest intact and the partial round is re-run on resume."""
        payload = {**(extra or {}), "last_round": round_id}
        fd, tmp = tempfile.mkstemp(dir=self.state_dir, suffix=".manifest")
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, os.path.join(self.state_dir, "manifest.json"))

    # -- table IO -------------------------------------------------------------
    def path(self, kind: str, round_id: int) -> str:
        return os.path.join(self.state_dir, _rdir(kind, round_id))

    def write(self, df: DataFrame, kind: str, round_id: int) -> str:
        p = self.path(kind, round_id)
        df.write.mode("overwrite").parquet(p)
        return p

    def write_empty(self, kind: str, round_id: int, schema: StructType) -> str:
        """Commit an empty table without a Spark job — a 1-task Spark write of
        a provably-empty DataFrame still costs a full job round-trip (~0.5-1 s
        of scheduler overhead), a pure serial tax on short rounds. ``schema``
        is the Spark schema the Spark path would have written; it goes into
        the footer under Spark's own key, so ``read`` takes it from there
        like from any Spark-written table."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        p = self.path(kind, round_id)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        arrow_schema = to_arrow_schema(schema).with_metadata(
            {SPARK_SCHEMA_KEY: schema.json()}
        )
        pq.write_table(
            arrow_schema.empty_table(), os.path.join(p, "part-00000.parquet")
        )
        open(os.path.join(p, "_SUCCESS"), "w").close()
        return p

    def _parquet(self, dirs: list[str]) -> DataFrame:
        """Read committed table dirs with the schema from a parquet footer.

        Without a schema, every ``spark.read.parquet`` runs a one-task
        schema-inference job (plus a listing and footer reads) before the
        query is even planned: ~20 ms of job and 65-70 ms per read at
        ``local[4]``, against 8-15 ms and no job with the schema given. A
        round reads three tables. Tables whose footers lack Spark's schema
        key (written by something else) fall back to inference."""
        import pyarrow.parquet as pq

        reader = self.spark.read
        for d in dirs:
            files = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
            if files:
                meta = pq.read_metadata(os.path.join(d, files[0])).metadata or {}
                if SPARK_SCHEMA_KEY in meta:
                    reader = reader.schema(
                        StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
                    )
                break
        return reader.parquet(*dirs)

    def read(self, kind: str, round_id: int) -> DataFrame:
        return self._parquet([self.path(kind, round_id)])

    def exists(self, kind: str, round_id: int) -> bool:
        return os.path.exists(os.path.join(self.path(kind, round_id), "_SUCCESS"))

    def read_all(self, kind: str, up_to_round: int | None = None) -> DataFrame | None:
        """Union of all committed per-round deltas for an append-only table."""
        base = os.path.join(self.state_dir, kind)
        if not os.path.isdir(base):
            return None
        dirs = sorted(
            d for d in os.listdir(base)
            if d.startswith("r")
            and os.path.exists(os.path.join(base, d, "_SUCCESS"))
            and (up_to_round is None or int(d[1:]) <= up_to_round)
        )
        if not dirs:
            return None
        return self._parquet([os.path.join(base, d) for d in dirs])

    def count(self, kind: str, round_id: int) -> int:
        """Row count from parquet footer metadata — no Spark job. Each
        driver-side footer read replaces a full count() job, which at
        small-round scale was ~1 s of pure scheduler overhead per call (the
        Iceberg swap reads the same number from snapshot summary metadata)."""
        import pyarrow.parquet as pq

        p = self.path(kind, round_id)
        return sum(
            pq.read_metadata(os.path.join(p, f)).num_rows
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    def column_min(self, kind: str, round_id: int, col: str):
        """Column minimum from parquet row-group statistics — no Spark job
        (Iceberg swap: lower_bounds in the manifest entries).

        Fails CLOSED: returns None (= "unknown") when the column is missing
        (pyarrow's ``get_field_index`` returns -1, it does not raise) or when
        ANY row group lacks min/max stats — a partial min over only the row
        groups that happen to carry stats could overstate the true minimum,
        and a caller that skips work on it would skip too much.

        Kept for crawlbench until ROADMAP item 2: its tracer wraps this
        method by name; the engine no longer calls it."""
        import pyarrow.parquet as pq

        p = self.path(kind, round_id)
        lo = None
        for f in os.listdir(p):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(p, f))
            ci = md.schema.to_arrow_schema().get_field_index(col)
            if ci < 0:
                return None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                lo = st.min if lo is None else min(lo, st.min)
        return lo

    def drop_rounds_after(self, round_id: int) -> None:
        """Discard partial writes from rounds newer than the manifest (resume).

        ``frontier/r{N+1}`` (and ``host_state/r{N+1}``, the politeness token
        balances, and ``robots/r{N+1}``, the live-fetched rules for hosts
        entering that frontier) are round N's *outputs* (and round N+1's
        inputs), so those tables keep one extra round; all other tables are
        per-round deltas of round N itself."""
        for kind in os.listdir(self.state_dir):
            base = os.path.join(self.state_dir, kind)
            if not os.path.isdir(base):
                continue
            keep_to = (
                round_id + 1 if kind in ("frontier", "host_state", "robots")
                else round_id
            )
            for d in os.listdir(base):
                if d.startswith("r") and int(d[1:]) > keep_to:
                    shutil.rmtree(os.path.join(base, d), ignore_errors=True)
