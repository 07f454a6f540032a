"""Local replica of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() twin on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values."""

import math
import os
import subprocess
import sys

import duckdb
import pytest

import __spark_entry__ as entry_mod
from cs3103_gocrawler_spark.plans.generic_queries import QUERIES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECTNESS", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy scalar/array
        return _norm_cell(v.tolist())
    return v


def _normalize(df_pdf):
    cols = sorted(df_pdf.columns)
    rows = [
        tuple(_norm_cell(row[c]) for c in cols)
        for _, row in df_pdf[cols].iterrows()
    ]
    return cols, sorted(rows, key=repr)


ORACLE = entry_mod.oracle_sql()
ALL = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, ddb, name):
    spark_pdf = ALL[name](spark, SF_DIR).toPandas()
    duck_pdf = ddb.execute(ORACLE[name]).fetchdf()
    s_cols, s_rows = _normalize(spark_pdf)
    d_cols, d_rows = _normalize(duck_pdf)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: rowcount {len(s_rows)} vs {len(d_rows)}"
    assert len(s_rows) > 0, f"{name}: empty result — vacuous check"
    mism = [i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
    assert not mism, (
        f"{name}: {len(mism)} mismatched rows; first: "
        f"spark={s_rows[mism[0]]} duck={d_rows[mism[0]]}"
    )


def test_registry_fits_recorder_cap():
    """The correctness recorder keeps at most 50 rows: the whole registry
    fits under it, in ``QUERIES`` order with no rotation."""
    assert len(entry_mod.queries()) <= 50
    assert list(entry_mod.queries()) == list(QUERIES)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert set(pdf.columns) == {"n_name", "n_orders", "total_cents", "n_customers"}


def test_check_correctness_bare_json_out_is_usage_error():
    """``--json-out`` without a path is an argparse usage error (exit 2),
    reported before Spark starts — not an IndexError."""
    script = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "scripts", "check_correctness.py",
    )
    p = subprocess.run(
        [sys.executable, script, "--json-out"],
        capture_output=True, text=True, timeout=60,
    )
    assert p.returncode == 2, (p.returncode, p.stderr)
    assert "usage:" in p.stderr and "--json-out" in p.stderr
    assert "Traceback" not in p.stderr
