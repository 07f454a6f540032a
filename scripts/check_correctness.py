#!/usr/bin/env python
"""Local stand-in for the driver's correctness gate: run every registry query
on Spark AND its DuckDB oracle twin at sf0.01, canonicalize (sort columns by
name, sort rows by all columns), and compare rows / schema / value-hash.

Mirrors the driver's recorded behavior (CORRECTNESS_r01.json): pandas
``sort_values`` over all columns — which is exactly what errors on list-typed
columns, so this harness catches those before the driver does.

Usage: python scripts/check_correctness.py [--json-out PATH] [query ...]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


def _canon(pdf):
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    return pdf


def _hash(pdf) -> str:
    parts = []
    for _, row in pdf.iterrows():
        parts.append("|".join(
            f"{v:.6f}" if isinstance(v, float) else str(v) for v in row
        ))
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--json-out", metavar="PATH",
                    help="also write the per-query records as JSON")
    ap.add_argument("queries", nargs="*", help="only these registry entries")
    args = ap.parse_args(argv)
    json_out = args.json_out
    only = set(args.queries)

    import duckdb

    from cs3103_gocrawler_spark.plans.generic_queries import QUERIES
    from cs3103_gocrawler_spark.session import build_session

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    spark = build_session(master="local[8]", shuffle_partitions=8)

    results, n_bad = {}, 0
    for name, (fn, sql) in QUERIES.items():
        if only and name not in only:
            continue
        rec = {"rows_match": None, "schema_match": None, "hash_match": None, "err": None}
        try:
            sp = _canon(fn(spark, SF_DIR).toPandas())
            du = _canon(con.execute(sql).df())
            rec.update(
                rows_match=len(sp) == len(du),
                schema_match=list(sp.columns) == list(du.columns),
                hash_match=_hash(sp) == _hash(du),
                spark_rows=len(sp), oracle_rows=len(du),
            )
            if not (rec["rows_match"] and rec["schema_match"] and rec["hash_match"]):
                n_bad += 1
                if len(sp) == len(du):
                    diff = (sp.astype(str) != du.astype(str)).any(axis=0)
                    rec["diff_cols"] = list(diff[diff].index)
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"{type(e).__name__}: {e}"[:300]
            n_bad += 1
        results[name] = rec
        flag = "OK " if rec["hash_match"] else ("err" if rec["err"] else "BAD")
        print(f"{flag} {name}: {json.dumps(rec, default=str)[:200]}")
    spark.stop()
    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1)
    print(f"\n{n_bad} problem rows")
    # exit nonzero on ANY problem row — hash/row/schema mismatches included,
    # not just raised exceptions (a BAD row is a broken query even when both
    # engines ran to completion)
    sys.exit(1 if n_bad > 0 else 0)


if __name__ == "__main__":
    main()
