"""Strict Spark-vs-DuckDB oracle comparison at sf0.01 — row count, column
names, and a value hash over name-sorted columns that rounds float columns
to 6 decimals and renders every other column as text.

    python scripts/check_new_oracles.py [QUERY ...]

Checks the queries named on the command line (any list of registry names),
or every oracled query when none are given."""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    h = hashlib.md5()
    for c in pdf.columns:
        col = pdf[c]
        if col.dtype.kind == "f":
            col = col.round(6)
        h.update(col.astype(str).str.cat(sep="\x01").encode())
    return h.hexdigest()


def main() -> int:
    from nfl_feature_store_spark.registry import ORACLES, QUERIES
    from nfl_feature_store_spark.session import get_spark

    spark = get_spark(app_name="oracle-check", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    rc = 0
    for name in sys.argv[1:] or sorted(ORACLES):
        got = QUERIES[name](spark, SF).toPandas()
        exp = con.sql(ORACLES[name]).df()
        rows = len(got) == len(exp)
        schema = sorted(got.columns) == sorted(exp.columns)
        hmatch = value_hash(got) == value_hash(exp) if rows and schema else False
        status = "PASS" if (rows and schema and hmatch) else "FAIL"
        if status == "FAIL":
            rc = 1
        print(f"{name}: {status} rows={len(got)}/{len(exp)} schema={schema} hash={hmatch}")
        if not hmatch and rows and schema and len(got):
            g = got[sorted(got.columns)].sort_values(sorted(got.columns)).head(3)
            e = exp[sorted(exp.columns)].sort_values(sorted(exp.columns)).head(3)
            print("  spark:", g.to_dict("records"))
            print("  duck :", e.to_dict("records"))
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
