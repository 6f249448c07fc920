"""Local replica of the driver's correctness gate: run every queries() entry
at sf0.01 and compare against oracle_sql() through DuckDB — row count, column
names, integer-vs-float dtype kind, and order-insensitive value equality."""

from __future__ import annotations

import importlib.util
import math
import os

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

_spec = importlib.util.spec_from_file_location(
    "spark_entry", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
)
_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_entry)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "∅"
        if isinstance(v, float):
            return f"{v:.9g}"
        return str(v)

    key = df.apply(lambda row: "|".join(norm(v) for v in row), axis=1)
    return df.assign(__key=key).sort_values("__key", kind="mergesort").reset_index(drop=True)


ORACLED = sorted(_entry.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    q = _entry.queries()[name]
    got = q(spark, SF_DIR).toPandas()
    exp = duck.sql(_entry.oracle_sql()[name]).df()

    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: rows {len(got)} vs {len(exp)}"
    # the strict value hash (scripts/check_new_oracles.py) rounds float
    # columns and renders the rest as text, so an integer column that one
    # side types as float ("9" vs "9.0") fails there even when the .9g
    # canonical keys below agree
    mixed = {
        c: (str(got[c].dtype), str(exp[c].dtype))
        for c in got.columns
        if (got[c].dtype.kind == "f") != (exp[c].dtype.kind == "f")
    }
    assert not mixed, f"{name}: float vs non-float dtype (spark, duck) {mixed}"
    g, e = _canon(got), _canon(exp)
    mism = (g["__key"] != e["__key"]).to_numpy().nonzero()[0]
    assert len(mism) == 0, (
        f"{name}: {len(mism)} mismatched rows; first:\n"
        f"spark: {g.iloc[mism[0]].to_dict()}\n"
        f"duck : {e.iloc[mism[0]].to_dict()}"
    )


ROWS_ONLY = sorted(set(_entry.queries()) - set(ORACLED))


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = _entry.queries()[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = _entry.entry(spark)
    assert df.count() > 0
