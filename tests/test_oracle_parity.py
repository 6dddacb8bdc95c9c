"""Replicates the driver's correctness gate locally: run each
``__spark_entry__.queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB over the same parquet tables; compare row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted).

Runs at sf0.001 to stay fast; the driver runs sf0.01.  Set
SPARK_GRAFT_PARITY_SF=0.01 to reproduce the driver's scale.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF = os.environ.get("SPARK_GRAFT_PARITY_SF", "0.001")
# SPARK_GRAFT_PARITY_DIR overrides the testdata layout entirely — used for
# the scaled-up tables tools/gen_scale.py writes (e.g. /tmp/sf1)
SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_DIR", f"/root/testdata/sf{SF}")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def norm(v):
        if v is None or v != v:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6f}"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    out = pdf.applymap(norm)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


_CON = None


def _duck():
    global _CON
    if _CON is None:
        _CON = duckdb.connect()
        for t in TABLES:
            _CON.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    return _CON


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, name):
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    before = set(pinned().keys())
    df = QUERIES[name](spark, SF_DIR)
    sdf = df.toPandas()
    # the caller releases the returned frame, as bench.py does; nothing
    # else the query pinned may outlive it, or a later call reads it
    df.unpersist(blocking=False)
    leaked = set(pinned().keys()) - before
    assert not leaked, f"{name}: left {len(leaked)} persistent RDDs"
    if name not in ORACLES:
        # rows-only check (same as the driver's weaker gate)
        assert len(sdf) >= 0
        return
    odf = _duck().sql(ORACLES[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"{name}: columns {sorted(sdf.columns)} != {sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"{name}: rows {len(sdf)} != {len(odf)}"
    a, b = _canon(sdf), _canon(odf)
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        raise AssertionError(
            f"{name}: value mismatch, first diffs:\n"
            f"spark:\n{a[diff].head(5)}\noracle:\n{b[diff].head(5)}"
        )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
