"""Replicates the driver's correctness gate: every queries() entry runs at
sf0.01; entries with oracle_sql() are compared against DuckDB on row count,
column names, and order-insensitive values; rows-only entries must run and
return a stable schema."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.01"
TABLES = ("documents",)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


def _canon(v):
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "as_integer_ratio") and not isinstance(v, (int, float)):
        return float(v)  # Decimal
    return v


def _rows(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon(r[i]) for i in order) for r in data)


ORACLE = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_checked(spark, con, name):
    df = QUERIES[name](spark, SF)
    spark_cols = df.columns
    spark_data = [tuple(r) for r in df.collect()]
    res = con.execute(ORACLE[name])
    duck_cols = [d[0] for d in res.description]
    duck_data = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_data) == len(duck_data), (
        f"{name}: {len(spark_data)} spark rows vs {len(duck_data)} oracle rows")
    got, want = _rows(spark_cols, spark_data), _rows(duck_cols, duck_data)
    mismatches = [(g, w) for g, w in zip(got, want) if g != w]
    assert not mismatches, f"{name}: first mismatch {mismatches[0]}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only(spark, name):
    df = QUERIES[name](spark, SF)
    assert df.columns  # stable schema
    assert df.count() >= 0


def test_every_oracle_has_query():
    assert set(ORACLE) <= set(QUERIES)


# rows-only query -> the hash-checked twin query that carries its oracle
ROWS_ONLY_TWINS = {
    "pipeline_kept_docs": "pipeline_kept_planted",
    "dedup_minhash_lsh": "dedup_minhash_planted",
    "dedup_components": "dedup_components_planted",
}


def test_rows_only_set_is_pinned():
    """A new query without an oracle fails here instead of surfacing as a
    no_oracle row in the next correctness sample."""
    assert set(QUERIES) - set(ORACLE) == set(ROWS_ONLY_TWINS)
    for twin in ROWS_ONLY_TWINS.values():
        assert twin in QUERIES and twin in ORACLE, twin


# Spark dtype -> acceptable DuckDB types. The driver's value-hash is
# TYPE-SENSITIVE where this local replica's _canon comparison is not:
# round 1 shipped three value-identical queries that hash-failed because
# DuckDB widened sum(BIGINT) to HUGEINT. This test closes that local gap.
_TYPE_OK = {
    # int-width mixes (INTEGER vs BIGINT) hashed EQUAL in round 1's driver
    # run (topk rnk was int vs BIGINT and green); only the non-native
    # HUGEINT widening broke the hash
    "bigint": {"BIGINT", "INTEGER"},
    "int": {"INTEGER", "BIGINT"},
    "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"},
    "double": {"DOUBLE"},
    "timestamp": {"TIMESTAMP"},
    "timestamp_ntz": {"TIMESTAMP"},
}


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_types_hash_compatible(spark, con, name):
    df = QUERIES[name](spark, SF)
    spark_types = dict(df.dtypes)
    rel = con.sql(ORACLE[name])
    duck_types = dict(zip(rel.columns, (str(t) for t in rel.types)))
    for col, st in spark_types.items():
        dt = duck_types[col]
        assert dt != "HUGEINT", (
            f"{name}.{col}: DuckDB HUGEINT (wrap the aggregate in "
            "CAST(... AS BIGINT) — the driver's value-hash is type-sensitive)")
        allowed = _TYPE_OK.get(st)
        assert allowed is not None, f"{name}.{col}: unmapped Spark type {st}"
        assert dt in allowed, (
            f"{name}.{col}: Spark {st} vs DuckDB {dt} — value hashes differ")


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
