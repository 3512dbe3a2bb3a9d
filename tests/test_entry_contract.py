"""Driver-contract rehearsal: run every queries() entry and compare each
oracle_sql() twin via DuckDB (row count + schema-sorted, order-insensitive
value comparison) — the same check CORRECTNESS_r{N}.json records."""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, Decimal):
                v = float(v)
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = round(v, 9)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


ORACLES = entry_mod.oracle_sql()
ALL_QUERIES = entry_mod.queries()
SQL_CHECKED = sorted(set(ALL_QUERIES) & set(ORACLES))
ROWS_ONLY = sorted(set(ALL_QUERIES) - set(ORACLES))


# The driver's correctness artifact records only the first 50 queries()
# entries.
DRIVER_RECORDED = 50


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(ALL_QUERIES)


def test_oracled_queries_lead_the_registry_within_the_recorded_cap():
    names = list(ALL_QUERIES)
    oracled = [i for i, n in enumerate(names) if n in ORACLES]
    rows_only = [i for i, n in enumerate(names) if n not in ORACLES]
    if rows_only:
        assert max(oracled) < min(rows_only), [
            n for n in names[min(rows_only):] if n in ORACLES
        ]
    assert max(oracled) < DRIVER_RECORDED, names[DRIVER_RECORDED:]


def test_dedup_embedding_finds_pairs(spark, sf_dir):
    """The embedding near-dup oracle compares a nonempty pair set: every
    near copy pairs with its source."""
    rows = ALL_QUERIES["dedup_embedding"](spark, sf_dir).collect()
    assert {(r["vec_a"], r["vec_b"]) for r in rows} >= {
        (i, i + 1_000_000) for i in range(5)
    }


@pytest.mark.parametrize("name", SQL_CHECKED)
def test_sql_checked_query(name, spark, sf_dir, ddb):
    sdf = ALL_QUERIES[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = ddb.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), name
    assert len(spark_rows) == len(duck_rows), (name, len(spark_rows), len(duck_rows))
    a = _normalize(spark_rows, spark_cols)
    b = _normalize(duck_rows, duck_cols)
    mismatches = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:3]
    assert a == b, (name, [(a[i], b[i]) for i in mismatches])


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query(name, spark, sf_dir):
    sdf = ALL_QUERIES[name](spark, sf_dir)
    n = sdf.count()
    assert n >= 0
    # stable schema: re-derive and compare
    sdf2 = ALL_QUERIES[name](spark, sf_dir)
    assert sdf2.schema == sdf.schema
