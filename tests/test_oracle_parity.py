"""Spark-vs-DuckDB parity for every queries()/oracle_sql() pair at sf0.001
— the same comparison the driver's correctness gate performs (row count,
column set, order-insensitive value hash)."""

import datetime
import hashlib
import math

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v):
    """Exact repr (matches tools/oracle_check.py): last-ulp float drift must
    FAIL locally the way it fails the driver's hasher."""
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


# data-derived oracle constants (the semantic-dedup quantizer) must come
# from the same scale the views above read
import os

os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = SF
ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_parity(spark, con, name):
    sdf = QUERIES[name](spark, SF)
    srows = [tuple(r) for r in sdf.collect()]
    res = con.sql(ORACLES[name])
    drows = res.fetchall()
    assert len(srows) == len(drows), f"rowcount {len(srows)} vs {len(drows)}"
    assert sorted(sdf.columns) == sorted(res.columns)
    assert value_hash(srows, sdf.columns) == value_hash(drows, list(res.columns))


def test_every_query_has_an_oracle():
    """Round 4 closed the last rows-only gap (q_media_frames): every
    registry query now carries a hash oracle. Keep it that way."""
    assert set(QUERIES) - set(ORACLES) == set()


def test_table_schema_memo_follows_rewritten_table(spark, tmp_path):
    """`_t` memoizes each table's schema; a table rewritten in-process
    with an extra column must be read with its new schema, not the
    memoized one."""
    import pandas as pd

    path = tmp_path / "t.parquet"
    pd.DataFrame({"a": [1, 2]}).to_parquet(path)
    assert entrymod._t(spark, str(tmp_path), "t").columns == ["a"]
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_parquet(path)
    df = entrymod._t(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]
