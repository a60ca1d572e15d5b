"""Oracle parity of the query contract: every queries() entry with an
oracle_sql() twin must match DuckDB on row count, sorted column names,
and exact values (columns sorted by name, rows sorted). The
oracle-cache artifacts are built once by oracle_inputs(), never by a
query.

Runs at sf0.001 by default for speed; set SPARK_GRAFT_ORACLE_SF to
/root/testdata/sf0.01 to check at oracle_sql()'s default scale factor.
"""

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as E

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _assert_match(name, sdf: pd.DataFrame, odf: pd.DataFrame):
    a, b = _canon(sdf), _canon(odf)
    assert list(a.columns) == list(b.columns), (name, list(a.columns), list(b.columns))
    assert len(a) == len(b), (name, len(a), len(b))
    for c in a.columns:
        # an integer Spark column needs an integer oracle column: a float
        # one (e.g. DuckDB's HUGEINT SUM) compares equal by value below
        # but differs in type and hash
        if a[c].dtype.kind in "iu":
            assert b[c].dtype.kind in "iu", (name, c, a[c].dtype, b[c].dtype)
        for i, (x, y) in enumerate(zip(a[c].tolist(), b[c].tolist())):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                both_nan = (
                    isinstance(x, float)
                    and isinstance(y, float)
                    and math.isnan(x)
                    and math.isnan(y)
                )
                assert both_nan or x == y, (name, c, i, x, y)
            else:
                assert str(x) == str(y), (name, c, i, x, y)


ORACLE_NAMES = sorted(E.oracle_sql())
ROWS_ONLY = sorted(set(E.queries()) - set(ORACLE_NAMES))


@pytest.fixture(scope="module")
def oracle_tag(spark):
    """Build the replay SF's oracle-cache artifacts once, before any
    parity check reads them; returns the SF tag they are keyed by."""
    E.oracle_inputs(spark, SF)
    return os.path.basename(os.path.normpath(SF))


def _no_cache_write(tag, pdf):
    raise AssertionError(f"a query callable wrote oracle artifact {tag}")


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, ddb, oracle_tag, monkeypatch, name):
    # a query only answers: writing an oracle artifact during the query
    # call would make the check depend on the query it checks
    with monkeypatch.context() as m:
        m.setattr(E, "_cache_parquet", _no_cache_write)
        sdf = E.queries()[name](spark, SF).toPandas()
    sql = E.oracle_sql(sf_tag=oracle_tag)[name]
    odf = ddb.execute(sql).df()
    _assert_match(name, sdf, odf)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(spark, name):
    df = E.queries()[name](spark, SF)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"source_type", "edge_type", "target_type", "triple_count"} == set(
        df.columns
    )


def test_every_oracle_key_has_query():
    assert set(E.oracle_sql()) <= set(E.queries())
