"""Replay of the driver's correctness gate: every queries() entry with
an oracle_sql() twin must match DuckDB on row count, sorted column
names, and exact values (columns sorted by name, rows sorted).

Runs at sf0.001 by default for speed; set SPARK_GRAFT_ORACLE_SF to
/root/testdata/sf0.01 to mirror the driver exactly.
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


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(spark, ddb, name):
    sdf = E.queries()[name](spark, SF).toPandas()
    # the cache-backed oracles read per-SF artifacts; pass the replay
    # SF's tag (the query callable regenerates the artifact for this
    # SF before we get here)
    tag = os.path.basename(os.path.normpath(SF))
    sql = E.oracle_sql(sf_tag=tag)[name]
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


def test_rotation_policy_tail_is_previously_certified():
    """Registration-order guard for the driver's ~50-row verification
    budget: every queries() entry past position 50 must have a fully
    green row (rows+schema+hash) in the MOST RECENT committed
    CORRECTNESS_r*.json that contains it — the rotation policy
    documented in queries(). (The r5 form of this guard demanded a
    green row in the single latest record, which is self-defeating
    under a 50-row cap with >50 queries: the moment a new record lands,
    every tail entry certified the round before reads as stale. Scanning
    records newest-first keeps the intent — no entry is ever parked in
    the tail without a driver certificate — without the impossible
    requirement.) New/rotated-in entries must sit in the head so they
    get certified this round."""
    import glob
    import json
    import re

    repo = os.path.dirname(os.path.abspath(E.__file__))
    records = sorted(
        glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
        reverse=True,
    )
    if not records:
        pytest.skip("no driver correctness record yet (round 1)")
    loaded = []
    for p in records:
        with open(p) as f:
            loaded.append((os.path.basename(p), json.load(f)))
    names = list(E.queries())
    stale = []
    for pos, name in enumerate(names, start=1):
        if pos <= 50:
            continue
        row = next((rec.get(name) for _, rec in loaded if name in rec), None)
        ok = bool(
            row
            and row.get("rows_match")
            and row.get("schema_match")
            and row.get("hash_match")
        )
        if not ok:
            stale.append((pos, name))
    assert not stale, (
        f"tail entries past the driver cap lack a green row in any "
        f"committed CORRECTNESS record: {stale} — move them into the "
        f"first 50 positions of queries()"
    )
