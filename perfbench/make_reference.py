"""Regenerate ``expected.json``: the reference digest of every benchmark
query at every size, cross-checked against the DuckDB oracle.

    python3 perfbench/make_reference.py            # check and write
    python3 perfbench/make_reference.py --check    # check only

For each query it runs the Spark result, compares it with the query's
``__spark_entry__.oracle_sql()`` twin over the same generated tables
(rows sorted, columns by name, values exact), and records
``workloads.result_digest``. Oracles that read a shared input from the
oracle cache (pagerank, k-core, simhash, winnow) get that input written
to the work dir, built the way the query builds it for the oracled
scale factors. A query whose oracle disagrees aborts the write.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

import run  # noqa: F401  (sets up paths)
import tables
import workloads

TABLE_NAMES = "region nation customer supplier part orders lineitem documents embeddings".split()


def _canon(df):
    df = df[sorted(df.columns)].copy()
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _same(a, b) -> bool:
    a, b = _canon(a), _canon(b)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    for c in a.columns:
        for x, y in zip(a[c].tolist(), b[c].tolist()):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)):
                if not (x == y or (isinstance(x, float) and isinstance(y, float) and math.isnan(x) and math.isnan(y))):
                    return False
            elif str(x) != str(y):
                return False
    return True


def _shared_inputs(spark, data_dir: str, out_dir: str) -> dict[str, str]:
    """The oracle-cache inputs, keyed by the cache file stem."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as E
    from kgw_spark.operators import dedup as DD
    from kgw_spark.operators import kcore as KC
    from kgw_spark.operators import pagerank as PR
    from kgw_spark.sources import tpch_kg as KG

    con = duckdb.connect()
    for t in ("nation", "customer", "supplier", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    edge_list = [(r[0], r[2]) for r in con.execute(KG.KG_EDGES_SQL).fetchall()]
    rank = PR.pagerank_py(edge_list, iters=3)
    frames = {
        "kg_pagerank": pd.DataFrame(sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:20], columns=["id", "rank_scaled"]),
        "kg_kcore": pd.DataFrame(sorted(KC.k_core_py(edge_list, k=3).items()), columns=["id", "degree"]),
        "simhash": DD.simhash(E._t(spark, data_dir, "documents")).orderBy("doc_id").toPandas(),
        "winnow": DD.winnow_fingerprints(E._tp(spark, data_dir, "documents"), k=5, w=4)
        .orderBy("doc_id", "fingerprint")
        .toPandas(),
    }
    paths = {}
    for stem, pdf in frames.items():
        paths[stem] = os.path.join(out_dir, f"{stem}.parquet")
        pdf.to_parquet(paths[stem])
    return paths


def reference(spark, size: str, work: str) -> dict[str, str]:
    import duckdb

    import __spark_entry__ as E

    data_dir = os.path.join(work, f"tables_{size}")
    tables.generate(data_dir, workloads.TABLE_SF[size], workloads.TABLE_SEED)
    shared = _shared_inputs(spark, data_dir, work)
    tag = "bench"
    oracles = E.oracle_sql(tag)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out, bad = {}, []
    for name in workloads.GRAPH_QUERIES + workloads.DOCS_QUERIES:
        df = E.queries()[name](spark, data_dir)
        sql = oracles[name]
        for stem, path in shared.items():
            sql = sql.replace(f"{E._ORACLE_CACHE}/{stem}_{tag}.parquet", path)
        same = _same(df.toPandas(), con.execute(sql).df())
        out[name] = workloads.result_digest(df)
        print(f"{size:5s} {name:28s} oracle={'ok' if same else 'MISMATCH'} digest={out[name]}", flush=True)
        if not same:
            bad.append(name)
    if bad:
        sys.exit(f"oracle mismatch at {size}: {bad}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true", help="compare with expected.json instead of writing it")
    args = ap.parse_args()
    run._prepare_env()
    from kgw_spark.session import get_spark, stop_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark(cores=cores, shuffle_partitions=cores, extra_conf=run.session_conf())
    try:
        ref = {size: reference(spark, size, run.WORK) for size in workloads.TABLE_SF}
    finally:
        stop_spark()
    path = os.path.join(run.HERE, "expected.json")
    if args.check:
        with open(path) as f:
            ok = json.load(f) == ref
        print("expected.json", "matches" if ok else "DIFFERS")
        return 0 if ok else 1
    with open(path, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
