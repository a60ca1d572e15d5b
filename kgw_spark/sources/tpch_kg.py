"""Derive a property-graph (nodes/edges) from the TPC-H-ish testdata.

This maps the driver-provided star schema onto the unified KG model so
every KG operator (A1-A7, T3-T7, canonicalization) can be exercised —
and oracle-checked in ANSI SQL — on the same tables the driver uses.

Entity ids follow the engine's `<type>:<key>` convention (T6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgw_spark.operators.pairs import canonical_pairs


def _tag(prefix: str, col: str):
    return F.concat(F.lit(prefix + ":"), F.col(col).cast("string"))


def load_tables(spark: SparkSession, sf_dir: str, names: list[str]) -> dict:
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}


# Derived-view cache: the node/edge union is referenced by a dozen
# analytics queries per session (schema, neighborhood, pagerank, k-hop,
# degree…), each of which would otherwise re-scan six parquet tables and
# re-evaluate the union. One persisted copy per (SparkContext, sf_dir)
# amortizes that — the local-mode analog of materializing the KG view as
# a store table once and pointing every query at it. Keyed by
# applicationId so entries from stopped sessions are dropped (their
# cached blocks died with the context).
_VIEW_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def _cached(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    """One ``build()`` (it materializes) per (SparkContext, sf_dir, kind)."""
    import os

    app = spark.sparkContext.applicationId
    key = (app, os.path.normpath(sf_dir), kind)
    stale = [k for k in _VIEW_CACHE if k[0] != app]
    for k in stale:
        del _VIEW_CACHE[k]
    if key not in _VIEW_CACHE:
        _VIEW_CACHE[key] = build()
    return _VIEW_CACHE[key]


def kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached(spark, sf_dir, "nodes", lambda: _kg_nodes(spark, sf_dir).persist())


def kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cached(spark, sf_dir, "edges", lambda: _kg_edges(spark, sf_dir).persist())


def kg_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical undirected pair list ``(u, v)`` with ``u < v`` of the
    KG (``pairs.canonical_pairs`` over ``kg_edges``) — the shared
    derived view every undirected graph analytic reads. Cached per
    (SparkContext, sf_dir) like kg_nodes/kg_edges: the |E|-row distinct
    shuffle is paid once per session instead of once per query — the
    local-mode analog of materializing the pair list as a store table
    next to the edge table. Recomputed from the parquet inputs by every
    fresh session."""
    return _cached(spark, sf_dir, "pairs", lambda: canonical_pairs(kg_edges(spark, sf_dir)))


def kg_edges2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 2-column edge projection ``(source_id, target_id)``
    WITH multi-edges (the pagerank working set: out-degree and
    contributions count edge instances, so the canonical pair view
    cannot substitute). Cached per (SparkContext, sf_dir) like
    kg_pairs, via a lazy localCheckpoint (raw-row checkpoint scans beat
    persist()'s columnar decode); recomputed from the parquet inputs by
    every fresh session."""
    return _cached(
        spark,
        sf_dir,
        "edges2",
        lambda: kg_edges(spark, sf_dir)
        .select("source_id", "target_id")
        .localCheckpoint(eager=False),
    )


def _kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, ["region", "nation", "customer", "supplier", "part", "orders"]
    )
    parts = [
        t["region"].select(_tag("region", "r_regionkey").alias("id"), F.lit("region").alias("type")),
        t["nation"].select(_tag("nation", "n_nationkey").alias("id"), F.lit("nation").alias("type")),
        t["customer"].select(_tag("customer", "c_custkey").alias("id"), F.lit("customer").alias("type")),
        t["supplier"].select(_tag("supplier", "s_suppkey").alias("id"), F.lit("supplier").alias("type")),
        t["part"].select(_tag("part", "p_partkey").alias("id"), F.lit("part").alias("type")),
        t["orders"].select(_tag("order", "o_orderkey").alias("id"), F.lit("order").alias("type")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def _kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(
        spark, sf_dir, ["nation", "customer", "supplier", "orders", "lineitem"]
    )
    parts = [
        t["nation"].select(
            _tag("nation", "n_nationkey").alias("source_id"),
            F.lit("located_in").alias("type"),
            _tag("region", "n_regionkey").alias("target_id"),
        ),
        t["customer"].select(
            _tag("customer", "c_custkey").alias("source_id"),
            F.lit("from_nation").alias("type"),
            _tag("nation", "c_nationkey").alias("target_id"),
        ),
        t["supplier"].select(
            _tag("supplier", "s_suppkey").alias("source_id"),
            F.lit("from_nation").alias("type"),
            _tag("nation", "s_nationkey").alias("target_id"),
        ),
        t["orders"].select(
            _tag("order", "o_orderkey").alias("source_id"),
            F.lit("placed_by").alias("type"),
            _tag("customer", "o_custkey").alias("target_id"),
        ),
        t["lineitem"].select(
            _tag("order", "l_orderkey").alias("source_id"),
            F.lit("contains").alias("type"),
            _tag("part", "l_partkey").alias("target_id"),
        ),
        t["lineitem"].select(
            _tag("part", "l_partkey").alias("source_id"),
            F.lit("supplied_by").alias("type"),
            _tag("supplier", "l_suppkey").alias("target_id"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


# The same graph as ANSI SQL, shared by every oracle query (DuckDB runs
# these as CTE bodies named kg_nodes / kg_edges).
KG_NODES_SQL = """
    SELECT 'region:' || r_regionkey AS id, 'region' AS type FROM region
    UNION ALL SELECT 'nation:' || n_nationkey, 'nation' FROM nation
    UNION ALL SELECT 'customer:' || c_custkey, 'customer' FROM customer
    UNION ALL SELECT 'supplier:' || s_suppkey, 'supplier' FROM supplier
    UNION ALL SELECT 'part:' || p_partkey, 'part' FROM part
    UNION ALL SELECT 'order:' || o_orderkey, 'order' FROM orders
"""

KG_EDGES_SQL = """
    SELECT 'nation:' || n_nationkey AS source_id, 'located_in' AS type,
           'region:' || n_regionkey AS target_id FROM nation
    UNION ALL SELECT 'customer:' || c_custkey, 'from_nation',
           'nation:' || c_nationkey FROM customer
    UNION ALL SELECT 'supplier:' || s_suppkey, 'from_nation',
           'nation:' || s_nationkey FROM supplier
    UNION ALL SELECT 'order:' || o_orderkey, 'placed_by',
           'customer:' || o_custkey FROM orders
    UNION ALL SELECT 'order:' || l_orderkey, 'contains',
           'part:' || l_partkey FROM lineitem
    UNION ALL SELECT 'part:' || l_partkey, 'supplied_by',
           'supplier:' || l_suppkey FROM lineitem
"""

KG_CTE = f"WITH kg_nodes AS ({KG_NODES_SQL}), kg_edges AS ({KG_EDGES_SQL})"
