"""Query contract of the engine: entry point, query suite and oracles.

``entry(spark)`` runs the flagship A4 schema query on sf0.001.
``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (plus the training-data operator suite); each callable
takes (spark, sf_dir), returns a DataFrame and writes nothing.
``oracle_sql()`` gives a DuckDB-executable twin for every query: plain
ANSI SQL over the testdata tables where expressible; for the
LSH/ANN/multimodal families and the full KG pipeline, the oracle reads
deterministic parquet artifacts under ``.oracle_cache/`` — exact-result
sets from independent reference implementations, shared signature
tables brute-forced in SQL, or the corpus generator's ground-truth
triples. ``oracle_inputs(spark, sf_dir)`` builds those artifacts for
one scale factor; they are committed to the repo, and a rebuild skips
every file whose content is unchanged, so it leaves git clean.

Numeric discipline (so value-hashes match across engines): money
aggregates are summed as DECIMAL(18,2) (exact, order-independent) and
only then cast to double and rounded; ratio outputs are rounded to 6;
no raw timestamps are returned (formatted to strings).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgw_spark.functions import text as TX
from kgw_spark.operators import dedup as DD
from kgw_spark.operators import similarity as SIM
from kgw_spark.operators.canon import connected_components
from kgw_spark.plans import analytics as A
from kgw_spark.sources import tpch_kg as KG

# ---------------------------------------------------------------------------
# shared SQL fragments
# ---------------------------------------------------------------------------
_STOP = ", ".join(f"'{w}'" for w in TX.STOPWORDS)
_TOKS = r"string_split_regex(trim(text), '\s+')"

# all-pairs 3-gram Jaccard (≥ 0.2) — the oracle for the direct
# shingle-join query, the minhash-LSH query (whose exact verify step
# makes equality a pure candidate-recall certificate), and the cluster
# and curation queries (parameterized by source relation).
# ``max_df`` mirrors ngram_jaccard_pairs' scale-safety cap (shingles in
# more than max_df docs are excluded from the common counts but NOT
# from the Jaccard denominator) so the oracle certifies the capped
# semantics the Spark default actually runs at any SF; None = exact
# (the semantics of the minhash verify step, which has no cap).
def _jaccard_sql(source: str = "documents", max_df: int | None = None) -> str:
    cap = (
        f"""JOIN (SELECT shingle FROM s GROUP BY shingle
                 HAVING COUNT(*) <= {max_df}) kept
            ON a.shingle = kept.shingle"""
        if max_df is not None
        else ""
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM {source}),
    s AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
        FROM t, UNNEST(range(1, greatest(len(toks) - 1, 1))) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM s GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS c
        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        {cap}
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT common.a, common.b,
           ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) AS jaccard
    FROM common
    JOIN sizes sa ON common.a = sa.doc_id
    JOIN sizes sb ON common.b = sb.doc_id
    WHERE ROUND(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 6) >= 0.2
"""


_JACCARD_SQL = _jaccard_sql()


def _pii_oracle_sql() -> str:
    from kgw_spark.functions.pii import pii_sql

    planted = (
        "CASE WHEN doc_id % 5 = 0 THEN text || ' Contact user' || "
        "CAST(doc_id AS VARCHAR) || '@example.com or +49 151 2345 at 10.0.' "
        "|| CAST(doc_id % 200 AS VARCHAR) || '.17' ELSE text END"
    )
    frags = pii_sql("ptext")
    return f"""
        WITH p AS (SELECT doc_id, {planted} AS ptext FROM documents)
        SELECT doc_id,
               CAST({frags["email"]} AS INTEGER) AS n_emails,
               CAST({frags["ipv4"]} AS INTEGER) AS n_ipv4,
               CAST({frags["phone"]} AS INTEGER) AS n_phones,
               CAST(length({frags["redacted"]}) AS INTEGER) AS redacted_len,
               sha256({frags["redacted"]}) AS redacted_sha256
        FROM p
    """


def _lcg_sql(key_expr: str) -> str:
    from kgw_spark.operators.sampling import lcg_bucket_sql

    return lcg_bucket_sql(key_expr)


def _wsample_sql(key_expr: str, weight_expr: str) -> str:
    from kgw_spark.operators.sampling import weighted_sample_sql

    return weighted_sample_sql(key_expr, weight_expr)


def _stratified_sql(cols: str, key_expr: str, stratum_expr: str, k: int) -> str:
    from kgw_spark.operators.sampling import stratified_topk_sql

    return stratified_topk_sql(cols, key_expr, stratum_expr, k)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tp(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parallelized table read for queries whose per-row derivation work
    (shingle explodes, n-gram chains, winnow windows) dwarfs the scan:
    the testdata parquet files are single-row-group, so a bare scan is
    ONE task and the whole derivation runs on one core of local[32].
    One cheap round-robin exchange of the (tiny) raw rows fans the
    derivation across every lane. Applied per query by measurement —
    for scan+aggregate queries (q1, events rollups, token-count aggs)
    the extra exchange LOSES; each call site here was A/B-timed at
    sf0.1/32 lanes (guide (S)2.4/(S)6: same policy as a cluster deciding
    whether a derivation merits a repartition after a skinny scan)."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df.repartition(spark.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# oracle-cache: deterministic expected-result / shared-input parquet
# files for queries whose oracle is not expressible over the raw tables
# alone (independent driver-side reference implementations, ground-truth
# triple sets, signature tables). Pure functions of the fixed testdata
# and seeds, built by ``oracle_inputs`` and committed to the repo.
# ---------------------------------------------------------------------------
import os as _os

_REPO_DIR = _os.path.dirname(_os.path.abspath(__file__))
_ORACLE_CACHE = _os.path.join(_REPO_DIR, ".oracle_cache")


def _cache_parquet(tag: str, pdf) -> str:
    path = _os.path.join(_ORACLE_CACHE, f"{tag}.parquet")
    _os.makedirs(_ORACLE_CACHE, exist_ok=True)
    if _os.path.exists(path):
        # skip identical rewrites: the artifacts are committed to the
        # repo, so an unconditional write leaves git dirty every run
        try:
            import pandas as _pd

            if _pd.read_parquet(path).equals(pdf.reset_index(drop=True)):
                return path
        except Exception:
            pass
    tmp = f"{path}.tmp{_os.getpid()}"
    pdf.to_parquet(tmp)
    _os.replace(tmp, path)
    return path


def _sf_tag(sf_dir: str) -> str:
    return _os.path.basename(_os.path.normpath(sf_dir))


_PIPELINE_STORES: dict[str, str] = {}


def _pipeline_store_dir(tag: str) -> str:
    """A per-SF scratch TableStore dir for the flagship pipeline query,
    created once per process and removed at exit."""
    if tag not in _PIPELINE_STORES:
        import atexit
        import shutil
        import tempfile

        path = tempfile.mkdtemp(prefix=f"kgq_{tag}_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _PIPELINE_STORES[tag] = path
    return _PIPELINE_STORES[tag]


_PYFILES_SHIPPED: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make kgw_spark importable on the session's Python workers
    regardless of the harness's cwd/PYTHONPATH: zip the package once
    and addPyFile it to the live SparkContext. Only needed by queries
    that run Python UDFs (mapInPandas extraction)."""
    key = id(spark.sparkContext)
    if key in _PYFILES_SHIPPED:
        return
    import hashlib
    import os
    import tempfile
    import zipfile

    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "kgw_spark")
    # name the zip by a content hash of the package sources: code
    # changes rebuild automatically instead of reusing a stale archive
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                sources.append((os.path.relpath(full, os.path.dirname(pkg_dir)), full))
    sources.sort()
    digest = hashlib.sha256()
    for rel, full in sources:
        digest.update(rel.encode())
        with open(full, "rb") as f:
            digest.update(f.read())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"kgw_spark_pyfiles_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        # per-process unique temp file: concurrent drivers building the
        # same hash never corrupt each other's archive
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel, full in sources:
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _PYFILES_SHIPPED.add(key)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: A4 schema detection over the KG derived from sf0.001."""
    sf = "/root/testdata/sf0.001"
    return A.schema_triples(KG.kg_nodes(spark, sf), KG.kg_edges(spark, sf))


# ---------------------------------------------------------------------------
# KG operator queries (SURVEY §2.3 / §2.2 / §2.7)
# ---------------------------------------------------------------------------
def q_kg_statistics(spark, sf_dir):
    nodes, edges = KG.kg_nodes(spark, sf_dir), KG.kg_edges(spark, sf_dir)
    n = nodes.agg(
        F.count(F.lit(1)).alias("num_nodes"),
        F.countDistinct("type").alias("num_node_types"),
    )
    e = edges.agg(
        F.count(F.lit(1)).alias("num_edges"),
        F.countDistinct("type").alias("num_edge_types"),
    )
    return n.crossJoin(e).select(
        "num_nodes", "num_edges", "num_node_types", "num_edge_types"
    )


def q_kg_node_type_counts(spark, sf_dir):
    return (
        KG.kg_nodes(spark, sf_dir)
        .groupBy("type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_kg_edge_type_counts(spark, sf_dir):
    return (
        KG.kg_edges(spark, sf_dir)
        .groupBy("type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_kg_schema_triples(spark, sf_dir):
    return A.schema_triples(KG.kg_nodes(spark, sf_dir), KG.kg_edges(spark, sf_dir))


def q_kg_compact_schema(spark, sf_dir):
    return A.compact_schema(KG.kg_nodes(spark, sf_dir), KG.kg_edges(spark, sf_dir))


def q_kg_neighborhood(spark, sf_dir):
    return A.neighborhood(KG.kg_edges(spark, sf_dir), "nation:3")


def q_kg_k_hop(spark, sf_dir):
    """k-hop BFS distances from a start entity (iterative frontier
    joins; oracle = recursive-CTE shortest undirected hop in DuckDB)."""
    return A.k_hop(KG.kg_pairs(spark, sf_dir), "customer:1", k=2)


def q_kg_pagerank(spark, sf_dir):
    """Exact-integer PageRank over the KG (order-independent 64-bit
    arithmetic — the reason it CAN be value-oracled); top 20 entities.
    Oracle: the pure-Python replica over the same edge list (fetched
    via DuckDB, no Spark), built by ``oracle_inputs``."""
    from kgw_spark.operators import pagerank as PR

    return (
        PR.pagerank(KG.kg_edges2(spark, sf_dir), iters=3)
        .orderBy(F.desc("rank_scaled"), F.asc("id"))
        .limit(20)
    )


def q_kg_label_prop(spark, sf_dir):
    """3 rounds of synchronous min-label propagation (hash-min Pregel
    primitive) over the KG: every node's label becomes the minimum node
    id within 3 undirected hops — exact strings, so the community
    histogram (label, member count) value-oracles in pure SQL (the
    oracle brute-forces the same 3 rounds as nested CTEs over the node
    set; TPC-H referential integrity puts every edge endpoint in it)."""
    from kgw_spark.operators.communities import min_label_propagation

    labels = min_label_propagation(
        KG.kg_nodes(spark, sf_dir), KG.kg_pairs(spark, sf_dir), rounds=3
    )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


def q_kg_kcore(spark, sf_dir):
    """3-core of the KG (iterative peeling: nodes of degree < 3 removed
    until fixpoint over the undirected simple graph): the dense-region
    / graph-health primitive. Returns every surviving node with its
    degree WITHIN the core — all-integer, so exactly value-oracle-able.
    Oracle: the pure-Python peeling replica over the same edge list
    (fetched via DuckDB, no Spark), built by ``oracle_inputs``."""
    from kgw_spark.operators import kcore as KC

    return KC.k_core(KG.kg_pairs(spark, sf_dir), k=3)


def q_kg_triple_dedup(spark, sf_dir):
    edges = KG.kg_edges(spark, sf_dir)
    return (
        edges.filter(F.col("type").isin("contains", "supplied_by"))
        .select(
            F.col("source_id").alias("subj"),
            F.col("type").alias("pred"),
            F.col("target_id").alias("obj"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )


def q_kg_node_union(spark, sf_dir):
    edges = KG.kg_edges(spark, sf_dir)
    ids = (
        edges.select(F.col("source_id").alias("id"))
        .union(edges.select(F.col("target_id").alias("id")))
        .distinct()
    )
    return ids.select(
        "id", F.lower(F.split(F.col("id"), ":", 2).getItem(0)).alias("node_type")
    )


def q_kg_enrich_broadcast(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    enriched = cust.join(
        F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
    ).join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    return enriched.groupBy(
        F.col("r_name").alias("region_name"),
        F.col("c_mktsegment").alias("mktsegment"),
    ).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.min("c_acctbal"), 2).alias("min_acctbal"),
        F.round(F.max("c_acctbal"), 2).alias("max_acctbal"),
    )


def q_kg_connected_components(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    pairs = nation.select(
        F.concat(F.lit("nation:"), F.col("n_nationkey").cast("string")).alias("u"),
        F.concat(F.lit("region:"), F.col("n_regionkey").cast("string")).alias("v"),
    ).union(
        supplier.select(
            F.concat(F.lit("supplier:"), F.col("s_suppkey").cast("string")).alias("u"),
            F.concat(F.lit("nation:"), F.col("s_nationkey").cast("string")).alias("v"),
        )
    )
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# TPC-H-style analytics (bench headliners; exercise joins/aggs/windows)
# ---------------------------------------------------------------------------
def q_q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2000-12-01")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).alias("_sq"),
        F.sum(price).alias("_sp"),
        F.sum(price * (F.lit(1.0).cast("decimal(18,2)") - disc)).alias("_sd"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("_sq").cast("double"), 2).alias("sum_qty"),
        F.round(F.col("_sp").cast("double"), 2).alias("sum_base_price"),
        F.round(F.col("_sd").cast("double"), 4).alias("sum_disc_price"),
        F.round(F.col("_sq").cast("double") / F.col("count_order"), 6).alias("avg_qty"),
        "count_order",
    )


def q_q3_shipping_priority(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-06-30")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-06-30")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    )
    return (
        j.groupBy("l_orderkey", "o_orderpriority")
        .agg(
            F.round(
                F.sum(price * (F.lit(1.0).cast("decimal(18,2)") - disc)).cast("double"),
                4,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_q5_region_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return j.groupBy(F.col("r_name").alias("region_name")).agg(
        F.round(
            F.sum(price * (F.lit(1.0).cast("decimal(18,2)") - disc)).cast("double"), 4
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


def q_q6_forecast_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    sel = li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_quantity") < 24)
    )
    return sel.agg(
        F.round(F.sum(price * disc).cast("double"), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_q10_top_customers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    return (
        j.groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.round(
                F.sum(price * (F.lit(1.0).cast("decimal(18,2)") - disc)).cast(
                    "double"
                ),
                4,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(20)
    )


def q_q4_priority_semi(spark, sf_dir):
    """q4-style EXISTS: orders in a quarter having at least one returned
    lineitem — a left-semi join (never materializes the match list)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_q14_promo_revenue(spark, sf_dir):
    """q14-style conditional aggregation over a fact×dim join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    p = _t(spark, sf_dir, "part")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    rev = price * (F.lit(1.0).cast("decimal(18,2)") - disc)
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    agg = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,2)"))).alias("_pr"),
        F.sum(rev).alias("_tr"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return agg.select(
        F.round(F.lit(100.0) * F.col("_pr").cast("double") / F.col("_tr").cast("double"), 4).alias("promo_share_pct"),
        F.round(F.col("_tr").cast("double"), 4).alias("total_revenue"),
        "n_rows",
    )


def q_q17_small_quantity_revenue(spark, sf_dir):
    """q17-style: lineitems below 20% of their part's average quantity
    (per-group scalar aggregate joined back; quantities are
    integer-valued so the avg is order-independent in fp)."""
    li = _t(spark, sf_dir, "lineitem")
    avgs = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.avg("l_quantity").alias("_avg_qty")
    )
    j = li.join(avgs, li["l_partkey"] == F.col("_pk")).filter(
        F.col("l_quantity") < 0.2 * F.col("_avg_qty")
    )
    return j.agg(
        F.round(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / 7.0),
            4,
        ).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def q_q18_large_volume_customers(spark, sf_dir):
    """q18-style: customers with orders whose total quantity exceeds a
    threshold (agg → filter → join chain)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"))
        .filter(F.col("_sq") > 200)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = big.join(o, big["l_orderkey"] == o["o_orderkey"]).join(
        c, o["o_custkey"] == c["c_custkey"]
    )
    return j.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("name"),
        F.col("o_orderkey").alias("orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.round(F.col("_sq").cast("double"), 2).alias("sum_qty"),
    )


def q_q22_idle_customers_anti(spark, sf_dir):
    """q22-style anti join: per-segment profile of customers who never
    placed a >400k order (left_anti never builds the complement)."""
    c = _t(spark, sf_dir, "customer")
    big_orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    idle = c.join(
        big_orders, c["c_custkey"] == big_orders["o_custkey"], "left_anti"
    )
    return idle.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2).alias(
            "sum_acctbal"
        ),
    )


def q_events_json_props(spark, sf_dir):
    """JSON property extraction over the events.props column (T9-style
    parse; exercises get_json_object against DuckDB's json functions)."""
    ev = _t(spark, sf_dir, "events")
    device = F.get_json_object(F.col("props"), "$.k")
    return (
        ev.groupBy(device.alias("device"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("min_value"),
        )
    )


def q_kg_edge_rollup(spark, sf_dir):
    """ROLLUP over the KG schema dims — subtotal/grand-total rows
    (beyond the reference's plain GROUP BYs)."""
    edges = KG.kg_edges(spark, sf_dir)
    src_kind = F.split(F.col("source_id"), ":", 2).getItem(0)
    tgt_kind = F.split(F.col("target_id"), ":", 2).getItem(0)
    return (
        edges.select(
            src_kind.alias("source_kind"), tgt_kind.alias("target_kind")
        )
        .rollup("source_kind", "target_kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_top_order_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# events: sessionization + windowed aggregation
# ---------------------------------------------------------------------------
def q_orders_running_total(spark, sf_dir):
    """Frame-based windows: per-customer running total (unbounded
    preceding) and 3-row moving average over order history — decimal
    sums for cross-engine exactness, explicit sum/count for the moving
    average (engines disagree on AVG(DECIMAL) result scale)."""
    o = _t(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    base = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    recent = base.rowsBetween(-2, Window.currentRow)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.sum(price).over(running).cast("double"), 2).alias("running_total"),
        F.round(
            F.sum(price).over(recent).cast("double")
            / F.count(F.lit(1)).over(recent),
            6,
        ).alias("moving_avg3"),
    )


def q_events_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast
    # to TIMESTAMP is lossless and unix_micros applies
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_events_range_window(spark, sf_dir):
    """RANGE-frame window (time-based, vs the ROWS frames elsewhere):
    per user, how many events landed in the trailing 30 minutes and the
    min value in that horizon — the sliding-lookback shape rate
    limiting / anomaly checks take. Integer count + MIN only, so exact
    across engines despite fp values; ties on the ordering key are
    well-defined because RANGE includes peers."""
    ev = _t(spark, sf_dir, "events")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-1800 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_30m"),
        F.round(F.min("value").over(w), 6).alias("min_value_30m"),
    )


def q_events_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


def q_events_asof_click(spark, sf_dir):
    """As-of join (operators/asof.py): for every 'error' event, the
    same user's most recent 'click' at-or-before it — union-and-window,
    ONE shuffle+sort, no range explosion (the quadratic range-join
    formulation is the ORACLE, not the plan). Deterministic via the
    max-event_id tie-break; restricted to matched rows so the certified
    result is null-free (the NULL no-match path is pytest-covered)."""
    from kgw_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    return (
        asof_join(
            errors, clicks, ["user_id"], "ts", "cts", ["cid", "cts"], tie_col="cid"
        )
        .filter(F.col("asof_cid").isNotNull())
        .select("event_id", "user_id", "ts", "asof_cid", "asof_cts")
    )


def q_events_range_pairs(spark, sf_dir):
    """Banded range join (operators/asof.py): every (error, click) pair
    of the same user with the click inside the error's preceding 2-hour
    window. The Spark plan buckets time at the window width so the
    equi-join on (user, bucket) bounds candidates to ≤2× the matches —
    never the per-user cross product the oracle's non-equi join is."""
    from kgw_spark.operators.asof import range_join

    ev = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ: take micros from a fixed NTZ epoch (pure
    # wall-clock arithmetic, independent of the session timezone —
    # unix_micros(cast) would shift with spark.sql.session.timeZone)
    tus = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '2020-01-01 00:00:00', ts)"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", tus.alias("tus")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", tus.alias("tus")
    )
    two_h = 2 * 3600 * 1_000_000
    return range_join(
        errors, clicks, ["user_id"], "tus", "tus", lower=-two_h, upper=0
    ).select(
        "error_id",
        F.col("r_click_id").alias("click_id"),
        "user_id",
        (F.col("tus") - F.col("r_tus")).alias("delta_us"),
    )


# ---------------------------------------------------------------------------
# training-data operators: text analysis, dedup, similarity
# ---------------------------------------------------------------------------
def q_docs_text_stats(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        TX.token_count(c).alias("n_tokens"),
        TX.word_token_count(c).alias("n_bpe_tokens"),
        F.round(TX.stopword_ratio(c), 6).alias("stopword_ratio"),
        F.round(TX.punct_ratio(c), 6).alias("punct_ratio"),
        TX.fingerprint(c).alias("fingerprint"),
        TX.lang_id(c).alias("lang_guess"),
        TX.quality_score(c).alias("quality"),
    )


def q_docs_prefix_dedup(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    prefix = F.concat_ws(" ", F.slice(toks, 1, 3))
    groups = docs.select(F.col("doc_id"), prefix.alias("prefix")).groupBy(
        "prefix"
    ).agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    return groups.filter(F.col("n_docs") >= 2).select("prefix", "keep_id", "n_docs")


def q_docs_exact_dup_pairs(spark, sf_dir):
    """Exact dedup (sha256 hash-groupBy) — the testdata has no
    byte-identical documents at any SF, so 25 deterministic copies
    (doc_id + 1e6, same text — expressible identically in the DuckDB
    twin) are planted so the driver row certifies the operator on a
    NON-empty result: every planted copy must pair with its original as
    (keep_id = original, dup_id = planted)."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    aug = docs.select("doc_id", "text").unionByName(planted)
    return DD.exact_duplicates(aug).select("keep_id", "dup_id")


def q_docs_ngram_jaccard(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    return DD.ngram_jaccard_pairs(docs, n=3, threshold=0.2)


def q_docs_dedup_clusters(spark, sf_dir):
    """End-to-end near-dup cluster resolution: MinHash-LSH pairs →
    connected components → min-id representative per cluster. Oracle:
    recursive closure over the exact all-pairs Jaccard graph in DuckDB
    (valid because LSH+verify recall is 1.0 on this data, certified by
    the docs_minhash_lsh oracle)."""
    docs = _tp(spark, sf_dir, "documents")
    return DD.near_dup_clusters(docs, n=3, num_perm=64, bands=16, threshold=0.2)


def q_docs_curated(spark, sf_dir):
    """Composed curation pipeline — the shape a training-data run takes:
    length filter → near-dup cluster dedup (keep one representative per
    cluster) → per-language corpus profile. Oracle composes the same
    stages in SQL (filter, recursive closure of the exact pair graph,
    anti-filter, group)."""
    docs = _tp(spark, sf_dir, "documents").filter(F.col("n_chars") >= 200)
    kept = DD.dedup_near(docs, threshold=0.2, n=3, num_perm=64, bands=16)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_docs_hash_sample(spark, sf_dir):
    """Deterministic stratified sampling profile: a 30% hash-mod sample
    (pure function of doc_id — same split every run on any cluster) and
    its per-language acceptance, the reproducible-split primitive every
    training-data pipeline needs. One narrow scan, no shuffle beyond the
    profile agg."""
    from kgw_spark.operators.sampling import lcg_bucket

    docs = _t(spark, sf_dir, "documents")
    sampled = F.when(lcg_bucket(F.col("doc_id"), 100) < 30, 1).otherwise(0)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(sampled).alias("n_sampled"),
        F.sum(sampled * F.col("n_chars")).alias("sampled_chars"),
    )


def q_docs_weighted_sample(spark, sf_dir):
    """Weighted Bernoulli sampling (operators/sampling.py): inclusion
    probability proportional to document length (capped at 1) — the
    corpus-mixing primitive (quality/length-proportional sampling)
    deterministic by doc_id, so the same mix reproduces on any cluster.
    Integer LCG + one IEEE multiply/floor only, hence exactly
    value-oracle-able. One narrow scan + filter, no shuffle."""
    from kgw_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    w = F.col("n_chars") / F.lit(2000.0)
    return weighted_sample(docs, "doc_id", w).select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(F.least(F.lit(1.0), w), 6).alias("keep_w"),
    )


def q_docs_stratified_sample(spark, sf_dir):
    """Stratified top-k sampling (operators/sampling.py): the 5 docs
    per language with the smallest LCG hash — balanced eval-split
    construction, deterministic by doc_id. The Spark plan prunes each
    stratum to ~margin*k hash-threshold survivors (broadcast-joined
    per-stratum thresholds, exactness gated by survivor counts) before
    the window sort; the oracle is the unpruned window spec."""
    from kgw_spark.operators.sampling import stratified_topk

    docs = _t(spark, sf_dir, "documents")
    return stratified_topk(
        docs.select("doc_id", "lang", "n_chars"), "doc_id", "lang", k=5
    )


def q_kg_common_neighbors(spark, sf_dir):
    """Common-neighbor link prediction (operators/linkpred.py): top 20
    non-adjacent KG node pairs by shared-neighbor count, counting only
    through intermediate nodes of degree <= 32 (wedge work bounded by
    cap x |edges| — a hub emits no wedges). Deterministic
    (count DESC, u, v) cut, so exactly oracle-able."""
    from kgw_spark.operators.linkpred import common_neighbors

    return common_neighbors(KG.kg_pairs(spark, sf_dir), deg_cap=32, top=20)


def q_kg_degree_histogram(spark, sf_dir):
    """Degree distribution of the KG (undirected total degree): the
    two-level aggregation (node degree → histogram) a graph-health
    check runs; all-integer so exactly oracle-able."""
    edges = KG.kg_edges(spark, sf_dir)
    ids = edges.select(F.col("source_id").alias("id")).union(
        edges.select(F.col("target_id").alias("id"))
    )
    deg = ids.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def q_docs_top_tokens(spark, sf_dir):
    """Top-5 tokens per language by frequency (tie → token asc): the
    vocabulary-profile explode → count → windowed top-k shape, with a
    deterministic tiebreak so it value-oracles."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(F.split(F.trim(F.col("text")), "\\s+")).alias("tok")
    )
    counts = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tok"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "rank", "tok", "n")
    )


def q_docs_tfidf_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document — the keyword-extraction shape
    (explode → tf → df join → per-doc windowed top-k). IDF is the
    log-free rational variant ``N/df`` (monotone in the usual log-IDF
    for fixed tf), so the score is one exact integer product and one
    correctly-rounded IEEE division — identical doubles in both
    engines, no transcendentals to drift. Ranking ties break on the
    ROUNDED score then term ASC in both engines. Scale shape: tf is a
    map-side-combined groupBy, df a second narrow agg, the window is
    partitioned by doc_id (never global)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf",
        F.round(
            (F.col("tf") * F.lit(n_docs)).cast("double")
            / F.col("df_docs").cast("double"),
            6,
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tf", "df_docs", "tfidf")
    )


def q_docs_collocations(spark, sf_dir):
    """Top-20 bigram collocations by rational PMI lift: score =
    (c_xy · N) / (c_x · c_y) with N the corpus bigram count, c_x/c_y
    unigram occurrence counts, c_xy the bigram count, support
    c_xy >= 5. The lift is one exact BIGINT product per side (both
    < 2^53, so exact as doubles) and ONE correctly-rounded IEEE
    division — identical doubles cross-engine; ties break on the
    ROUNDED score then (w1, w2) ASC. Scale shape: bigrams explode from
    a single tokens-array scan (transform over adjacent positions — no
    positional self-join, unlike the SQL oracle), two map-side-combined
    groupBys, a vocab join onto the support-filtered pair list, and a
    20-row global top-k. N is derived as total_tokens - n_docs (every
    doc's split yields >= 1 token, so Σ(len-1) is exact) — no second
    pass over the bigram list."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    n_docs = docs.count()
    total_toks = toks.agg(F.sum(F.size("toks"))).collect()[0][0]
    n_bigrams = int(total_toks) - int(n_docs)
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    big = toks.select(
        F.explode(
            F.expr(
                "transform(slice(toks, 1, size(toks) - 1), (w, i) -> "
                "struct(w AS w1, element_at(toks, i + 2) AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    cxy = (
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        cxy.join(u1, "w1")
        .join(u2, "w2")
        .withColumn(
            "pmi",
            F.round(
                (F.col("c_xy") * F.lit(n_bigrams)).cast("double")
                / (F.col("c1") * F.col("c2")).cast("double"),
                6,
            ),
        )
    )
    return scored.select("w1", "w2", "c_xy", "c1", "c2", "pmi").orderBy(
        F.desc("pmi"), "w1", "w2"
    ).limit(20)


def q_events_rollup(spark, sf_dir):
    """Hierarchical ROLLUP aggregation (grouping sets) over the events
    stream: per (event_type, day), per event_type, and grand total —
    the OLAP cube shape. Sums are floor-quantized to integer cents
    (FLOOR of the identical IEEE product is unambiguous cross-engine,
    unlike ROUND's half-case rules), rollup NULL keys are coalesced to
    'ALL' (the generator emits no null event_type/ts, asserted by the
    oracle's equality itself). Scale shape: Spark expands rollup into
    grouping sets with map-side partial aggregation — one shuffle, no
    per-level rescan."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        base.rollup("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("value_cents"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day"), F.lit("ALL")).alias("day"),
            "n",
            "value_cents",
        )
    )


def q_events_funnel(spark, sf_dir):
    """Ordered funnel analysis (view → click → purchase): per user the
    deepest stage reached with STRICTLY increasing timestamps, then the
    user count per stage — the conversion-funnel shape every product
    analytics stack runs. Expressed as a 3-level conditional-min chain
    (t_view = min view ts; t_click = min click ts > t_view; t_purchase
    = min purchase ts > t_click): each level is one map-side-combined
    groupBy on user_id plus one join of a user-sized (not event-sized)
    frame back onto the scan — no window sort over the event stream,
    no per-user sequence materialization, and every value is a MIN of
    timestamps (exact, order-independent). At 100 TB the three aggs
    shuffle user-cardinality rows; the event scan is read three times
    (or once if the source is cheap to re-read — columnar scan of 3
    cols), never sorted."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    users = ev.select("user_id").distinct()
    staged = (
        users.join(v, "user_id", "left")
        .join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            F.when(F.col("t_purchase").isNotNull(), F.lit(3))
            .when(F.col("t_click").isNotNull(), F.lit(2))
            .when(F.col("t_view").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("funnel_stage")
        )
    )
    return staged.groupBy("funnel_stage").agg(F.count(F.lit(1)).alias("n_users"))


def q_orders_decile_stats(spark, sf_dir):
    """NTILE decile profile of order value: orders are split into 10
    equal-depth buckets over the deterministic total order
    (o_totalprice, o_orderkey), then per-decile count and exact integer
    cent-sum — the equal-depth-histogram / quantile-bucket shape.
    NTILE(n) over a total order is engine-independent (both Spark and
    DuckDB use the SQL-standard leftover-to-leading-buckets split), the
    tiebreak key makes the bucket assignment unique, and the FLOOR-
    quantized cents make the sums exact. Scale shape: an UNPARTITIONED
    window is planned as Exchange SinglePartition — every order row
    flows through one task for the NTILE pass, unlike an ORDER BY's
    range partitioning — which is fine at this table's size but is NOT
    the 100 TB shape; a cluster-scale run would compute a global rank
    via range-partition + per-shard offsets (the communities._order_rank
    pattern) and assign buckets with the SQL-standard ntile split
    formula from (rank, N), paying two small extra jobs instead of the
    unbounded single-task sort.
    Kept as-is here because the result (and its certified hash) is
    identical and the rewrite only pays off past the driver-sized
    window."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
            F.min("o_orderkey").alias("min_orderkey"),
        )
    )


def q_docs_length_quantiles(spark, sf_dir):
    """Exact per-language length quantiles (p50/p90/p99, linear
    interpolation over the sorted values — Spark `percentile` and
    DuckDB `quantile_cont` share the (n-1)·p definition; ROUND(·,6)
    absorbs last-ulp algebra differences). The corpus-profile query a
    curation run gates on. Exact percentile sorts within groups — at
    100 TB swap in approx_percentile and drop the value oracle, or keep
    exactness per partition-pruned shard."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5D)"), 6).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9D)"), 6).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99D)"), 6).alias("p99"),
    )


def q_emb_label_centroids(spark, sf_dir):
    """Per-label centroid statistics over the embeddings' label column
    (class prototypes): per (label, dim) the member count and the
    integer-quantized coordinate sum (floor(x·2^20) as 64-bit int —
    exact and shuffle-order independent, the same discipline as the IVF
    Lloyd update; consumers divide sum_q/n/2^20 for the mean). Shuffles
    only (label, dim) partial sums, never vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    )
    return e.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("x") * F.lit(1048576.0)).cast("long")).alias("sum_q"),
    )


def q_docs_contamination(spark, sf_dir):
    """Benchmark decontamination: a deterministic 10% hash split makes
    an eval set; for each eval doc, the fraction of its distinct 5-grams
    appearing anywhere in the train split (set-membership join against
    DISTINCT train shingles — the leak detector every training-data
    pipeline runs before shipping an eval)."""
    from kgw_spark.operators.sampling import lcg_bucket

    docs = _tp(spark, sf_dir, "documents")
    is_eval = lcg_bucket(F.col("doc_id"), 100) < 10
    return DD.ngram_containment(
        docs.filter(~is_eval), docs.filter(is_eval), n=5
    )


def q_docs_repetition_stats(spark, sf_dir):
    """Within-document repetition (Gopher-style quality signal): per
    doc, total vs distinct 2-gram counts and the duplicate-gram ratio —
    high repetition marks boilerplate/spam for the curation filter.
    Pure JVM array expressions, no shuffle beyond the scan."""
    docs = _t(spark, sf_dir, "documents")
    grams = DD.word_ngrams("text", 2)
    n = F.size(grams)
    nd = F.size(F.array_distinct(grams))
    return docs.select(
        "doc_id",
        n.alias("n_2grams"),
        nd.alias("n_distinct_2grams"),
        F.round(
            F.lit(1.0) - nd / F.greatest(n, F.lit(1)), 6
        ).alias("repetition_ratio"),
    )


def q_docs_chunks(spark, sf_dir):
    """RAG/training chunking: overlapping token windows (size 128,
    stride 96) per document, each chunk certified across engines by
    sha256 of its re-joined text — the doc→chunk explosion every
    retrieval index and packing pipeline runs. Pure JVM sequence +
    slice expressions, one scan, no shuffle before the (tiny) output."""
    SIZE, STRIDE = 128, 96
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), "\\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(STRIDE))
    chunked = docs.select(
        "doc_id", toks.alias("_toks"), F.explode(starts).alias("start")
    ).filter(F.col("start") < F.size(F.col("_toks")))
    chunk = F.slice(F.col("_toks"), F.col("start") + 1, SIZE)
    return chunked.select(
        "doc_id",
        (F.col("start") / STRIDE).cast("long").alias("chunk_id"),
        F.size(chunk).alias("n_tokens"),
        F.sha2(F.concat_ws(" ", chunk), 256).alias("chunk_sha256"),
    )


def q_docs_winnow_pairs(spark, sf_dir):
    """MOSS-style winnowing clone detection: hash every word 5-gram,
    keep the minimum of each sliding 4-window (guaranteed to share a
    fingerprint with any copy sharing ≥ 8 consecutive tokens), pair
    docs sharing ≥ 2 fingerprints. The fingerprint table is
    materialized as a shared input by ``oracle_inputs`` (simhash-pattern
    oracle): DuckDB recomputes the pairs from it by brute force with the
    identical df-cap, certifying the banded join logic exactly."""
    docs = _tp(spark, sf_dir, "documents")
    return DD.winnow_pairs(docs, k=5, w=4, min_shared=2)


def q_docs_seq_packing(spark, sf_dir):
    """Sequence packing for LLM training: per language, documents are
    concatenated in deterministic (doc_id) order and cut into
    fixed-size token windows (L=512) — the standard concat-then-chunk
    packing. Each doc's pack assignment is the window its first token
    lands in: pack_id = (cumulative tokens before the doc) div L. Pure
    prefix-sum window arithmetic — one sort-shuffle per language
    partition in either engine, exactly value-oracle-able. The summary
    row per pack certifies fill (docs spanning a boundary contribute
    their full token count to their starting pack — the bookkeeping a
    packing dataloader needs to budget shards)."""
    L = 512
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per_doc = docs.select(
        "lang", "doc_id", toks.alias("n_tokens")
    ).withColumn("_cum", F.sum("n_tokens").over(w))
    packed = per_doc.select(
        "lang",
        "doc_id",
        "n_tokens",
        F.expr(f"(_cum - n_tokens) div {L}").alias("pack_id"),
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


def q_docs_pii_redaction(spark, sf_dir):
    """PII scrub (emails, IPv4, phones) as pure JVM regex expressions —
    the pre-ship scrub every training corpus runs. The synthetic docs
    carry no PII, so every 5th doc gets a deterministic planted contact
    line (expressible identically in the DuckDB twin); the row
    certifies detection counts AND the redacted text itself via
    sha256(redacted) — a portable audit certificate that both engines
    scrubbed to the same bytes."""
    from kgw_spark.functions import pii as PII

    docs = _t(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +49 151 2345 at 10.0."),
            (F.col("doc_id") % 200).cast("string"),
            F.lit(".17"),
        ),
    ).otherwise(F.col("text"))
    counts = PII.pii_counts(planted)
    red = PII.redact_pii(planted)
    return docs.select(
        "doc_id",
        counts["email"].alias("n_emails"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phones"),
        F.length(red).alias("redacted_len"),
        F.sha2(red, 256).alias("redacted_sha256"),
    )


def q_docs_similarity_triangles(spark, sf_dir):
    """Triangle census of the near-duplicate similarity graph (LSH
    pairs at Jaccard ≥ 0.2): triangle density distinguishes tight
    boilerplate clusters from chain-shaped fuzz before cluster
    resolution. Uses the degree-ordered orientation algorithm
    (operators/triangles.py) — each triangle counted once at its
    lowest-degree vertex, hub-proof at scale. Oracle: the same
    deterministic orientation + wedge-close over the exact all-pairs
    Jaccard graph in SQL (LSH recall 1.0 is certified by
    docs_minhash_lsh)."""
    from kgw_spark.operators.pairs import canonical_pairs
    from kgw_spark.operators.triangles import triangle_count

    docs = _tp(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(docs, n=3, num_perm=64, bands=16, threshold=0.2)
    return triangle_count(canonical_pairs(pairs, "a", "b"))


def q_emb_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    return SIM.cosine_topk(emb, q, k=10)


def q_emb_near_pairs(spark, sf_dir):
    """Near-duplicate pairs by embedding cosine, certified on the SCALE
    path: the raw embeddings have no near-duplicates (max pairwise
    cosine 0.51), so 100 deterministic twins (0.98·v + 0.01, cosine
    ≈0.9967 to their originals) are planted — expressible identically
    in Spark and the DuckDB oracle — and the multiprobe LSH-bucketed
    self-join (no crossJoin anywhere in the plan) must recover exactly
    the pairs the oracle's exact quadratic scan finds. Below the driver
    gate the identical signatures, probes and exact verify run in-core
    (``incore.cosine_near_pairs``), never brute force, so the oracle
    still certifies the LSH algorithm on both paths."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    twins = base.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: x * F.lit(0.98) + F.lit(0.01)
        ).alias("embedding"),
    )
    aug = base.union(twins)
    return SIM.cosine_near_pairs(
        aug, threshold=0.85, n_planes=6, seed=13, rounds=3, probe_radius=1
    )


def q_docs_minhash_lsh(spark, sf_dir):
    """Banded MinHash-LSH candidates + exact-Jaccard verify. Oracle =
    the exact all-pairs Jaccard SQL: equality certifies that LSH
    candidate recall is 1.0 on this data AND the verify math is exact
    (the verify step guarantees no false positives, so equality is
    exactly a recall check). Below the driver gate the identical
    signatures, bands and verify run in-core
    (``incore.minhash_lsh_pairs``), so the oracle certifies the LSH
    algorithm on both paths."""
    docs = _tp(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs, n=3, num_perm=64, bands=16, threshold=0.2)


def q_docs_simhash_pairs(spark, sf_dir):
    """Pigeonhole-banded SimHash near-pairs. The signature table is
    materialized as a shared input by ``oracle_inputs`` (the
    distributed ``simhash``); the oracle recomputes the pairs by
    brute-force 64-bit hamming over it in DuckDB — verifying the banded
    search finds exactly the pairs a quadratic scan finds (the
    pigeonhole guarantee). Below the driver gate the fingerprints,
    chunks and Hamming filter run in-core
    (``incore.simhash_near_pairs``), so the oracle certifies the
    banding, and the in-core fingerprints, on both paths."""
    docs = _t(spark, sf_dir, "documents")
    return DD.simhash_near_pairs(docs, max_hamming=6)


def q_emb_lsh_topk(spark, sf_dir):
    """Multi-probe LSH ANN top-k. Oracle = an independent pure-Python
    reference implementation (kgw_spark/functions/ann_reference.py)
    replicating Spark's fp evaluation order, materialized as an
    expected-result parquet by ``oracle_inputs``."""
    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    return SIM.lsh_topk(emb, q, k=10, n_planes=6, multiprobe=2)


def q_emb_ivf_topk(spark, sf_dir):
    """IVF ANN top-k (n_probe of n_cells), oracled like q_emb_lsh_topk
    against the pure-Python reference — at the REFINED configuration
    (kmeans_iters=2): the Lloyd update is integer-quantized and
    order-independent, so the refined index is bit-reproducible and the
    certification covers the cell layout a 100-TB run would actually
    use, not just the trivial lowest-id init."""
    # the session default Arrow batch (128 rows) is tuned for multi-KB
    # text rows; the IVF assignment kernel runs 3 passes of a cheap
    # numpy matmul where PER-BATCH UDF machinery dominates at 128 rows
    # (measured 3.8 -> 5.6s at sf0.1) — narrow vector rows want big
    # batches. Runtime conf, read at execution time, re-set by each
    # query that cares.
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
    emb = _t(spark, sf_dir, "embeddings")
    # ONE collect serves double duty: the 16 lowest-id vectors are the
    # deterministic IVF init centroids AND contain vec_id=0, the query
    # vector — fusing what used to be two serial driver jobs
    # (first() + ivf_build's init collect) into one
    init_rows = emb.orderBy("vec_id").limit(16).collect()
    cents = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(init_rows)
    ]
    q = next(c for (i, c), r in zip(cents, init_rows) if r["vec_id"] == 0)
    return SIM.ivf_topk(
        emb, q, k=10, n_cells=16, n_probe=4, kmeans_iters=2,
        init_centroids=cents,
    )


def q_emb_pq_topk(spark, sf_dir):
    """Product-quantization ANN top-k (Jégou et al. PQ, ADC scoring),
    oracled like emb_ivf_topk against the pure-Python reference at the
    refined configuration (kmeans_iters=2): per-subspace codebooks are
    integer-quantized-Lloyd trained (bit-reproducible), every vector
    compresses to m=4 codes, and the query scans ONLY the code table
    through a literal lookup expression — the 100-TB serving path
    (float32x64 vectors → 4 bytes/vector of codes)."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
    emb = _t(spark, sf_dir, "embeddings")
    # one collect serves init codebooks AND the query vector (vec_id=0)
    init_rows = emb.orderBy("vec_id").limit(16).collect()
    init_vecs = [[float(x) for x in r["embedding"]] for r in init_rows]
    q = next(v for v, r in zip(init_vecs, init_rows) if r["vec_id"] == 0)
    return SIM.pq_topk(
        emb, q, k=10, m=4, n_codes=16, kmeans_iters=2, init_vectors=init_vecs
    )


def q_media_features(spark, sf_dir):
    """Multimodal feature extraction as a value-oracled driver query:
    a deterministic synthetic media table (LCG-pixel PPM images,
    quantized-sine WAV audio, concatenated-P6 video — pure functions of
    media_id, same on any engine) is decoded distributed
    (mapInPandas) into 16-dim features, exploded to (media_id, kind,
    dim, value). Oracle: an INDEPENDENT reference (integer-exact pixel
    statistics, direct matrix DFT instead of FFT —
    functions/media_reference.py) materialized as truth parquet by
    ``oracle_inputs``; agreement is after the operator's float32
    quantization + round-6, where honest fp divergence between the two
    implementations vanishes. The media set is fixed-size (24 items),
    independent of sf."""
    from kgw_spark.operators import multimodal as MM
    from kgw_spark.sources.media import synthetic_media_rows

    _ship_package(spark)
    rows = synthetic_media_rows(8)
    media = spark.createDataFrame(rows, schema=MM.MEDIA_SCHEMA)
    feats = MM.extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        F.posexplode(F.col("feature").cast("array<double>")).alias("dim", "v"),
    ).select("media_id", "kind", "dim", F.round(F.col("v"), 6).alias("value"))


def _pipeline_corpus(spark, sf_dir):
    """``(rows, truth)`` of the pipeline query's synthetic corpus: its
    size scales with sf via the lineitem row count, so the work tracks
    the chosen scale factor. Shared by the query and ``oracle_inputs``
    so the two always build the same corpus."""
    from kgw_spark.sources.corpus import generate_corpus

    n_li = _t(spark, sf_dir, "lineitem").count()
    n_repos = max(4, min(64, n_li // 2000))
    return generate_corpus(n_repos=n_repos, files_per_repo=20, seed=42)


def q_kg_pipeline_triples(spark, sf_dir):
    """The full north-rule pipeline (extract → link → canonicalize →
    dedup) on the deterministic synthetic source-code corpus
    (``_pipeline_corpus``); returns the canonical triple set.

    Oracle: the generator's ground-truth triple set (reference-semantics
    closure computed driver-side with no Spark, corpus.py
    GroundTruth.canonical_map) materialized as parquet by
    ``oracle_inputs`` — the flagship north-rule P/R check as a value
    oracle."""
    from kgw_spark.model import triple_view
    from kgw_spark.plans.pipeline import run_pipeline
    from kgw_spark.session import local_df
    from kgw_spark.sinks.store import TableStore
    from kgw_spark.sources.corpus import corpus_df

    _ship_package(spark)
    rows, truth = _pipeline_corpus(spark, sf_dir)

    adf = local_df(
        spark,
        [(a, c, float(s)) for a, (c, s) in truth.alias_dict.items()],
        "alias_id string, canonical_id string, score double",
    )
    # fused plan: intermediate materialization is a resumability
    # feature the triple-set answer does not need (tests/test_pipeline.py
    # covers resume). One temp-dir store per SF, reused across
    # invocations: the returned DF lazily reads the committed edges
    # table, so the dir must outlive this call, and reuse + atexit
    # removal keep repeated invocations from accreting store dirs.
    store = TableStore(_pipeline_store_dir(_sf_tag(sf_dir)))
    res = run_pipeline(
        spark,
        corpus_df(spark, rows),
        adf,
        store,
        input_fingerprint="entryq",
        materialize_intermediate=False,
    )
    return triple_view(res.edges)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every declared query by name; each callable takes
    (spark, sf_dir) and returns its answer as a DataFrame."""
    return {
        "kg_pipeline_triples": q_kg_pipeline_triples,
        "docs_contamination": q_docs_contamination,
        "docs_repetition_stats": q_docs_repetition_stats,
        "docs_chunks": q_docs_chunks,
        "docs_winnow_pairs": q_docs_winnow_pairs,
        "docs_seq_packing": q_docs_seq_packing,
        "docs_pii_redaction": q_docs_pii_redaction,
        "docs_similarity_triangles": q_docs_similarity_triangles,
        "kg_degree_histogram": q_kg_degree_histogram,
        "docs_top_tokens": q_docs_top_tokens,
        "docs_length_quantiles": q_docs_length_quantiles,
        "emb_label_centroids": q_emb_label_centroids,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_near_pairs": q_emb_near_pairs,
        "kg_node_type_counts": q_kg_node_type_counts,        # A3
        "kg_edge_type_counts": q_kg_edge_type_counts,        # A3
        "q6_forecast_revenue": q_q6_forecast_revenue,
        "q14_promo_revenue": q_q14_promo_revenue,
        "q22_idle_customers_anti": q_q22_idle_customers_anti,
        "events_rollup": q_events_rollup,
        "orders_decile_stats": q_orders_decile_stats,
        "docs_minhash_lsh": q_docs_minhash_lsh,
        "docs_simhash_pairs": q_docs_simhash_pairs,
        "emb_lsh_topk": q_emb_lsh_topk,
        "emb_ivf_topk": q_emb_ivf_topk,
        "media_features": q_media_features,
        "events_asof_click": q_events_asof_click,
        "events_range_pairs": q_events_range_pairs,
        "docs_weighted_sample": q_docs_weighted_sample,
        "docs_stratified_sample": q_docs_stratified_sample,
        "kg_common_neighbors": q_kg_common_neighbors,
        "kg_label_prop": q_kg_label_prop,
        "docs_tfidf_terms": q_docs_tfidf_terms,
        "emb_pq_topk": q_emb_pq_topk,
        "kg_kcore": q_kg_kcore,
        "docs_collocations": q_docs_collocations,
        "events_funnel": q_events_funnel,
        # KG analytics & transform operators (SURVEY §2)
        "kg_statistics": q_kg_statistics,                    # A1+A2
        "kg_schema_triples": q_kg_schema_triples,            # A4
        "kg_compact_schema": q_kg_compact_schema,            # A5
        "kg_neighborhood": q_kg_neighborhood,                # A7
        "kg_k_hop": q_kg_k_hop,                              # A7 k-hop extension
        "kg_pagerank": q_kg_pagerank,                        # exact-integer PageRank
        "kg_triple_dedup": q_kg_triple_dedup,                # T5
        "kg_node_union": q_kg_node_union,                    # T3+T4+T6
        "kg_enrich_broadcast": q_kg_enrich_broadcast,        # T7
        "kg_connected_components": q_kg_connected_components,  # §2.7 canon
        # analytics workloads
        "q1_pricing_summary": q_q1_pricing_summary,
        "q3_shipping_priority": q_q3_shipping_priority,
        "q5_region_revenue": q_q5_region_revenue,
        "q10_top_customers": q_q10_top_customers,
        "q4_priority_semi": q_q4_priority_semi,
        "q17_small_quantity_revenue": q_q17_small_quantity_revenue,
        "q18_large_volume_customers": q_q18_large_volume_customers,
        "events_json_props": q_events_json_props,
        "kg_edge_rollup": q_kg_edge_rollup,
        "top_order_per_customer": q_top_order_per_customer,
        "orders_running_total": q_orders_running_total,
        "events_sessionize": q_events_sessionize,
        "events_range_window": q_events_range_window,
        "events_hourly": q_events_hourly,
        # training-data operators
        "docs_text_stats": q_docs_text_stats,
        "docs_prefix_dedup": q_docs_prefix_dedup,
        "docs_exact_dup_pairs": q_docs_exact_dup_pairs,
        "docs_ngram_jaccard": q_docs_ngram_jaccard,
        "docs_dedup_clusters": q_docs_dedup_clusters,
        "docs_curated": q_docs_curated,
        "docs_hash_sample": q_docs_hash_sample,
    }


# ---------------------------------------------------------------------------
# oracle inputs
# ---------------------------------------------------------------------------
def _kg_edge_list(sf_dir: str) -> list[tuple[str, str]]:
    """``(source_id, target_id)`` of the KG edge set, read by DuckDB
    from the testdata tables (no Spark): the input of the pure-Python
    pagerank and k-core replicas."""
    import duckdb

    with duckdb.connect() as con:
        for t in ("nation", "customer", "supplier", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return [(r[0], r[2]) for r in con.execute(KG.KG_EDGES_SQL).fetchall()]


def oracle_inputs(spark: SparkSession, sf_dir: str) -> None:
    """Build every ``.oracle_cache/{stem}_{tag}.parquet`` artifact that
    ``oracle_sql(tag)`` reads, for the tables at ``sf_dir`` (``tag`` is
    its directory name, e.g. ``sf0.01``). Each artifact is a pure
    function of those tables and fixed seeds, computed by a reference
    independent of the query it checks (or, for simhash and winnow, the
    shared signature table the oracle brute-forces); a file whose
    content is unchanged is not rewritten."""
    import pandas as pd

    from kgw_spark.functions import ann_reference as REF
    from kgw_spark.functions.media_reference import ref_media_features
    from kgw_spark.operators import kcore as KC
    from kgw_spark.operators import pagerank as PR
    from kgw_spark.sources.media import synthetic_media_rows

    edge_list = _kg_edge_list(sf_dir)
    rank = PR.pagerank_py(edge_list, iters=3)
    emb = f"{sf_dir}/embeddings.parquet"
    docs = _t(spark, sf_dir, "documents")
    _rows, truth = _pipeline_corpus(spark, sf_dir)
    frames = {
        "kg_pagerank": pd.DataFrame(
            sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:20],
            columns=["id", "rank_scaled"],
        ),
        "kg_kcore": pd.DataFrame(
            sorted(KC.k_core_py(edge_list, k=3).items()), columns=["id", "degree"]
        ),
        # orderBy: collection order is partition-dependent, and the
        # skip-identical-rewrite compare is positional
        "simhash": DD.simhash(docs).orderBy("doc_id").toPandas(),
        "winnow": DD.winnow_fingerprints(docs, k=5, w=4)
        .orderBy("doc_id", "fingerprint")
        .toPandas(),
        "emb_lsh_topk": pd.DataFrame(
            REF.ref_lsh_topk(
                emb, query_id=0, k=10, n_planes=6, seed=13, multiprobe=2
            ),
            columns=["vec_id", "cosine"],
        ),
        "emb_ivf_topk": pd.DataFrame(
            REF.ref_ivf_topk(
                emb, query_id=0, k=10, n_cells=16, n_probe=4, kmeans_iters=2
            ),
            columns=["vec_id", "cosine"],
        ),
        "emb_pq_topk": pd.DataFrame(
            REF.ref_pq_topk(emb, query_id=0, k=10, m=4, n_codes=16, kmeans_iters=2),
            columns=["vec_id", "adc"],
        ),
        "media_features": pd.DataFrame(
            ref_media_features(synthetic_media_rows(8)),
            columns=["media_id", "kind", "dim", "value"],
        ).astype({"dim": "int32"}),
        "truth_triples": pd.DataFrame(
            sorted(truth.triples), columns=["subj", "pred", "obj"]
        ),
    }
    tag = _sf_tag(sf_dir)
    for stem, pdf in frames.items():
        _cache_parquet(f"{stem}_{tag}", pdf)


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------
def oracle_sql(sf_tag: str = "sf0.01") -> dict[str, str]:
    """DuckDB twins for every queries() entry. ``sf_tag`` selects which
    SF's oracle-cache artifacts (built by ``oracle_inputs``) the
    cache-backed oracles read; sf0.01 by default, and the tests replay
    at sf0.001 by passing the tag instead of string-munging the SQL."""
    kg = KG.KG_CTE
    return {
        "kg_statistics": f"""{kg}
            SELECT (SELECT COUNT(*) FROM kg_nodes) AS num_nodes,
                   (SELECT COUNT(*) FROM kg_edges) AS num_edges,
                   (SELECT COUNT(DISTINCT type) FROM kg_nodes) AS num_node_types,
                   (SELECT COUNT(DISTINCT type) FROM kg_edges) AS num_edge_types
        """,
        "kg_node_type_counts": f"{kg} SELECT type, COUNT(*) AS n FROM kg_nodes GROUP BY type",
        "kg_edge_type_counts": f"{kg} SELECT type, COUNT(*) AS n FROM kg_edges GROUP BY type",
        "kg_schema_triples": f"""{kg}
            SELECT s.type AS source_type, e.type AS edge_type,
                   t.type AS target_type, COUNT(*) AS triple_count
            FROM kg_edges e
            JOIN kg_nodes s ON e.source_id = s.id
            JOIN kg_nodes t ON e.target_id = t.id
            GROUP BY s.type, e.type, t.type
        """,
        "kg_compact_schema": f"""{kg}
            SELECT s.type AS source_type, t.type AS target_type,
                   COUNT(*) AS edge_count, COUNT(DISTINCT e.type) AS num_edge_types
            FROM kg_edges e
            JOIN kg_nodes s ON e.source_id = s.id
            JOIN kg_nodes t ON e.target_id = t.id
            GROUP BY s.type, t.type
        """,
        "kg_neighborhood": f"""{kg},
            inc AS (SELECT * FROM kg_edges
                    WHERE source_id = 'nation:3' OR target_id = 'nation:3'),
            nb AS (SELECT source_id AS nid FROM inc WHERE source_id <> 'nation:3'
                   UNION
                   SELECT target_id FROM inc WHERE target_id <> 'nation:3'),
            among AS (SELECT e.* FROM kg_edges e
                      WHERE e.source_id IN (SELECT nid FROM nb)
                        AND e.target_id IN (SELECT nid FROM nb))
            SELECT DISTINCT * FROM (
                SELECT * FROM inc UNION ALL SELECT * FROM among)
        """,
        "kg_k_hop": f"""
            WITH RECURSIVE kg_edges AS ({KG.KG_EDGES_SQL}),
            sym AS (
                SELECT source_id AS u, target_id AS v FROM kg_edges
                UNION
                SELECT target_id, source_id FROM kg_edges
            ),
            walk(id, hop) AS (
                SELECT 'customer:1', 0
                UNION
                SELECT s.v, w.hop + 1 FROM walk w
                JOIN sym s ON s.u = w.id WHERE w.hop < 2
            )
            SELECT id, CAST(MIN(hop) AS INTEGER) AS hop FROM walk GROUP BY id
        """,
        "kg_triple_dedup": f"""{kg}
            SELECT DISTINCT source_id AS subj, type AS pred, target_id AS obj
            FROM kg_edges WHERE type IN ('contains', 'supplied_by')
        """,
        "kg_node_union": f"""{kg},
            ids AS (SELECT source_id AS id FROM kg_edges
                    UNION SELECT target_id FROM kg_edges)
            SELECT id, lower(split_part(id, ':', 1)) AS node_type FROM ids
        """,
        "kg_enrich_broadcast": """
            SELECT r_name AS region_name, c_mktsegment AS mktsegment,
                   COUNT(*) AS n_customers,
                   ROUND(MIN(c_acctbal), 2) AS min_acctbal,
                   ROUND(MAX(c_acctbal), 2) AS max_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, c_mktsegment
        """,
        "kg_connected_components": """
            WITH RECURSIVE pairs AS (
                SELECT 'nation:' || n_nationkey AS u,
                       'region:' || n_regionkey AS v FROM nation
                UNION ALL
                SELECT 'supplier:' || s_suppkey, 'nation:' || s_nationkey
                FROM supplier
            ),
            sym AS (SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
            reach(id, comp) AS (
                SELECT u, u FROM sym
                UNION
                SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.id
            )
            SELECT id, MIN(comp) AS canonical_id FROM reach GROUP BY id
        """,
        "q1_pricing_summary": """
            WITH li AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(l_quantity AS DECIMAL(18,2)) AS qty,
                       CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
                       CAST(l_discount AS DECIMAL(18,2)) AS disc
                FROM lineitem WHERE l_shipdate <= '2000-12-01'
            )
            SELECT l_returnflag, l_linestatus,
                   ROUND(CAST(SUM(qty) AS DOUBLE), 2) AS sum_qty,
                   ROUND(CAST(SUM(price) AS DOUBLE), 2) AS sum_base_price,
                   ROUND(CAST(SUM(price * (CAST(1.0 AS DECIMAL(18,2)) - disc))
                         AS DOUBLE), 4) AS sum_disc_price,
                   ROUND(CAST(SUM(qty) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
                   COUNT(*) AS count_order
            FROM li GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, o_orderpriority,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1.0 AS DECIMAL(18,2)) -
                          CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_shipdate > '1996-06-30'
              AND o_orderdate < '1996-06-30'
              AND c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_region_revenue": """
            SELECT r_name AS region_name,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1.0 AS DECIMAL(18,2)) -
                          CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
                       AS revenue,
                   COUNT(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
            GROUP BY r_name
        """,
        "q6_forecast_revenue": """
            SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 4) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
              AND l_discount >= 0.05 AND l_quantity < 24
        """,
        "q10_top_customers": """
            SELECT c_custkey AS custkey, c_name AS name, n_name AS nation,
                   ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1.0 AS DECIMAL(18,2)) -
                          CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 4)
                       AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, custkey ASC
            LIMIT 20
        """,
        "q4_priority_semi": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= '1996-07-01' AND o_orderdate < '1996-10-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "q14_promo_revenue": """
            WITH j AS (
                SELECT p_type,
                       CAST(l_extendedprice AS DECIMAL(18,2)) *
                       (CAST(1.0 AS DECIMAL(18,2)) -
                        CAST(l_discount AS DECIMAL(18,2))) AS rev
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'
            )
            SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                                              ELSE CAST(0 AS DECIMAL(18,2)) END)
                               AS DOUBLE)
                         / CAST(SUM(rev) AS DOUBLE), 4) AS promo_share_pct,
                   ROUND(CAST(SUM(rev) AS DOUBLE), 4) AS total_revenue,
                   COUNT(*) AS n_rows
            FROM j
        """,
        "q17_small_quantity_revenue": """
            WITH avgs AS (
                SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
                FROM lineitem GROUP BY l_partkey
            )
            SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                          AS DOUBLE) / 7.0, 4) AS avg_yearly,
                   COUNT(*) AS n_rows
            FROM lineitem JOIN avgs ON l_partkey = pk
            WHERE l_quantity < 0.2 * avg_qty
        """,
        "q18_large_volume_customers": """
            WITH big AS (
                SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq
                FROM lineitem GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200
            )
            SELECT c_custkey AS custkey, c_name AS name,
                   o_orderkey AS orderkey,
                   strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
                   ROUND(CAST(sq AS DOUBLE), 2) AS sum_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "q22_idle_customers_anti": """
            SELECT c_mktsegment AS mktsegment, COUNT(*) AS n_customers,
                   ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
                       AS sum_acctbal
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 400000)
            GROUP BY c_mktsegment
        """,
        "events_json_props": """
            SELECT json_extract_string(props, '$.k') AS device,
                   event_type, COUNT(*) AS n,
                   ROUND(MIN(value), 6) AS min_value
            FROM events GROUP BY 1, 2
        """,
        "kg_edge_rollup": f"""{kg}
            SELECT split_part(source_id, ':', 1) AS source_kind,
                   split_part(target_id, ':', 1) AS target_kind,
                   COUNT(*) AS n
            FROM kg_edges
            GROUP BY ROLLUP (source_kind, target_kind)
        """,
        "top_order_per_customer": """
            SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                   o_totalprice AS totalprice
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                FROM orders
            ) WHERE rn = 1
        """,
        "orders_running_total": """
            SELECT o_custkey AS custkey, o_orderkey AS orderkey,
                   ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE), 2) AS running_total,
                   ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                     / COUNT(*) OVER (
                       PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
                     AS moving_avg3
            FROM orders
        """,
        "events_sessionize": """
            WITH flagged AS (
                SELECT user_id,
                       CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id)
                            > 1800 * 1000000 OR LAG(ts) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id)
                            IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events
            )
            SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
                   COUNT(*) AS n_events
            FROM flagged GROUP BY user_id
        """,
        "events_range_window": """
            SELECT event_id, user_id,
                   COUNT(*) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
                       AS n_last_30m,
                   ROUND(MIN(value) OVER (
                       PARTITION BY user_id ORDER BY epoch_us(ts)
                       RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW), 6)
                       AS min_value_30m
            FROM events
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, COUNT(*) AS n,
                   ROUND(MIN(value), 6) AS min_value,
                   ROUND(MAX(value), 6) AS max_value
            FROM events GROUP BY 1, 2
        """,
        # the Spark plan is the bucketed (user, time-band) equi-join;
        # the oracle is the per-user non-equi join it avoids
        "events_range_pairs": """
            SELECT l.event_id AS error_id, r.event_id AS click_id,
                   l.user_id,
                   epoch_us(l.ts) - epoch_us(r.ts) AS delta_us
            FROM events l JOIN events r
              ON r.user_id = l.user_id
             AND l.event_type = 'error' AND r.event_type = 'click'
             AND r.ts BETWEEN l.ts - INTERVAL 2 HOUR AND l.ts
        """,
        # the Spark plan is the linear union-and-window as-of join; the
        # oracle is the quadratic range-join + row_number() top-1 with
        # the identical (cts DESC, cid DESC) tie-break
        "events_asof_click": """
            SELECT event_id, user_id, ts, asof_cid, asof_cts FROM (
                SELECT l.event_id, l.user_id, l.ts,
                       c.event_id AS asof_cid, c.ts AS asof_cts,
                       row_number() OVER (PARTITION BY l.event_id
                           ORDER BY c.ts DESC, c.event_id DESC) AS rn
                FROM events l JOIN events c
                  ON c.user_id = l.user_id AND c.event_type = 'click'
                     AND c.ts <= l.ts
                WHERE l.event_type = 'error') t
            WHERE rn = 1
        """,
        "docs_text_stats": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z0-9_]+'))
                     + len(regexp_extract_all(text, '[.,!?;:]')) AS n_bpe_tokens,
                   ROUND(CAST(len(list_filter(toks, x -> lower(x) IN ({_STOP})))
                         AS DOUBLE) / greatest(len(toks), 1), 6) AS stopword_ratio,
                   ROUND(CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   list_reduce(
                       list_transform(toks,
                           x -> (length(x) * 131 + ascii(substr(x, 1, 1)))::BIGINT),
                       (a, x) -> (a * 1000003 + x) % 2147483647) AS fingerprint,
                   CASE
                     WHEN greatest(
                        len(list_filter(toks, x -> lower(x) IN ('der','die','das','und'))),
                        len(list_filter(toks, x -> lower(x) IN ('the','and','of','is'))),
                        len(list_filter(toks, x -> lower(x) IN ('el','los','las','que'))),
                        len(list_filter(toks, x -> lower(x) IN ('le','la','les','et')))) = 0
                       THEN 'und'
                     WHEN len(list_filter(toks, x -> lower(x) IN ('der','die','das','und')))
                          >= greatest(
                        len(list_filter(toks, x -> lower(x) IN ('the','and','of','is'))),
                        len(list_filter(toks, x -> lower(x) IN ('el','los','las','que'))),
                        len(list_filter(toks, x -> lower(x) IN ('le','la','les','et'))))
                       THEN 'de'
                     WHEN len(list_filter(toks, x -> lower(x) IN ('the','and','of','is')))
                          >= greatest(
                        len(list_filter(toks, x -> lower(x) IN ('el','los','las','que'))),
                        len(list_filter(toks, x -> lower(x) IN ('le','la','les','et'))))
                       THEN 'en'
                     WHEN len(list_filter(toks, x -> lower(x) IN ('el','los','las','que')))
                          >= len(list_filter(toks, x -> lower(x) IN ('le','la','les','et')))
                       THEN 'es'
                     ELSE 'fr'
                   END AS lang_guess,
                   ROUND(
                     least(length(text) / 500.0, 1.0) * 0.4
                     + least(CAST(len(list_filter(toks, x -> lower(x) IN ({_STOP})))
                             AS DOUBLE) / greatest(len(toks), 1) * 4.0, 1.0) * 0.3
                     + greatest(0.0, 1.0 -
                         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS DOUBLE)
                         / greatest(length(text), 1) * 10.0) * 0.3,
                     6) AS quality
            FROM t
        """,
        "docs_prefix_dedup": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (
                SELECT array_to_string(list_slice(toks, 1, 3), ' ') AS prefix,
                       MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
                FROM t GROUP BY 1
            )
            SELECT prefix, keep_id, n_docs FROM g WHERE n_docs >= 2
        """,
        "docs_exact_dup_pairs": """
            WITH aug AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
            ),
            h AS (SELECT doc_id, sha256(text) AS hsh FROM aug),
            k AS (SELECT hsh, MIN(doc_id) AS keep_id FROM h GROUP BY hsh)
            SELECT k.keep_id, h.doc_id AS dup_id
            FROM h JOIN k ON h.hsh = k.hsh WHERE h.doc_id <> k.keep_id
        """,
        # mirrors ngram_jaccard_pairs' default max_shingle_df=1000 cap,
        # so parity holds at any SF (not just ones where no shingle
        # exceeds the cap)
        "docs_ngram_jaccard": _jaccard_sql(max_df=1000),
        # minhash-LSH emits candidate pairs verified by exact Jaccard —
        # no false positives by construction, so equality with the
        # exact all-pairs SQL is precisely a recall-is-1.0 certificate
        # for the banded candidate generation on this data.
        "docs_minhash_lsh": _JACCARD_SQL,
        # composed curation: filter → near-dup cluster dedup → profile
        "docs_curated": f"""
            WITH RECURSIVE filtered AS (
                SELECT * FROM documents WHERE n_chars >= 200
            ),
            pairs AS ({_jaccard_sql("filtered")}),
            sym AS (
                SELECT a AS u, b AS v FROM pairs
                UNION
                SELECT b, a FROM pairs
            ),
            reach(id, comp) AS (
                SELECT u, u FROM sym
                UNION
                SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.id
            ),
            losers AS (
                SELECT id FROM reach GROUP BY id HAVING id <> MIN(comp)
            )
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM filtered
            WHERE doc_id NOT IN (SELECT id FROM losers)
            GROUP BY lang
        """,
        # transitive closure of the exact near-dup pair graph, min-id
        # representative per component (recursive CTE)
        "docs_dedup_clusters": f"""
            WITH RECURSIVE pairs AS ({_JACCARD_SQL}),
            sym AS (
                SELECT a AS u, b AS v FROM pairs
                UNION
                SELECT b, a FROM pairs
            ),
            reach(id, comp) AS (
                SELECT u, u FROM sym
                UNION
                SELECT s.v, r.comp FROM reach r JOIN sym s ON s.u = r.id
            )
            SELECT id AS doc_id, MIN(comp) AS rep_id FROM reach GROUP BY id
        """,
        # brute-force 64-bit hamming over the materialized signature
        # table (shared input): certifies the pigeonhole-banded join
        # returns exactly what a quadratic scan would.
        "docs_simhash_pairs": f"""
            WITH s AS (SELECT doc_id, simhash
                       FROM read_parquet('{_ORACLE_CACHE}/simhash_{sf_tag}.parquet'))
            SELECT a.doc_id AS a, b.doc_id AS b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
        """,
        # exact-integer PageRank vs the pure-Python replica (integer
        # arithmetic is order-independent, so equality is bit-exact)
        "kg_pagerank": f"""
            SELECT id, rank_scaled
            FROM read_parquet('{_ORACLE_CACHE}/kg_pagerank_{sf_tag}.parquet')
        """,
        # iterative-peel fixpoint (not expressible as bounded SQL):
        # expected result = the pure-Python peeling replica, cached by
        # the Spark query as parquet (same pattern as kg_pagerank)
        "kg_kcore": f"""
            SELECT id, degree
            FROM read_parquet('{_ORACLE_CACHE}/kg_kcore_{sf_tag}.parquet')
        """,
        # 3 synchronous min-label rounds brute-forced as nested CTEs
        # (string min is binary-collation min in both engines)
        "kg_label_prop": f"""{kg},
            und AS (
                SELECT DISTINCT least(source_id, target_id) AS u,
                       greatest(source_id, target_id) AS v
                FROM kg_edges WHERE source_id <> target_id
            ),
            nb AS (SELECT u AS x, v AS y FROM und
                   UNION ALL SELECT v, u FROM und),
            l0 AS (SELECT id, id AS lbl FROM kg_nodes),
            l1 AS (SELECT l.id, LEAST(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
                   FROM l0 l LEFT JOIN nb ON nb.x = l.id
                   LEFT JOIN l0 n ON n.id = nb.y GROUP BY l.id, l.lbl),
            l2 AS (SELECT l.id, LEAST(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
                   FROM l1 l LEFT JOIN nb ON nb.x = l.id
                   LEFT JOIN l1 n ON n.id = nb.y GROUP BY l.id, l.lbl),
            l3 AS (SELECT l.id, LEAST(l.lbl, COALESCE(MIN(n.lbl), l.lbl)) AS lbl
                   FROM l2 l LEFT JOIN nb ON nb.x = l.id
                   LEFT JOIN l2 n ON n.id = nb.y GROUP BY l.id, l.lbl)
            SELECT lbl AS community, COUNT(*) AS n_members FROM l3 GROUP BY lbl
        """,
        # expected-result parquet from the pure-Python reference
        # implementations (kgw_spark/functions/ann_reference.py)
        "emb_lsh_topk": f"""
            SELECT vec_id, cosine
            FROM read_parquet('{_ORACLE_CACHE}/emb_lsh_topk_{sf_tag}.parquet')
        """,
        "emb_ivf_topk": f"""
            SELECT vec_id, cosine
            FROM read_parquet('{_ORACLE_CACHE}/emb_ivf_topk_{sf_tag}.parquet')
        """,
        "emb_pq_topk": f"""
            SELECT vec_id, adc
            FROM read_parquet('{_ORACLE_CACHE}/emb_pq_topk_{sf_tag}.parquet')
        """,
        # truth parquet from the independent media-feature reference
        # (integer-exact pixel stats + matrix DFT, media_reference.py);
        # the media table is a pure function of media_id, shared-input
        # style
        "media_features": f"""
            SELECT media_id, kind, dim, value
            FROM read_parquet('{_ORACLE_CACHE}/media_features_{sf_tag}.parquet')
        """,
        # the generator's ground-truth triple set (reference-semantics
        # closure, computed without Spark) — the north-rule P/R gate as
        # an exact value oracle
        "kg_pipeline_triples": f"""
            SELECT subj, pred, obj
            FROM read_parquet('{_ORACLE_CACHE}/truth_triples_{sf_tag}.parquet')
        """,
        "docs_hash_sample": f"""
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN {_lcg_sql("doc_id")} < 30
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
                   CAST(SUM(CASE WHEN {_lcg_sql("doc_id")} < 30 THEN n_chars
                            ELSE 0 END) AS BIGINT) AS sampled_chars
            FROM documents GROUP BY lang
        """,
        # the keep-decision SQL is generated by the SAME function the
        # Spark operator exposes as its oracle twin (no drift possible)
        "docs_weighted_sample": f"""
            SELECT doc_id, lang, n_chars,
                   ROUND(LEAST(1.0, n_chars / 2000.0), 6) AS keep_w
            FROM documents
            WHERE {_wsample_sql("doc_id", "n_chars / 2000.0")}
        """,
        # oracle = the UNPRUNED window spec; the Spark plan is the
        # gated hash-threshold prune (same shared SQL-twin generator)
        "docs_stratified_sample": _stratified_sql(
            "doc_id, lang, n_chars", "doc_id", "lang", 5
        ),
        "docs_contamination": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            s AS (
                SELECT DISTINCT doc_id,
                       array_to_string(list_slice(toks, i, i + 4), ' ') AS shingle
                FROM t, UNNEST(range(1, greatest(len(toks) - 3, 1))) AS u(i)
            ),
            ev AS (SELECT * FROM s WHERE {_lcg_sql("doc_id")} < 10),
            tr AS (SELECT DISTINCT shingle FROM s
                   WHERE {_lcg_sql("doc_id")} >= 10),
            sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM ev GROUP BY doc_id),
            hits AS (
                SELECT ev.doc_id, COUNT(*) AS n_hit
                FROM ev JOIN tr USING (shingle) GROUP BY ev.doc_id
            )
            SELECT sizes.doc_id, n_grams, COALESCE(n_hit, 0) AS n_hit,
                   ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_grams, 6)
                       AS containment
            FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
        """,
        "docs_repetition_stats": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (
                SELECT doc_id,
                       [toks[i] || ' ' || toks[i + 1]
                        for i in range(1, len(toks))] AS grams
                FROM t
            )
            SELECT doc_id,
                   CAST(len(grams) AS INTEGER) AS n_2grams,
                   CAST(len(list_distinct(grams)) AS INTEGER)
                       AS n_distinct_2grams,
                   ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
                         / greatest(len(grams), 1), 6) AS repetition_ratio
            FROM g
        """,
        # overlapping-window chunking: sequence + slice arithmetic with
        # sha256-certified chunk text, identical in both engines
        "docs_chunks": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            s AS (
                SELECT doc_id, toks, CAST(u.s AS INTEGER) AS start
                FROM t, UNNEST(range(0, greatest(len(toks), 1), 96)) AS u(s)
                WHERE u.s < len(toks)
            )
            SELECT doc_id,
                   CAST(start // 96 AS BIGINT) AS chunk_id,
                   CAST(len(list_slice(toks, start + 1, start + 128))
                        AS INTEGER) AS n_tokens,
                   sha256(array_to_string(
                       list_slice(toks, start + 1, start + 128), ' '))
                       AS chunk_sha256
            FROM s
        """,
        # winnowing clone pairs recomputed by brute force over the
        # materialized fingerprint table (shared-input oracle, same
        # df-cap and min-shared logic as the Spark join)
        "docs_winnow_pairs": f"""
            WITH fp AS (SELECT doc_id, fingerprint
                        FROM read_parquet('{_ORACLE_CACHE}/winnow_{sf_tag}.parquet')),
            keep AS (SELECT fingerprint FROM fp GROUP BY fingerprint
                     HAVING COUNT(*) BETWEEN 2 AND 1000)
            SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_shared
            FROM fp a
            JOIN fp b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
            JOIN keep k ON a.fingerprint = k.fingerprint
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 2
        """,
        # concat-then-chunk sequence packing: prefix-sum window + integer
        # division, identical arithmetic in both engines
        "docs_seq_packing": f"""
            WITH t AS (
                SELECT lang, doc_id, len({_TOKS}) AS n_tokens,
                       SUM(len({_TOKS})) OVER (
                           PARTITION BY lang ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS cum
                FROM documents
            )
            SELECT lang, CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
                   MIN(doc_id) AS first_doc
            FROM t GROUP BY lang, pack_id
        """,
        # planted-PII scrub: counts + sha256 of the redacted text (the
        # pattern set has identical Java-regex/RE2 semantics; DuckDB
        # regexp_replace takes 'g' for Spark's replace-all)
        "docs_pii_redaction": _pii_oracle_sql(),
        # degree-ordered-orientation triangle census over the exact
        # near-dup pair graph (same deterministic orientation as the
        # Spark operator; valid because LSH recall 1.0 is certified by
        # the docs_minhash_lsh row)
        "docs_similarity_triangles": f"""
            WITH pairs AS ({_JACCARD_SQL}),
            und AS (
                SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
                FROM pairs WHERE a <> b
            ),
            deg AS (
                SELECT x, COUNT(*) AS d FROM (
                    SELECT u AS x FROM und UNION ALL SELECT v FROM und
                ) GROUP BY x
            ),
            ori AS (
                SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
                            THEN und.u ELSE und.v END AS src,
                       CASE WHEN du.d < dv.d OR (du.d = dv.d AND und.u < und.v)
                            THEN und.v ELSE und.u END AS dst
                FROM und JOIN deg du ON und.u = du.x JOIN deg dv ON und.v = dv.x
            ),
            wedges AS (
                SELECT o1.dst AS b1, o2.dst AS b2
                FROM ori o1 JOIN ori o2 ON o1.src = o2.src AND o1.dst < o2.dst
            )
            SELECT (SELECT COUNT(*) FROM und) AS n_edges,
                   (SELECT COUNT(*) FROM wedges) AS n_wedges,
                   (SELECT COUNT(*) FROM wedges
                    JOIN und ON und.u = least(b1, b2)
                            AND und.v = greatest(b1, b2)) AS n_triangles
        """,
        "kg_common_neighbors": f"""{kg},
            e AS (SELECT source_id, target_id FROM kg_edges
                  WHERE source_id <> target_id),
            und AS (SELECT DISTINCT x, y FROM (
                SELECT source_id AS x, target_id AS y FROM e
                UNION ALL SELECT target_id, source_id FROM e)),
            lown AS (SELECT x FROM und GROUP BY x HAVING COUNT(*) <= 32),
            mid AS (SELECT a.y AS u, b.y AS v
                    FROM und a JOIN und b ON a.x = b.x AND a.y < b.y
                    JOIN lown ON lown.x = a.x),
            cn AS (SELECT u, v, COUNT(*) AS n_common FROM mid GROUP BY u, v)
            SELECT cn.u, cn.v, cn.n_common FROM cn
            ANTI JOIN und ON und.x = cn.u AND und.y = cn.v
            ORDER BY n_common DESC, u, v LIMIT 20
        """,
        "kg_degree_histogram": f"""{kg},
            ids AS (SELECT source_id AS id FROM kg_edges
                    UNION ALL SELECT target_id FROM kg_edges),
            deg AS (SELECT id, COUNT(*) AS degree FROM ids GROUP BY id)
            SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY degree
        """,
        "docs_top_tokens": f"""
            WITH tok AS (
                SELECT lang, UNNEST({_TOKS}) AS tok FROM documents
            ),
            counts AS (
                SELECT lang, tok, COUNT(*) AS n FROM tok GROUP BY lang, tok
            )
            SELECT lang, CAST(rank AS INTEGER) AS rank, tok, n FROM (
                SELECT lang, tok, n,
                       ROW_NUMBER() OVER (PARTITION BY lang
                                          ORDER BY n DESC, tok ASC) AS rank
                FROM counts
            ) WHERE rank <= 5
        """,
        # rational-IDF TF-IDF: tf·N exact in BIGINT, one correctly-
        # rounded IEEE division — identical doubles in both engines;
        # ties break on the ROUNDED score then term ASC (both sides)
        "docs_tfidf_terms": f"""
            WITH tok AS (
                SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents
            ),
            tf AS (
                SELECT doc_id, term, COUNT(*) AS tf FROM tok
                GROUP BY doc_id, term
            ),
            dfreq AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
            n AS (SELECT COUNT(*) AS n_docs FROM documents)
            SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf,
                   df_docs, tfidf
            FROM (
                SELECT tf.doc_id, tf.term, tf.tf, d.df_docs,
                       ROUND(CAST(tf.tf * n.n_docs AS DOUBLE)
                             / CAST(d.df_docs AS DOUBLE), 6) AS tfidf,
                       ROW_NUMBER() OVER (
                           PARTITION BY tf.doc_id
                           ORDER BY ROUND(CAST(tf.tf * n.n_docs AS DOUBLE)
                                    / CAST(d.df_docs AS DOUBLE), 6) DESC,
                                    tf.term ASC) AS rank
                FROM tf JOIN dfreq d USING (term) CROSS JOIN n
            ) WHERE rank <= 3
        """,
        # ROLLUP grouping sets; FLOOR-quantized cents (identical IEEE
        # product, no half-case rounding-rule divergence)
        "events_rollup": """
            WITH base AS (
                SELECT event_type,
                       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                       CAST(FLOOR(value * 100) AS BIGINT) AS cents
                FROM events
            )
            SELECT COALESCE(event_type, 'ALL') AS event_type,
                   COALESCE(day, 'ALL') AS day,
                   COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS value_cents
            FROM base GROUP BY ROLLUP(event_type, day)
        """,
        # 3-level conditional-min funnel chain; strictly-increasing
        # timestamps; MINs are exact and order-independent
        "events_funnel": """
            WITH v AS (
                SELECT user_id, MIN(ts) AS t_view FROM events
                WHERE event_type = 'view' GROUP BY user_id
            ),
            c AS (
                SELECT e.user_id, MIN(e.ts) AS t_click
                FROM events e JOIN v ON e.user_id = v.user_id
                WHERE e.event_type = 'click' AND e.ts > v.t_view
                GROUP BY e.user_id
            ),
            p AS (
                SELECT e.user_id, MIN(e.ts) AS t_purchase
                FROM events e JOIN c ON e.user_id = c.user_id
                WHERE e.event_type = 'purchase' AND e.ts > c.t_click
                GROUP BY e.user_id
            ),
            u AS (SELECT DISTINCT user_id FROM events)
            SELECT funnel_stage, COUNT(*) AS n_users FROM (
                SELECT CASE WHEN p.user_id IS NOT NULL THEN 3
                            WHEN c.user_id IS NOT NULL THEN 2
                            WHEN v.user_id IS NOT NULL THEN 1
                            ELSE 0 END AS funnel_stage
                FROM u
                LEFT JOIN v ON u.user_id = v.user_id
                LEFT JOIN c ON u.user_id = c.user_id
                LEFT JOIN p ON u.user_id = p.user_id
            ) GROUP BY funnel_stage
        """,
        # NTILE over a deterministic total order: the SQL-standard
        # leftover-to-leading-buckets split is engine-independent;
        # FLOOR-quantized cents keep the sums exact
        "orders_decile_stats": """
            SELECT CAST(decile AS INTEGER) AS decile, COUNT(*) AS n_orders,
                   CAST(SUM(cents) AS BIGINT) AS total_cents,
                   MIN(o_orderkey) AS min_orderkey
            FROM (
                SELECT o_orderkey,
                       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
                       NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey)
                           AS decile
                FROM orders
            ) GROUP BY decile
        """,
        # PMI bigram collocations: adjacent positions via a positional
        # self-join (the list-free SQL formulation of the Spark side's
        # transform-over-adjacent-slots); rational lift (c_xy·N)/(c_x·c_y)
        # with all products < 2^53 and ONE IEEE division — identical
        # doubles; ties on (rounded score DESC, w1, w2)
        "docs_collocations": f"""
            WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            pos AS (
                SELECT doc_id, unnest(toks) AS w,
                       generate_subscripts(toks, 1) AS p
                FROM tok
            ),
            big AS (
                SELECT a.w AS w1, b.w AS w2
                FROM pos a JOIN pos b
                  ON a.doc_id = b.doc_id AND b.p = a.p + 1
            ),
            uni AS (SELECT w, COUNT(*) AS c FROM pos GROUP BY w),
            cxy AS (
                SELECT w1, w2, COUNT(*) AS c_xy FROM big
                GROUP BY w1, w2 HAVING COUNT(*) >= 5
            ),
            n AS (SELECT COUNT(*) AS nb FROM big)
            SELECT w1, w2, c_xy, c1, c2, pmi FROM (
                SELECT cxy.w1, cxy.w2, cxy.c_xy, u1.c AS c1, u2.c AS c2,
                       ROUND(CAST(cxy.c_xy * n.nb AS DOUBLE)
                             / CAST(u1.c * u2.c AS DOUBLE), 6) AS pmi
                FROM cxy
                JOIN uni u1 ON cxy.w1 = u1.w
                JOIN uni u2 ON cxy.w2 = u2.w
                CROSS JOIN n
            ) ORDER BY pmi DESC, w1, w2 LIMIT 20
        """,
        "docs_length_quantiles": """
            SELECT lang, COUNT(*) AS n_docs,
                   ROUND(quantile_cont(n_chars, 0.5), 6) AS p50,
                   ROUND(quantile_cont(n_chars, 0.9), 6) AS p90,
                   ROUND(quantile_cont(n_chars, 0.99), 6) AS p99
            FROM documents GROUP BY lang
        """,
        # integer-quantized per-(label, dim) coordinate sums — exact in
        # both engines (floor(double·2^20) summed as BIGINT)
        "emb_label_centroids": """
            SELECT label, CAST(i - 1 AS INTEGER) AS dim, COUNT(*) AS n,
                   CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576.0)
                       AS BIGINT)) AS BIGINT) AS sum_q
            FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS u(i)
            GROUP BY label, i
        """,
        "emb_cosine_topk": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                       WHERE vec_id = 0)
            SELECT vec_id,
                   ROUND(
                     list_dot_product(embedding::DOUBLE[], (SELECT qv FROM q)) /
                     (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                      sqrt(list_dot_product((SELECT qv FROM q), (SELECT qv FROM q)))),
                     6) AS cosine
            FROM embeddings
            ORDER BY cosine DESC, vec_id ASC
            LIMIT 10
        """,
        # exact quadratic scan over the twin-augmented set: the Spark
        # side must recover the same pairs via the multiprobe LSH
        # bucket join (no crossJoin in the certified plan)
        "emb_near_pairs": """
            WITH aug AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                UNION ALL
                SELECT vec_id + 1000000,
                       list_transform(embedding::DOUBLE[], x -> x * 0.98 + 0.01)
                FROM embeddings WHERE vec_id < 100
            )
            SELECT a.vec_id AS a, b.vec_id AS b,
                   ROUND(
                     list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))),
                     6) AS cosine
            FROM aug a JOIN aug b ON a.vec_id < b.vec_id
            WHERE ROUND(
                     list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) *
                      sqrt(list_dot_product(b.v, b.v))),
                     6) >= 0.85
        """,
    }
