"""Physical-plan quality gates: these assert the plans we'd want at
100 TB, not just correct results — filter/projection pushdown to the
parquet scan, broadcast joins where a side is small, no shuffle in the
extraction stage, partial (map-side) aggregation."""

import re

import pytest
from pyspark.sql import functions as F

from kgw_spark.plans import analytics
from kgw_spark.sources import tpch_kg as KG

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_pushdown(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") > "1996-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    p = plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in p
    # column pruning: scan reads only the 3 referenced columns
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_quantity" not in read_schema and "l_discount" not in read_schema


def test_schema_triples_uses_broadcast_joins(spark):
    nodes, edges = KG.kg_nodes(spark, SF), KG.kg_edges(spark, SF)
    p = plan(analytics.schema_triples(nodes, edges))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_schema_triples_broadcast_is_size_gated(spark):
    """The A4/A5 broadcast is Catalyst's size-gated choice, not a forced
    hint: when broadcasting is disabled (stand-in for 'node side too
    large'), the plan falls back to a shuffle join — the shape a
    14.5M-row node table needs: an unconditional broadcast hint would
    ship that table to every executor."""
    nodes, edges = KG.kg_nodes(spark, SF), KG.kg_edges(spark, SF)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p4 = plan(analytics.schema_triples(nodes, edges))
        p5 = plan(analytics.compact_schema(nodes, edges))
        assert "BroadcastHashJoin" not in p4 and "BroadcastExchange" not in p4
        assert "BroadcastHashJoin" not in p5 and "BroadcastExchange" not in p5
        assert "SortMergeJoin" in p4 or "ShuffledHashJoin" in p4
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_broadcast_gate_rejects_large_estimates(spark):
    """Catalyst's own JoinSelection gate on unhinted joins: a side it
    estimates over the threshold is not broadcast (the estimate
    propagates through projections and mapInPandas, so this is exactly
    the 14.5M-row node table case), and a tiny parquet-backed side is."""
    base = spark.range(10)
    # 100M rows x 8 bytes = ~800MB estimate >> 64MB threshold; a left
    # join can only build its right side
    huge = spark.range(100_000_000).mapInPandas(
        lambda it: (pdf.assign(x=1) for pdf in it), schema="id long, x int"
    )
    assert "BroadcastHashJoin" not in plan(base.join(huge, "id", "left"))
    small = spark.read.parquet(f"{SF}/nation.parquet")
    p = plan(base.join(small, base.id == small.n_nationkey))
    assert "BroadcastHashJoin" in p


def test_extraction_has_no_shuffle(spark):
    from kgw_spark.operators.extract import extract_mentions
    from kgw_spark.sources.corpus import corpus_df, generate_corpus

    rows, _ = generate_corpus(n_repos=2, files_per_repo=3)
    p = plan(extract_mentions(corpus_df(spark, rows)))
    assert "Exchange" not in p  # extraction is map-only


def test_q1_partial_aggregation(spark):
    import __spark_entry__ as E

    p = plan(E.queries()["q1_pricing_summary"](spark, SF))
    # partial + final hash aggregate around a single exchange
    assert p.count("HashAggregate") >= 4
    assert len([ln for ln in p.splitlines() if ln.strip().startswith("Exchange") or " Exchange (" in ln]) >= 1


def test_link_broadcast_plan(spark):
    """The pipeline's broadcast link path: the composed link∘canonicalize
    mapping is broadcast-joined on subj and obj."""
    from kgw_spark.operators.canon import canonicalize, compose_mapping
    from kgw_spark.operators.extract import extract_mentions
    from kgw_spark.sources.corpus import corpus_df, generate_corpus
    from tests.conftest import alias_df_from_truth

    rows, truth = generate_corpus(n_repos=2, files_per_repo=3)
    m = extract_mentions(corpus_df(spark, rows))
    p = plan(canonicalize(m, compose_mapping(alias_df_from_truth(spark, truth))))
    assert p.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in p


def test_salted_link_plan_is_shuffle_hash(spark):
    from kgw_spark.operators.extract import extract_mentions
    from kgw_spark.operators.link import link_salted
    from kgw_spark.sources.corpus import corpus_df, generate_corpus
    from tests.conftest import alias_df_from_truth

    rows, truth = generate_corpus(n_repos=2, files_per_repo=3)
    m = extract_mentions(corpus_df(spark, rows))
    p = plan(link_salted(m, alias_df_from_truth(spark, truth)))
    assert "ShuffledHashJoin" in p


def test_emb_near_pairs_certified_path_has_no_cartesian(spark, monkeypatch):
    """The oracle-certified emb_near_pairs entry must be the LSH-bucketed
    scale path: no cartesian/nested-loop join anywhere in the plan (the
    exact=True formulation is a quadratic crossJoin). Pinned to the
    distributed path: the in-core result is a LocalRelation with no
    joins to check."""
    import __spark_entry__ as E
    from kgw_spark.operators import incore

    monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    p = plan(E.queries()["emb_near_pairs"](spark, SF))
    assert "Join" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_store_partition_pruning(spark, tmp_path):
    """Reading a type-partitioned store table with a type filter must
    prune partitions at the scan (the north rule's partition layout
    paying off: a one-type query touches one directory, not the table)."""
    from kgw_spark.sinks.store import TableStore

    store = TableStore(str(tmp_path / "pp"))
    df = spark.createDataFrame(
        [(f"id{i}", "alpha" if i % 2 else "beta", "{}") for i in range(100)],
        "id string, type string, properties string",
    )
    store.write(df, "nodes", partition_by="type")
    q = store.read(spark, "nodes").filter("type = 'alpha'")
    p = plan(q)
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and "type" in pf[0] and "alpha" in pf[0]
    # the data filter is NOT re-applied post-scan (pruning is complete)
    assert q.count() == 50


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling: a hot key that dwarfs every other
    partition is split at runtime (executed plan marks the join
    skew=true) — the backstop behind the explicit salting helpers."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from pyspark.sql import functions as F2

        left = spark.range(400_000).select(
            F2.when(F2.col("id") % 10 < 9, F2.lit(0))
            .otherwise(F2.col("id"))
            .alias("k"),
            F2.concat(F2.lit("payload_"), F2.col("id")).alias("pad"),
        )
        right = spark.range(50_000).selectExpr("id AS k", "id AS w")
        j = left.join(right, "k").select("k")
        # execute THIS DataFrame's own query execution so the adaptive
        # plan we inspect is the finalized one (a .write/.count spawns a
        # separate execution)
        assert len(j.collect()) > 0
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_hash_sample_is_scan_plus_filter(spark):
    """Deterministic sampling must stay a narrow scan + filter — zero
    shuffle, so at 100 TB it fuses into whatever pass reads the corpus."""
    from kgw_spark.operators.sampling import lcg_bucket

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(docs.filter(lcg_bucket(F.col("doc_id"), 100) < 30))
    assert "Exchange" not in p
    assert "codegen id" in p  # LCG arithmetic stays in whole-stage codegen


def test_contamination_no_cartesian_distinct_before_join(spark):
    """ngram_containment joins eval shingles against DISTINCT train
    shingles (set membership): no cartesian/nested-loop anywhere, and
    the train side is aggregated BEFORE the join so a duplicated
    boilerplate n-gram never multiplies join rows."""
    from kgw_spark.operators.dedup import ngram_containment
    from kgw_spark.operators.sampling import lcg_bucket

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = docs.filter(lcg_bucket(F.col("doc_id"), 100) < 10)
    tr = docs.join(ev.select("doc_id"), "doc_id", "left_anti")
    p = plan(ngram_containment(tr, ev, n=5))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # the distinct (partial+final HashAggregate) sits below the hit join
    assert p.count("HashAggregate") >= 4


def test_neighborhood_among_join_is_broadcast(spark):
    """The r4 neighborhood plan: both among-semi-joins broadcast the
    (checkpointed, hub-bounded) neighbor set — the edge table is never
    shuffled — and the final dedup is over keys only."""
    edges = KG.kg_edges(spark, SF)
    p = plan(analytics.neighborhood(edges, "nation:3"))
    assert p.count("BroadcastHashJoin") >= 2
    assert "LeftSemi" in p
    assert "SortMergeJoin" not in p


def test_k_hop_frontier_joins_are_broadcast(spark, monkeypatch):
    """Per-level frontier joins against the session pair list use
    broadcast (gated on the known frontier count) — no full pair-list
    shuffle at any level. Pinned to the distributed path: the in-core
    result is a LocalRelation with no joins to check."""
    from kgw_spark.operators import incore

    monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    out = analytics.k_hop(KG.kg_pairs(spark, SF), "customer:1", k=2)
    p = plan(out)
    assert "SortMergeJoin" not in p
    # the visited union assembled from checkpointed per-level
    # frontiers: scans, not shuffles
    assert "Exchange hashpartitioning" not in p


def test_temporal_joins_have_no_nested_loop(spark):
    """The as-of and banded-range temporal join entries must compile to
    pure equi-join plans — no cartesian/nested-loop operator anywhere
    (the naive formulations of both are per-key range cross products)."""
    import __spark_entry__ as E

    for name in ("events_asof_click", "events_range_pairs"):
        p = plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_common_neighbors_plan_shape(spark, monkeypatch):
    """kg_common_neighbors runs in-core below the driver gate (its
    result is a LocalRelation); past it, it must stay on the bounded
    wedge path: the per-node HOF pair expansion (sort_array over
    collected neighbor lists) with no cartesian/nested-loop operator
    anywhere."""
    import __spark_entry__ as E

    from kgw_spark.operators import incore

    query = E.queries()["kg_common_neighbors"]
    assert incore.held_on_driver(query(spark, SF))
    monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    p = plan(query(spark, SF))
    assert "sort_array" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_order_rank_is_one_exchange(spark):
    """The label-propagation rank dictionary dedups IN PLACE on its
    range partitioning (RangePartitioning satisfies the dedup's
    clustering requirement): one Exchange in the plan, never a second
    hash shuffle for the distinct."""
    from kgw_spark.operators.communities import _order_rank

    ids = spark.createDataFrame([(f"n{i % 7}",) for i in range(40)], "id string")
    p = plan(_order_rank(ids.union(ids), 4))
    assert len(re.findall(r"^\(\d+\) Exchange\b", p, re.M)) == 1, p
    assert "rangepartitioning" in p and "hashpartitioning" not in p


def test_label_prop_rounds_hash_aggregate(spark, monkeypatch):
    """Past the driver budget every label-propagation round takes
    min(<long>) over dictionary-encoded labels: a fixed-width buffer,
    hence HashAggregate. A string label would plan SortAggregate and
    sort the message stream twice per round."""
    from kgw_spark.operators import incore
    from kgw_spark.operators.communities import min_label_propagation

    monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    nodes = KG.kg_nodes(spark, SF)
    pairs = KG.kg_pairs(spark, SF)
    # each round is checkpointed; record the plan of what it checkpoints
    checkpointed = []
    checkpoint = type(nodes).localCheckpoint

    def spy(self, eager=True):
        checkpointed.append(plan(self))
        return checkpoint(self, eager)

    monkeypatch.setattr(type(nodes), "localCheckpoint", spy)
    min_label_propagation(nodes, pairs, rounds=2).collect()
    rounds = [p for p in checkpointed if "min(label" in p]
    assert len(rounds) == 2, len(checkpointed)
    for p in rounds:
        assert "HashAggregate" in p
        assert "SortAggregate" not in p


def test_simhash_join_legs_scan_checkpoint(spark, monkeypatch):
    """docs_simhash_pairs runs in-core below the driver gate (its result
    is a LocalRelation). Past it, both legs of the SimHash banded
    self-join scan ONE checkpointed signature table: the plan has
    exactly two ExistingRDD scans (the checkpoint, once per leg), and
    the per-token hashing and bit assembly of the signature kernel
    (xxhash64, shiftleft) never re-run inside the join."""
    import __spark_entry__ as E

    from kgw_spark.operators import incore
    from kgw_spark.operators.dedup import simhash_near_pairs

    assert incore.held_on_driver(E.queries()["docs_simhash_pairs"](spark, SF))
    monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan(simhash_near_pairs(docs, max_hamming=6))
    assert len(re.findall(r"^\(\d+\) Scan ExistingRDD", p, re.M)) == 2, p
    assert "xxhash64" not in p and "shiftleft" not in p
