"""The canonical undirected pair list — the one input of every
undirected graph operator.

Every KG is one fixed property-graph representation, and its undirected
simple graph is one fixed derived relation: ``(u, v)`` with ``u < v``,
self-loops dropped, direction and multi-edges collapsed.
``canonical_pairs`` is the only place that derives it.

Input contract: the caller materializes; the operator reads. The
operators (``kcore.k_core``, ``communities.min_label_propagation``,
``linkpred.common_neighbors``, ``triangles.triangle_count``,
``analytics.k_hop``) take the output of ``canonical_pairs`` — or a
session view built by it, such as ``tpch_kg.kg_pairs`` — and scan it
several times per call, so they never derive, persist or checkpoint
their input; only their own per-round state is checkpointed.
``pagerank.pagerank`` follows the same contract over a directed
``(source_id, target_id)`` frame with multi-edges intact (out-degree
counts edge instances), such as ``tpch_kg.kg_edges2``, and
``canon.connected_components`` over any ``(u, v)`` equivalence-pair
frame, duplicates and self-pairs allowed.

The iterative operators (connected components, k-core, label
propagation, k-hop, pagerank) and triangle counting first read that
input ONCE, as one Arrow collect (``incore._collect``), and iterate on
the driver. A collect past ``spark.driver.maxResultSize`` or
``incore.DRIVER_MAX_ROWS`` rows hands back to the distributed rounds,
which scan the input every round as above (as does an input with a
null id).

Every distributed round of k-core, label propagation, k-hop and
pagerank expands its node-keyed state across the arcs with ONE step,
``send``; node-keyed state (a frontier, a label or rank vector, a
removed set) is broadcast iff its known row count is at most ONE
budget, ``BCAST_MAX_IDS``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.operators import incore
from kgw_spark.session import local_df

# the one broadcast budget of node-keyed state: ~20-40 B per string id
# plus a long or two of payload, so ~100 MB at the gate
BCAST_MAX_IDS = 2_000_000


def canonical_pairs(
    edges: DataFrame, src: str = "source_id", dst: str = "target_id"
) -> DataFrame:
    """Distinct ``(u, v)`` with ``u < v`` over the non-loop edges of
    ``edges``: ONE |E|-row distinct (half the rows of dedup-ing the
    both-directions list), materialized by an eager localCheckpoint —
    every consumer scan reads raw checkpointed rows (cheaper than
    persist()'s columnar decode, and no encode on build). Eager, not
    lazy: when ``edges`` is an expensive pipeline (the LSH pairs of
    ``docs_similarity_triangles``) the lazy form changed that query's
    job count and wall against the eager checkpoint it replaced.

    An ``edges`` frame ``incore.held_on_driver`` (the in-core MinHash
    pairs of that query) is already on the driver: its string or
    integer endpoints (whose Python order is Spark's) are read by
    ``collect()``, with no job, and the list comes back as a
    LocalRelation of the same rows and schema, instead of costing a
    distinct and a checkpoint (2 jobs) to reach the driver again."""
    s, d = F.col(src), F.col(dst)
    out = edges.filter(s != d).select(F.least(s, d).alias("u"), F.greatest(s, d).alias("v"))
    if incore.orderable(out, "u", "v") and incore.held_on_driver(edges):
        rows = {
            (min(a, b), max(a, b))
            for a, b in edges.select(src, dst).collect()
            if a is not None and b is not None and a != b
        }
        return local_df(edges.sparkSession, sorted(rows), out.schema)
    return out.distinct().localCheckpoint(eager=True)


def both_directions(pairs: DataFrame) -> DataFrame:
    """Neighbor relation ``(x, y)`` holding each pair both ways: the
    swap-union of a distinct u<v list is dedup-free (the two branches
    are disjoint), so it costs no shuffle."""
    return pairs.select(F.col("u").alias("x"), F.col("v").alias("y")).union(
        pairs.select(F.col("v").alias("x"), F.col("u").alias("y"))
    )


def degrees(pairs: DataFrame) -> DataFrame:
    """``(id, degree)`` in the simple graph: map-side partial counts
    bound the shuffle at <= |V| rows regardless of |E|."""
    return (
        both_directions(pairs)
        .groupBy(F.col("x").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def broadcast_within(df: DataFrame, n: int) -> DataFrame:
    """``df`` hinted for broadcast iff its ``n`` rows fit ``BCAST_MAX_IDS``
    — ``n`` is a count the caller already holds (Catalyst cannot size
    a checkpointed or derived node set), so the gate costs no job."""
    return F.broadcast(df) if n <= BCAST_MAX_IDS else df


def send(arcs: DataFrame, state: DataFrame, n_state: int) -> DataFrame:
    """The one expansion step of the distributed graph rounds: for every
    arc ``x → y`` of ``arcs`` whose ``x`` is a row of ``state`` (keyed
    ``id``, distinct ids, at most ``n_state`` rows), emit ``y`` as
    ``id`` with that row's payload columns. Undirected operators pass
    ``both_directions(pairs)``, so one join replaces the two directional
    joins over the ``u < v`` list; pagerank passes its directed edges.

    While the state fits ``BCAST_MAX_IDS`` it ships to the arc
    partitions: a node-sized vector broadcast once per round makes the
    expansion a map-side pass over the caller-materialized arcs, where a
    shuffled join would move the (much larger) arc set every round —
    twice for a two-sided update. Past the budget the join is
    hash-partitioned on both sides; nothing arc-sized is ever
    materialized here, and the caller aggregates what arrives (a
    partial map-side aggregate bounds that shuffle by the target
    count)."""
    payload = [c for c in state.columns if c != "id"]
    at = broadcast_within(state.withColumnRenamed("id", "x"), n_state)
    return arcs.join(at, "x").select(F.col("y").alias("id"), *payload)
