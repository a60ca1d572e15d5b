"""Synchronous min-label propagation over the KG edge set.

Community/cluster detection primitive (the Pregel "hash-min" workload
— Kiveris et al.'s building block, also the classic GraphX example) as
pure DataFrame rounds: after ``rounds`` synchronous updates every node
carries the MINIMUM node id reachable within ``rounds`` undirected
hops — a deterministic, exactly SQL-oracle-able label (string min is
binary-collation min in both Spark and DuckDB; no floats anywhere).
Unlike ``canon.connected_components`` (which iterates to a fixpoint
with path-doubling stars) this exposes the bounded-round propagation
itself: radius-k cluster seeds, the per-round convergence profile, and
the exact primitive a fixed-budget community pass at 100 TB would run.

EXECUTION below the driver budget (``incore.label_propagation``): one
Arrow collect of the pair list stacked with the node ids, then every
round is an ``np.minimum.at`` over order-preserving int64 codes on the
driver — at most 2 Spark jobs whatever ``rounds`` is. The label domain on both paths is
nodes ∪ edge endpoints.

Past the gate: Spark plans ``min(<string>)`` as SortAggregate (a mutable
var-length min does not fit the UnsafeRow hash-agg buffer), so a naive
string formulation SORTS the 2|E|-row message stream TWICE per round —
measured 57-83 executor-CPU-s per 3-round run at sf0.1 vs ~8 for the
same-shape integer PageRank. The LABEL payload is therefore
DICTIONARY-ENCODED to an order-preserving long (min(rank) == rank(min)
by order isomorphism): every round's aggregate is then ``min(<long>)``
— a fixed-width buffer, hence HashAggregate — while the grouping key
stays the string id (var-length KEYS hash-aggregate fine; only the
BUFFER has to be fixed-width). The final labels decode through one
join. Same result, bit-for-bit (equivalence-tested).

Plan shape per round: one ``pairs.send`` of the label vector over
``both_directions(pairs)`` producing messages, then self-rows ∪
messages through ONE min-aggregate shuffled by node id (partial
map-side min — the shuffle carries ≤|V| rows regardless of |E|;
A/B-measured at sf0.1 on 32 cores against a two-join nbmin +
left-join-least update: 4.1 s vs 4.8 s warm, one broadcast build per
round not two), each round ``localCheckpoint``-ed so plan depth stays
O(1) in ``rounds``. While the node set fits ``pairs.BCAST_MAX_IDS``
the label vector (and the decode dictionary) ships to the edge
partitions instead of shuffling the edge set every round; past it the
message join falls back to a hash-partitioned shuffle (of the
checkpointed pair list, never the full edge derivation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.operators import incore
from kgw_spark.operators.pairs import both_directions, broadcast_within, send


def _order_rank(ids_raw: DataFrame, parts: int) -> DataFrame:
    """Order-preserving long key ``(id, r)`` over the DISTINCT ids of
    ``ids_raw`` (which may carry duplicates): range-partition by id
    (partition order == id order), dedup IN PLACE — RangePartitioning
    satisfies the aggregation's ClusteredDistribution requirement, so
    the dropDuplicates adds no second exchange — then sort within each
    partition and take ``monotonically_increasing_id`` (partition id in
    the high bits, row position in the low bits — strictly increasing
    along the global id order). ``r`` is NOT dense, and does not need
    to be: the dictionary-encoding consumers only require an order
    ISOMORPHISM (min(r) == r(min)); density was never used. This fuses
    what r5 ran as distinct-shuffle + checkpoint + a zipWithIndex
    construction (window pass + per-partition-count collect + offset
    join) into one shuffle-dedup-sort pass."""
    return (
        ids_raw.repartitionByRange(max(parts, 1), "id")
        .dropDuplicates(["id"])
        .sortWithinPartitions("id")
        .withColumn("r", F.monotonically_increasing_id())
    )


def min_label_propagation(
    nodes: DataFrame,
    pairs: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Labels ``(id, label)`` after ``rounds`` synchronous min-label
    updates: ``label_0(v) = v``, ``label_i(v) = min(label_{i-1}(v),
    min over undirected neighbors u of label_{i-1}(u))``, over the
    node frame ``nodes`` (column ``id``) and the canonical pair list
    ``pairs`` (``pairs.canonical_pairs``); isolated nodes keep their
    own id, and an edge endpoint missing from ``nodes`` is labelled too.
    Below the driver budget the rounds run in-core, past it as
    dictionary-encoded DataFrame rounds; both return identical rows
    (equivalence-tested)."""
    if rounds < 1:
        raise ValueError(f"min_label_propagation needs rounds >= 1, got {rounds}")
    out = incore.label_propagation(nodes, pairs, rounds)
    if out is not None:
        return out
    # label domain = nodes ∪ edge endpoints, every id starting with its
    # own label (the pure-Python replica's convention; endpoints absent
    # from the node frame would otherwise never carry a self-label).
    # The domain distinct and the rank dictionary are ONE fused
    # range-shuffle (_order_rank dedups in place), materialized once:
    # the gate count, round-0 labels, and the decode all re-read it.
    ids_raw = (
        nodes.select("id")
        .union(pairs.select(F.col("u").alias("id")))
        .union(pairs.select(F.col("v").alias("id")))
    )
    parts = pairs.sparkSession.sparkContext.defaultParallelism
    rank = _order_rank(ids_raw, parts).localCheckpoint(eager=True)
    n_ids = rank.count()
    # label_0 = own rank, for EVERY ranked id (nodes ∪ endpoints); each
    # round's min-aggregate is then min(<long>), a HashAggregate
    arcs = both_directions(pairs)
    labels = rank.select("id", F.col("r").alias("label"))
    for _ in range(rounds):
        labels = (
            labels.union(send(arcs, labels, n_ids))
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
    dec = rank.select(F.col("r").alias("label"), F.col("id").alias("_lb_s"))
    return labels.join(broadcast_within(dec, n_ids), "label").select(
        "id", F.col("_lb_s").alias("label")
    )


def label_propagation_py(
    node_ids: list[str],
    edge_list: list[tuple[str, str]],
    rounds: int = 3,
) -> dict[str, str]:
    """Pure-Python replica of ``min_label_propagation`` — the
    independent oracle (exact string mins are order-independent)."""
    neigh: dict[str, set[str]] = {n: set() for n in node_ids}
    for u, v in edge_list:
        if u == v:
            continue
        neigh.setdefault(u, set()).add(v)
        neigh.setdefault(v, set()).add(u)
    labels = {n: n for n in neigh}
    for _ in range(rounds):
        labels = {
            n: min([labels[n]] + [labels[m] for m in ms]) for n, ms in neigh.items()
        }
    return labels
