"""k-core decomposition by iterative peeling over the KG edge set.

The k-core of a graph is its maximal subgraph in which every node has
degree >= k — the standard graph-health / dense-region primitive
(Seidman 1983; the peeling algorithm is the textbook O(|E|) sequential
method, here expressed as bounded DataFrame rounds). All arithmetic is
integer degree counting over deterministic sets, so the result (node
id, degree-within-core) is exactly value-oracle-able against a
pure-Python replica.

EXECUTION below the driver budget (at most ``incore.DRIVER_MAX_ROWS``
pairs, collected within ``spark.driver.maxResultSize``): one Arrow
collect of the pair list, then the whole peel runs as numpy
``bincount`` degree decrements on the driver (``incore.k_core``) — at
most 2 Spark jobs whatever the peel depth.
On small graphs each distributed round's jobs cost planning, codegen
and scheduling, not data. Past the gate the rounds below run.

EXECUTION past the gate — incremental degree maintenance: a naive peel
re-aggregates degrees over the full 2|E|-row endpoint union and
anti-join-rewrites (and re-checkpoints) the full pair list EVERY round,
even though after the first round the peel frontier collapses (sf0.1:
round 1 peels 13,788 of ~190k nodes, rounds 2-3 peel 14 — while the
pair list stays at ~1.33M rows, >99% untouched). The peel recurrence
only needs the DELTA: when frontier L is removed, a surviving neighbor
v loses one degree per (L, v) edge. So:

- the canonical u<v pair list (``pairs.canonical_pairs``, materialized
  by the caller) is never rewritten unless the removed-set gate overflows;
- degrees are aggregated ONCE (map-side-combined groupBy; the shuffle
  carries <= |V| rows regardless of |E|), then maintained per round by
  one ``pairs.send`` of the frontier over ``both_directions(pairs)``
  (while the frontier count fits ``pairs.BCAST_MAX_IDS``, a map-side
  scan with no pair-sized shuffle or checkpoint) and applying the
  aggregated decrements to the <=|V|-row degree vector;
- the cumulative removed set R (needed so a dead edge never decrements
  twice) is broadcast while it fits; past ``pairs.BCAST_MAX_IDS`` the
  pair list is COMPACTED (one anti-join rewrite, R resets to empty) —
  i.e. the operator degrades to exactly one naive round per gate
  overflow instead of broadcasting unbounded state; R is a lazy union
  of the per-round frontiers, checkpointed every
  ``_REMOVED_CHECKPOINT_ROUNDS`` rounds so a deep peel keeps its plan
  depth bounded;
- termination = an empty frontier (the frontier count rides the same
  <=|V|-row materialization that updates the degree vector).

Node ids stay strings: degree counting is count-by-key, which
hash-aggregates fine on string keys (unlike label-prop's
``min(<string>)``, which is why communities.py encodes) — A/B at
sf0.1/32 lanes a dictionary-encoded variant lost on wall every
interleaved trial (7.2-7.9 s vs 3.6-5.9 s warm) because its ~6 fixed
encode/decode jobs cannot amortize over a 3-round peel.

Rounds are data-bounded (the peel depth, a.k.a. degeneracy diameter),
not fixed: ``MAX_ROUNDS`` is a runaway guard on both paths, and
hitting it raises rather than returning a non-core.

At 100 TB: the one pair-sized shuffle is the caller's distinct; every
round shuffles only frontier-incident decrements (<= frontier
degree sum) and re-materializes <=|V| degree rows. Skewed hubs cost one
counted key, not a buffered group; gate overflows degrade to bounded
anti-join rewrites, never an unbounded broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.operators import incore
from kgw_spark.operators import pairs as pair_list
from kgw_spark.operators.pairs import both_directions, broadcast_within, degrees, send

# runaway guard on the peel depth, shared by both paths
MAX_ROUNDS = 100
# rounds between checkpoints of the removed-set union (plan-depth guard)
_REMOVED_CHECKPOINT_ROUNDS = 16


def k_core(pairs: DataFrame, k: int) -> DataFrame:
    """Nodes of the k-core of the undirected simple graph given by the
    canonical pair list ``pairs`` (``pairs.canonical_pairs``), as
    ``(id, degree)`` with ``degree`` counted WITHIN the core. Empty
    result when no k-core exists."""
    if k < 1:
        raise ValueError(f"k_core needs k >= 1, got {k}")
    out = incore.k_core(pairs, k)
    if out is not None:
        return out
    deg = degrees(pairs).localCheckpoint(eager=True)
    removed: DataFrame | None = None  # cumulative peeled ids
    n_removed = 0
    for rnd in range(1, MAX_ROUNDS + 1):
        # frontier: materialized so the termination count and the
        # decrement joins read the same tiny frame
        low = deg.filter(F.col("degree") < k).select("id").localCheckpoint(eager=True)
        n_low = low.count()
        if n_low == 0:
            return deg
        # decrements: an edge dies in the round its FIRST endpoint is
        # peeled, and decrements its other endpoint iff that endpoint is
        # not peeled in the same round — the anti-join of the sent arcs
        # against removed ∪ frontier encodes exactly that. Each frontier
        # node has < k live arcs, so at most (k - 1)·n_low ids decrement.
        gone = low if removed is None else removed.union(low)
        n_gone = n_removed + n_low
        touched = send(both_directions(pairs), low, n_low).join(
            broadcast_within(gone, n_gone), "id", "anti"
        )
        decr = touched.groupBy("id").agg(F.count(F.lit(1)).alias("_dec"))
        deg = (
            deg.join(broadcast_within(low, n_low), "id", "anti")
            .join(broadcast_within(decr, (k - 1) * n_low), "id", "left")
            .select(
                "id",
                (F.col("degree") - F.coalesce(F.col("_dec"), F.lit(0))).alias(
                    "degree"
                ),
            )
            .localCheckpoint(eager=True)
        )
        # checkpointed only every _REMOVED_CHECKPOINT_ROUNDS rounds:
        # `gone` is a union of the (already checkpointed) per-round
        # frontiers, so re-evaluating it inside next round's broadcast
        # builds is a cheap cache-read union, while a checkpoint every
        # round cost one extra job per round; the periodic checkpoint
        # bounds the union's plan depth on deep peels
        removed, n_removed = gone, n_gone
        if rnd % _REMOVED_CHECKPOINT_ROUNDS == 0:
            removed = removed.localCheckpoint(eager=True)
        if n_removed > pair_list.BCAST_MAX_IDS:
            # compact: one bounded anti-join rewrite of the pair list
            # (the naive round body), then the removed set resets — no
            # broadcast ever carries more than the budget
            pairs = (
                pairs.join(removed.withColumnRenamed("id", "u"), "u", "left_anti")
                .join(removed.withColumnRenamed("id", "v"), "v", "left_anti")
                .localCheckpoint(eager=True)
            )
            removed, n_removed = None, 0
    raise RuntimeError(f"k_core did not converge within {MAX_ROUNDS} rounds")


def k_core_py(edge_list: list[tuple[str, str]], k: int) -> dict[str, int]:
    """Pure-Python replica of ``k_core`` — the independent oracle
    (iterative peeling to the same fixpoint; degrees are exact
    integers, so the results are identical)."""
    adj: dict[str, set[str]] = {}
    for u, v in edge_list:
        if u == v:
            continue
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    while True:
        low = [n for n, ns in adj.items() if len(ns) < k]
        if not low:
            break
        for n in low:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    return {n: len(ns) for n, ns in adj.items()}
