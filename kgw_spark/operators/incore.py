"""In-core graph kernels below one driver-budget gate.

The graph operators (``canon.connected_components``, ``kcore.k_core``,
``communities.min_label_propagation``, ``pagerank.pagerank``,
``analytics.k_hop``) spend their time on a small graph planning,
code-generating and scheduling one Spark job after another, not
computing: every round is a handful of jobs over data that a single
driver process holds in a few MB.

The gate (``fits_driver``) is ONE parallel aggregate bounding rows AND
bytes of a two-column id list. Under it the list arrives in one Arrow
collect, ``pd.factorize(sort=True)`` turns the ids into
order-preserving int64 codes (Python string order is code-point order,
which is UTF-8 byte order, which is Spark's binary string order — so a
min over codes is the min over strings), and a vectorized numpy kernel
runs every round on the codes. Each kernel returns a LocalRelation
(``session.local_df`` of a pyarrow Table) with the operator's
distributed schema, so callers see the same frame either way. Past the
gate the operator runs its distributed rounds unchanged.
``canon.compose_mapping_local`` feeds its driver-resident alias pairs
to the same components kernel, skipping the gate and the collect.

The kernels are independent of the pure-Python ``*_py`` replicas,
which stay the tests' oracles for both paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.session import local_df

# driver budget of one collected id list: rows, and bytes of id text
# plus a fixed per-row overhead (canon's compose_mapping gates its alias
# collect on it too)
DRIVER_MAX_ROWS = 2_000_000
DRIVER_MAX_BYTES = 1 << 30


def fits_driver(df: DataFrame, a: str, b: str) -> bool:
    """Whether the ``(a, b)`` string columns of ``df`` fit the driver
    budget. ONE cheap parallel aggregate bounds BOTH rows and bytes
    before any driver collect: a ``limit().collect()`` probe runs 3-4
    incremental limit jobs and has no byte veto (long ids), and Catalyst
    stats cannot stand in for the byte side — arrow ``createDataFrame``
    frames are stats-less LogicalRDDs (sizeInBytes = Long.MaxValue)."""
    st = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length(a) + F.length(b)).alias("b"),
    ).collect()[0]
    return st["n"] <= DRIVER_MAX_ROWS and (st["b"] or 0) + 48 * st["n"] <= DRIVER_MAX_BYTES


def factorize(a, b):
    """``(codes_a, codes_b, ids)`` for the equal-length id arrays ``a``,
    ``b``: ``ids`` is the sorted distinct id array and ``ids[codes_a[i]]``
    is ``a[i]``. None for a null id (factorize codes it -1)."""
    codes, ids = pd.factorize(
        np.concatenate([np.asarray(a, object), np.asarray(b, object)]), sort=True
    )
    if (codes < 0).any():
        return None
    return codes[: len(a)], codes[len(a):], ids


def _collect_codes(df: DataFrame, a: str, b: str):
    """``factorize`` of the string columns ``a``, ``b`` of ``df``, read
    in one Arrow collect. None past the driver budget, and None for a
    null id, which leaves Spark's null semantics to the distributed
    path."""
    if not fits_driver(df, a, b):
        return None
    pdf = df.select(a, b).toPandas()
    return factorize(pdf[a].to_numpy(object), pdf[b].to_numpy(object))


def _both_ways(u, v):
    """Each undirected pair as two directed ``x → y`` arcs."""
    return np.concatenate([u, v]), np.concatenate([v, u])


def components(u, v, n: int):
    """Component label of every code in ``range(n)`` — the smallest
    code of its component — over the undirected arcs ``u[i] — v[i]``.
    Each round hooks every root to the smallest root across its arcs
    (``np.minimum.at``; roots only ever hook lower, so no cycle forms),
    then pointer-jumps to a fixpoint, so every code points at its root.
    Arcs whose endpoints share a root stay so and are dropped; the loop
    ends when none is left."""
    x, y = _both_ways(u, v)
    root = np.arange(n)
    while True:
        rx, ry = root[x], root[y]
        live = rx != ry
        if not live.any():
            return root
        x, y = x[live], y[live]
        np.minimum.at(root, rx[live], ry[live])
        while True:
            nxt = root[root]
            if np.array_equal(nxt, root):
                break
            root = nxt


def component_mapping(spark, u, v, ids) -> DataFrame:
    """``(id, canonical_id)`` over the ids of the non-identity pairs
    ``(ids[u[i]], ids[v[i]])``, each mapped to its component's smallest
    id; an id in identity pairs only is absent, as on the distributed
    path."""
    arc = u != v
    keep = np.zeros(len(ids), bool)
    keep[u[arc]] = keep[v[arc]] = True
    root = components(u, v, len(ids))
    out = pa.table({"id": ids[keep], "canonical_id": ids[root[keep]]})
    return local_df(spark, out, "id string, canonical_id string")


def connected_components(pairs: DataFrame) -> DataFrame | None:
    """``canon.connected_components`` in-core over the ``(u, v)`` pair
    frame. None past the driver budget."""
    got = _collect_codes(pairs, "u", "v")
    if got is None:
        return None
    return component_mapping(pairs.sparkSession, *got)


def k_core(pairs: DataFrame, k: int) -> DataFrame | None:
    """``kcore.k_core`` in-core: peel every live node of degree < k per
    round, decrementing each surviving neighbor by a ``bincount`` of its
    arcs from the peeled set. Raises past ``kcore.MAX_ROUNDS`` like the
    distributed loop. None past the driver budget."""
    from kgw_spark.operators.kcore import MAX_ROUNDS

    got = _collect_codes(pairs, "u", "v")
    if got is None:
        return None
    u, v, ids = got
    x, y = _both_ways(u, v)
    n = len(ids)
    deg = np.bincount(x, minlength=n)
    alive = np.ones(n, bool)
    for _ in range(MAX_ROUNDS):
        low = alive & (deg < k)
        if not low.any():
            keep = np.flatnonzero(alive)
            out = pa.table({"id": ids[keep], "degree": deg[keep]})
            return local_df(pairs.sparkSession, out, "id string, degree bigint not null")
        alive &= ~low
        # an arc from a node peeled now to a survivor dies now; arcs
        # between two nodes of the same frontier decrement nobody
        deg -= np.bincount(y[low[x] & alive[y]], minlength=n)
    raise RuntimeError(f"k_core did not converge within {MAX_ROUNDS} rounds")


def label_propagation(nodes: DataFrame, pairs: DataFrame, rounds: int) -> DataFrame | None:
    """``communities.min_label_propagation`` in-core over nodes ∪ pair
    endpoints: every round, each code takes the min of its own label
    and its neighbors' (``np.minimum.at`` over the arcs). The node ids
    ride the same collect as ``(id, id)`` rows — a canonical pair list
    has no self-pairs, so they are told apart by ``u == v``. None past
    the driver budget."""
    stacked = pairs.select("u", "v").union(
        nodes.select(F.col("id").alias("u"), F.col("id").alias("v"))
    )
    got = _collect_codes(stacked, "u", "v")
    if got is None:
        return None
    u, v, ids = got
    arc = u != v
    x, y = _both_ways(u[arc], v[arc])
    labels = np.arange(len(ids))
    for _ in range(rounds):
        nxt = labels.copy()
        np.minimum.at(nxt, x, labels[y])
        labels = nxt
    out = pa.table({"id": ids, "label": ids[labels]})
    return local_df(pairs.sparkSession, out, "id string, label string")


def pagerank(
    edges: DataFrame, iters: int, damping_num: int, damping_den: int, scale: int
) -> DataFrame | None:
    """``pagerank.pagerank`` in-core, in the same exact int64
    arithmetic: per edge ``rank(u) // out_degree(u)`` summed into the
    target by ``np.add.at`` (integer adds, never float ``bincount``
    weights), then ``teleport + (num * sum) // den``. ``effective_scale``
    bounds ``num * sum`` below 2^63, so no int64 op can wrap. None past
    the driver budget."""
    from kgw_spark.operators.pagerank import effective_scale

    got = _collect_codes(edges, "source_id", "target_id")
    if got is None:
        return None
    src, dst, ids = got
    n = len(ids)
    scale = effective_scale(n, scale, damping_num)
    teleport = ((damping_den - damping_num) * scale) // damping_den
    src_deg = np.bincount(src, minlength=n)[src]
    ranks = np.full(n, scale, np.int64)
    for _ in range(iters):
        sums = np.zeros(n, np.int64)
        np.add.at(sums, dst, ranks[src] // src_deg)
        ranks = teleport + (damping_num * sums) // damping_den
    out = pa.table({"id": ids, "rank_scaled": ranks})
    return local_df(edges.sparkSession, out, "id string, rank_scaled bigint")


def k_hop(pairs: DataFrame, node_id: str, k: int) -> DataFrame | None:
    """``analytics.k_hop`` in-core: BFS levels as boolean masks — the
    next frontier is every arc target whose source is in the frontier,
    minus the visited set. None past the driver budget."""
    got = _collect_codes(pairs, "u", "v")
    if got is None:
        return None
    u, v, ids = got
    x, y = _both_ways(u, v)
    n = len(ids)
    hop = np.full(n, -1, np.int32)
    frontier = np.zeros(n, bool)
    i = int(np.searchsorted(ids, node_id))
    if i < n and ids[i] == node_id:
        hop[i], frontier[i] = 0, True
    for level in range(1, k + 1):
        nxt = np.zeros(n, bool)
        nxt[y[frontier[x]]] = True
        nxt &= hop < 0
        if not nxt.any():
            break
        hop[nxt], frontier = level, nxt
    reached = np.flatnonzero(hop > 0)
    out = pa.table(
        {
            "id": np.concatenate([[node_id], ids[reached]]),
            "hop": np.concatenate([[0], hop[reached]]).astype(np.int32),
        }
    )
    return local_df(pairs.sparkSession, out, "id string, hop int")
