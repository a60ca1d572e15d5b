"""Common-neighbor link prediction over the KG edge list.

Candidate generation for missing-edge prediction: non-adjacent node
pairs ranked by how many neighbors they share. The naive formulation
(adjacency self-join) does Σ deg² work — a single 10^6-degree hub
emits 10^12 pairs. The scale shape caps the *intermediate* node's
degree: pairs are generated only through nodes with degree ≤ cap, so
wedge work is bounded by cap × |edges| on any graph. That is also the
operator's documented semantics (not an approximation of something
else): hub-mediated co-occurrence ("both cite the root node") carries
no link signal — the same reason Adamic-Adar discounts high-degree
common neighbors to ~0.

Everything is integer counting over deterministic orderings, so the
result (with the (count DESC, u, v) total order on the top-k cut) is
exactly value-oracle-able in SQL.

Below the driver budget (``incore.common_neighbors``) the pair list
arrives in one Arrow collect and the same capped wedge count runs on
the driver: the wedges through a middle node are the pairs within its
neighbor group, adjacent pairs drop out by a sorted lookup, and the
top-k is cut in id order. Past it the plan below runs unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.operators import incore
from kgw_spark.operators.pairs import both_directions, degrees


def common_neighbors(pairs: DataFrame, deg_cap: int = 32, top: int = 20) -> DataFrame:
    """Top ``top`` non-adjacent pairs ``(u, v, n_common)`` (``u < v``)
    by count of shared neighbors of degree ≤ ``deg_cap``, over the
    undirected simple graph given by the canonical pair list ``pairs``
    (``pairs.canonical_pairs``)."""
    if deg_cap < 1 or top < 1:
        raise ValueError(f"common_neighbors needs deg_cap/top >= 1, got {deg_cap}/{top}")
    out = incore.common_neighbors(pairs, deg_cap, top)
    if out is not None:
        return out
    # degree pre-filter BEFORE collect_list: a hub never reaches a
    # reducer's buffer, so per-group state is bounded by deg_cap
    low = both_directions(pairs).join(
        degrees(pairs).filter(F.col("degree") <= deg_cap).select(F.col("id").alias("x")),
        "x",
    )
    # wedge pairs expanded per intermediate node with JVM higher-order
    # functions (sorted neighbor list -> all u<v combinations, <= C(cap,2)
    # per group) — one groupBy shuffle instead of the self-join's two
    grouped = low.groupBy("x").agg(F.sort_array(F.collect_list("y")).alias("ns"))
    wedge_pairs = grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(ns, (a, i) -> "
                "transform(slice(ns, i + 2, size(ns)), b -> struct(a AS u, b AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    cn = wedge_pairs.groupBy("u", "v").agg(F.count(F.lit(1)).alias("n_common"))
    # wedge pairs are u<v by construction, so adjacency needs only the
    # canonical half-size list
    nonadj = cn.join(pairs, ["u", "v"], "left_anti")
    return nonadj.orderBy(F.desc("n_common"), "u", "v").limit(top)


def common_neighbors_py(
    edge_list: list[tuple[str, str]], deg_cap: int = 32, top: int = 20
) -> list[tuple[str, str, int]]:
    """Pure-Python brute-force replica of ``common_neighbors`` over a raw
    edge list — the independent oracle (all-pairs wedge enumeration
    through every intermediate of degree ≤ ``deg_cap``)."""
    import itertools

    adj: dict[str, set[str]] = {}
    for u, v in edge_list:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    cn: dict[tuple[str, str], int] = {}
    for ns in adj.values():
        if len(ns) <= deg_cap:
            for u, v in itertools.combinations(sorted(ns), 2):
                cn[(u, v)] = cn.get((u, v), 0) + 1
    rows = [(u, v, n) for (u, v), n in cn.items() if v not in adj[u]]
    rows.sort(key=lambda r: (-r[2], r[0], r[1]))
    return rows[:top]
