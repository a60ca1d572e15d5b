"""Graph operators vs their pure-Python replicas on adversarial small
graphs: every undirected operator reads ``canonical_pairs`` of the raw
edges, pagerank and connected components read the raw directed edges,
and each result must equal the replica computed from the raw edge
list."""

import itertools

import pytest

from kgw_spark.operators import canon
from kgw_spark.operators.communities import label_propagation_py, min_label_propagation
from kgw_spark.operators.kcore import k_core, k_core_py
from kgw_spark.operators.linkpred import common_neighbors, common_neighbors_py
from kgw_spark.operators.pagerank import pagerank, pagerank_py
from kgw_spark.operators.pairs import canonical_pairs
from kgw_spark.operators.triangles import triangle_count
from kgw_spark.plans.analytics import k_hop

# name -> (raw directed edges, isolated node ids)
GRAPHS = {
    "empty": ([], []),
    "self_loops_only": ([("a", "a"), ("b", "b")], []),
    "multi_edges": ([("a", "b")] * 3 + [("b", "c")] * 2 + [("c", "a"), ("c", "d")], []),
    "reversed_duplicates": (
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"), ("a", "c"), ("d", "c")],
        [],
    ),
    "star_hub": ([("h", f"l{i}") for i in range(6)] + [("l0", "l1"), ("l2", "h")], []),
    "isolated_nodes": ([("b", "c"), ("c", "d"), ("d", "b")], ["a", "z"]),
    "two_components": (
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "e"),
         ("w", "x"), ("x", "y"), ("y", "z"), ("z", "w"), ("w", "y")],
        [],
    ),
}


def _adjacency(raw):
    adj = {}
    for u, v in raw:
        if u != v:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
    return adj


def _bfs_py(raw, start, k):
    adj, hops, frontier = _adjacency(raw), {start: 0}, [start]
    for hop in range(1, k + 1):
        frontier = sorted({m for n in frontier for m in adj.get(n, ())} - hops.keys())
        hops.update((m, hop) for m in frontier)
    return hops


def _components_py(raw):
    """Every endpoint of a non-self-loop edge → the smallest id of its
    connected component (BFS over the undirected adjacency)."""
    adj, out = _adjacency(raw), {}
    for start in sorted(adj):
        if start in out:
            continue
        seen, frontier = {start}, [start]
        while frontier:
            frontier = [m for n in frontier for m in adj[n] if m not in seen]
            seen.update(frontier)
        out.update((n, start) for n in seen)
    return out


def _triangles_py(raw):
    """(n_edges, n_wedges, n_triangles) with the operator's orientation:
    each edge points from its (degree, id)-smaller endpoint, and a wedge
    is a pair of out-edges of one node."""
    adj = _adjacency(raw)
    pairs = {(min(u, v), max(u, v)) for u, vs in adj.items() for v in vs}
    out = {}
    for u, v in pairs:
        lo, hi = sorted((u, v), key=lambda n: (len(adj[n]), n))
        out.setdefault(lo, []).append(hi)
    n_wedges = sum(len(hs) * (len(hs) - 1) // 2 for hs in out.values())
    n_triangles = sum(
        1 for a, b, c in itertools.combinations(sorted(adj), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    return len(pairs), n_wedges, n_triangles


@pytest.mark.parametrize("name", list(GRAPHS))
def test_operators_match_replicas(spark, name):
    raw, isolated = GRAPHS[name]
    node_ids = sorted({n for e in raw for n in e} | set(isolated))
    edges = spark.createDataFrame(raw, "source_id string, target_id string")
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id string")
    pairs = canonical_pairs(edges)

    for k in (1, 2, 3):
        got = {r.id: r.degree for r in k_core(pairs, k=k).collect()}
        assert got == k_core_py(raw, k=k), k
    for rounds in (1, 3):
        labels = min_label_propagation(nodes, pairs, rounds=rounds)
        got = {r.id: r.label for r in labels.collect()}
        assert got == label_propagation_py(node_ids, raw, rounds=rounds), rounds
    got = [(r.u, r.v, r.n_common) for r in common_neighbors(pairs, deg_cap=3, top=10).collect()]
    assert got == common_neighbors_py(raw, deg_cap=3, top=10)
    start = node_ids[0] if node_ids else "a"
    got = {r.id: r.hop for r in k_hop(pairs, start, k=2).collect()}
    assert got == _bfs_py(raw, start, 2)
    assert tuple(triangle_count(pairs).first()) == _triangles_py(raw)
    got = {r.id: r.rank_scaled for r in pagerank(edges, iters=4).collect()}
    assert got == pagerank_py(raw, iters=4)


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize("name", list(GRAPHS))
def test_connected_components_match_replica(spark, monkeypatch, name, path):
    raw, _isolated = GRAPHS[name]
    if path == "distributed":
        monkeypatch.setattr(canon, "DRIVER_CC_THRESHOLD", -1)
    pairs = spark.createDataFrame(raw, "u string, v string")
    got = {r.id: r.canonical_id for r in canon.connected_components(pairs).collect()}
    assert got == _components_py(raw)
