"""Connected components: driver union-find vs distributed
large-star/small-star must agree on random graphs."""

import random

import pytest

from kgw_spark.operators import canon
from kgw_spark.operators.canon import connected_components


def _random_pairs(n_nodes: int, n_edges: int, seed: int):
    rng = random.Random(seed)
    return [
        (f"n{rng.randrange(n_nodes)}", f"n{rng.randrange(n_nodes)}")
        for _ in range(n_edges)
    ]


def _oracle(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_driver_and_distributed_agree(spark, monkeypatch):
    pairs = _random_pairs(200, 300, seed=5)
    df = spark.createDataFrame(pairs, schema="u string, v string")
    expected = _oracle(pairs)

    driver = {
        r.id: r.canonical_id for r in connected_components(df).collect()
    }
    monkeypatch.setattr(canon, "DRIVER_CC_THRESHOLD", -1)
    dist = {r.id: r.canonical_id for r in connected_components(df).collect()}
    assert driver == expected
    assert dist == expected


def test_chain_components(spark, monkeypatch):
    # a long path graph exercises multi-round convergence
    monkeypatch.setattr(canon, "DRIVER_CC_THRESHOLD", -1)
    pairs = [(f"c{i}", f"c{i+1}") for i in range(40)]
    df = spark.createDataFrame(pairs, schema="u string, v string")
    out = {r.id: r.canonical_id for r in connected_components(df).collect()}
    assert set(out.values()) == {"c0"}
    assert len(out) == 41


def test_self_loops_and_duplicates(spark):
    pairs = [("a", "a"), ("a", "b"), ("b", "a"), ("x", "y")]
    df = spark.createDataFrame(pairs, schema="u string, v string")
    out = {r.id: r.canonical_id for r in connected_components(df).collect()}
    assert out == {"a": "a", "b": "a", "x": "x", "y": "x"}


def test_compose_mapping_distributed_matches_local(spark, monkeypatch):
    """The generic window→CC path of ``compose_mapping`` (forced past the
    driver gate) equals the in-core ``compose_mapping_local`` on the
    corpus alias dictionary, plus a losing and a null-score candidate
    that must not union components."""
    from kgw_spark.sources.corpus import build_alias_dict

    rows = [(a, c, float(s)) for a, (c, s) in build_alias_dict(12).items()]
    rows += [("func:log", "func:other", 0.1), ("func:logger", "func:none", None)]
    alias_df = spark.createDataFrame(rows, "alias_id string, canonical_id string, score double")
    local = {r.id: r.canonical_id for r in canon.compose_mapping_local(spark, rows).collect()}
    monkeypatch.setattr(canon, "DRIVER_CC_THRESHOLD", -1)
    dist = {r.id: r.canonical_id for r in canon.compose_mapping(alias_df).collect()}
    assert dist == local
    assert local["func:helper0c"] == "func:helper0a" and "func:other" not in local


def test_pagerank_matches_python_replica_exactly(spark):
    """Integer-scaled PageRank is bit-identical between the distributed
    and pure-Python implementations (order-independent arithmetic) and
    ranks a sink hub above leaf nodes."""
    from kgw_spark.operators.pagerank import pagerank, pagerank_py

    edge_list = [
        ("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub"),
        ("hub", "a"), ("a", "b"), ("b", "c"), ("c", "d"),
    ]
    edges = spark.createDataFrame(
        [(u, "rel", v) for u, v in edge_list],
        "source_id string, type string, target_id string",
    )
    got = {r.id: r.rank_scaled for r in pagerank(edges, iters=6).collect()}
    exp = pagerank_py(edge_list, iters=6)
    assert got == exp
    assert got["hub"] == max(got.values())

def test_pagerank_scale_autoshrink_bounds_64bit(spark):
    """The overflow guard: worst-case in-mass product
    damping_num * N * scale stays under 2^63 — at the reference-CKG
    node count the default 10^12 shrinks, and the two engines shrink
    identically (parity at a forced-shrink configuration)."""
    from kgw_spark.operators.pagerank import (
        effective_scale,
        pagerank,
        pagerank_py,
    )

    assert effective_scale(100, 10**12, 85) == 10**12
    s = effective_scale(14_543_042, 10**12, 85)  # reference CKG nodes
    assert s < 10**12 and 85 * 14_543_042 * s < 2**63
    with pytest.raises(ValueError):
        effective_scale(2 * 10**17, 10**12, 85)

    edge_list = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")]
    edges = spark.createDataFrame(
        [(u, "rel", v) for u, v in edge_list],
        "source_id string, type string, target_id string",
    )
    # scale chosen so the guard must shrink it for this node count
    big = 10**18
    got = {r.id: r.rank_scaled for r in pagerank(edges, iters=4, scale=big).collect()}
    exp = pagerank_py(edge_list, iters=4, scale=big)
    assert got == exp
    assert max(got.values()) * 85 * 3 < 2**63


def test_min_label_propagation_matches_python(spark, monkeypatch):
    """min_label_propagation == the pure-Python replica on a hand graph
    with a hub, a chain, an isolated node, a self-loop, and duplicate/
    reversed edges, at every round count 1..4; with enough rounds the
    labels equal each component's minimum id."""
    from kgw_spark.operators import communities
    from kgw_spark.operators.communities import (
        label_propagation_py,
        min_label_propagation,
    )
    from kgw_spark.operators.pairs import canonical_pairs

    raw = [
        ("h", "a"), ("h", "b"), ("h", "c"),          # hub
        ("c", "d"), ("d", "e"), ("e", "f"),          # chain off the hub
        ("x", "y"), ("y", "x"), ("x", "x"),          # reversed dup + loop
        ("a", "h"),                                   # duplicate edge
    ]
    node_ids = sorted({n for e in raw for n in e} | {"iso"})
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id string")
    pairs = canonical_pairs(
        spark.createDataFrame(raw, "source_id string, target_id string")
    )
    for rounds in (1, 2, 3, 4):
        got = {
            r.id: r.label
            for r in min_label_propagation(nodes, pairs, rounds=rounds).collect()
        }
        assert got == label_propagation_py(node_ids, raw, rounds=rounds), rounds
    # convergence: 'f' is 5 undirected hops from 'a' (f-e-d-c-h-a), so
    # 5 rounds reach the fixpoint = per-component min id ('a'; 'x'; 'iso')
    got4 = {
        r.id: r.label
        for r in min_label_propagation(nodes, pairs, rounds=5).collect()
    }
    assert got4 == {
        "h": "a", "a": "a", "b": "a", "c": "a", "d": "a", "e": "a", "f": "a",
        "x": "x", "y": "x", "iso": "iso",
    }
    # far side of the node gate: the direct string aggregation with the
    # shuffled (non-broadcast) message join returns the same rows as
    # the default dictionary-encoded path checked above
    monkeypatch.setattr(communities, "_BCAST_MAX_NODES", 0)
    for rounds in (1, 3):
        got = {
            r.id: r.label
            for r in min_label_propagation(nodes, pairs, rounds=rounds).collect()
        }
        assert got == label_propagation_py(node_ids, raw, rounds=rounds), rounds
    import pytest as _pytest

    with _pytest.raises(ValueError):
        min_label_propagation(nodes, pairs, rounds=0)


def test_k_core_matches_python(spark, monkeypatch):
    """k_core == the pure-Python peeling replica on a hand graph with a
    4-clique, a pendant triangle, a chain, duplicate/reversed edges and
    a self-loop, for k = 1..5 — including k where the core is empty."""
    from kgw_spark.operators import kcore
    from kgw_spark.operators.kcore import k_core, k_core_py
    from kgw_spark.operators.pairs import canonical_pairs

    raw = [
        # 4-clique (the 3-core)
        ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
        # triangle hanging off the clique via one bridge (2-core part)
        ("d", "t1"), ("t1", "t2"), ("t2", "t3"), ("t3", "t1"),
        # chain (1-core only) + noise: dup, reversed dup, self-loop
        ("t3", "p"), ("p", "q"), ("b", "a"), ("a", "b"), ("q", "q"),
    ]
    pairs = canonical_pairs(
        spark.createDataFrame(raw, "source_id string, target_id string")
    )
    for k in (1, 2, 3, 4, 5):
        got = {r.id: r.degree for r in k_core(pairs, k=k).collect()}
        assert got == k_core_py(raw, k=k), k
    # spot-check the semantics: the 3-core is exactly the clique with
    # in-core degree 3 (the bridge to t1 does not count), the 4-core
    # is empty
    assert {r.id for r in k_core(pairs, k=3).collect()} == {"a", "b", "c", "d"}
    assert k_core(pairs, k=3).filter("degree != 3").count() == 0
    assert k_core(pairs, k=4).count() == 0
    # far side of the removed-set broadcast gate: past one peeled id
    # the pair list is compacted (anti-join rewrite, removed set reset)
    monkeypatch.setattr(kcore, "_BCAST_MAX_PEELED", 1)
    for k in (1, 2, 3, 4, 5):
        got = {r.id: r.degree for r in k_core(pairs, k=k).collect()}
        assert got == k_core_py(raw, k=k), k
    import pytest as _p

    with _p.raises(ValueError):
        k_core(pairs, k=0)


def test_label_prop_endpoints_covered_equivalence(spark):
    """endpoints_covered=True returns identical labels when the node
    frame really covers every edge endpoint."""
    from kgw_spark.operators.communities import min_label_propagation
    from kgw_spark.operators.pairs import canonical_pairs

    raw = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "y")]
    nodes = spark.createDataFrame(
        [(n,) for n in sorted({x for e in raw for x in e} | {"iso"})], "id string"
    )
    pairs = canonical_pairs(
        spark.createDataFrame(raw, "source_id string, target_id string")
    )
    for rounds in (1, 3):
        a = {
            r.id: r.label
            for r in min_label_propagation(
                nodes, pairs, rounds=rounds, endpoints_covered=True
            ).collect()
        }
        b = {
            r.id: r.label
            for r in min_label_propagation(nodes, pairs, rounds=rounds).collect()
        }
        assert a == b, rounds
