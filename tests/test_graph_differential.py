"""Graph operators vs their pure-Python replicas on adversarial small
graphs: every undirected operator reads ``canonical_pairs`` of the raw
edges, pagerank and connected components read the raw directed edges,
and each result must equal the replica computed from the raw edge
list — on the in-core path below the driver budget, on the
distributed rounds past it, and on those rounds with every node-keyed
state shuffled instead of broadcast (past ``pairs.BCAST_MAX_IDS``,
which also compacts k-core's pair list every round)."""

import itertools
import json
import os
import random
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, _parse_datatype_string

from kgw_spark.operators import canon, incore
from kgw_spark.operators import pairs as pair_list
from kgw_spark.operators.communities import label_propagation_py, min_label_propagation
from kgw_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash_near_pairs
from kgw_spark.operators.kcore import k_core, k_core_py
from kgw_spark.operators.linkpred import common_neighbors, common_neighbors_py
from kgw_spark.operators.pagerank import pagerank, pagerank_py
from kgw_spark.operators.pairs import canonical_pairs
from kgw_spark.operators.similarity import cosine_near_pairs
from kgw_spark.operators.triangles import triangle_count
from kgw_spark.plans.analytics import k_hop
from kgw_spark.session import get_spark, local_df
from tests.test_near_dup_differential import DOCS, _near_copies, _vectors

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
    # a hub above every common-neighbors cap the tests pass: the wedges
    # through it do not count, those through "t" (degree 2) do
    "star_over_cap": ([("h", f"s{i}") for i in range(40)] + [("s0", "t"), ("s1", "t")], []),
    "isolated_nodes": ([("b", "c"), ("c", "d"), ("d", "b")], ["a", "z"]),
    "two_components": (
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "e"),
         ("w", "x"), ("x", "y"), ("y", "z"), ("z", "w"), ("w", "y")],
        [],
    ),
}


def _random_graph(seed, n_nodes=200, n_edges=600, n_isolated=10):
    """Seeded random multigraph: uniform endpoint picks (self-loops by
    chance), then extra exact and reversed duplicates and self-loops;
    the last ``n_isolated`` ids have no edge. Id prefixes mix case and
    non-ASCII, and ids are not zero-padded, so string order is not
    numeric order."""
    rng = random.Random(seed)
    ids = [f"{rng.choice('aZé')}{i}" for i in range(n_nodes)]
    wired = ids[: n_nodes - n_isolated]
    raw = [(rng.choice(wired), rng.choice(wired)) for _ in range(n_edges)]
    raw += rng.sample(raw, 20) + [(v, u) for u, v in rng.sample(raw, 20)]
    raw += [(n, n) for n in rng.sample(wired, 5)]
    return raw, ids[n_nodes - n_isolated:]


GRAPHS.update({f"random_{seed}": _random_graph(seed) for seed in (1, 2, 3)})

# every operator's output schema, the same on both paths
SCHEMAS = {
    "k_core": "id string, degree bigint not null",
    "label_prop": "id string, label string",
    "k_hop": "id string, hop int",
    "pagerank": "id string, rank_scaled bigint",
    "connected_components": "id string, canonical_id string",
    "triangles": "n_edges bigint not null, n_wedges bigint not null, n_triangles bigint not null",
    "common_neighbors": "u string not null, v string not null, n_common bigint not null",
}

# a pair with a null id unions nothing: the distributed path's u != v
# filter drops it, and the in-core path hands it to the distributed one
NULL_IDS = [("a", "b"), ("b", None), (None, "c"), ("c", "d"), (None, None), ("e", "e")]


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


def _frames(spark, name):
    raw, isolated = GRAPHS[name]
    node_ids = sorted({n for e in raw for n in e} | set(isolated))
    edges = spark.createDataFrame(raw, "source_id string, target_id string")
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id string")
    return raw, node_ids, edges, nodes, canonical_pairs(edges)


@pytest.mark.parametrize("path", ["in_core", "distributed", "shuffled"])
@pytest.mark.parametrize("name", list(GRAPHS))
def test_operators_match_replicas(spark, monkeypatch, name, path):
    raw, node_ids, edges, nodes, pairs = _frames(spark, name)
    if path != "in_core":
        monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    if path == "shuffled":
        monkeypatch.setattr(pair_list, "BCAST_MAX_IDS", -1)

    def rows(op, df):
        assert df.schema == _parse_datatype_string(SCHEMAS[op]), op
        return df.collect()

    for k in (1, 2, 3):
        got = {r.id: r.degree for r in rows("k_core", k_core(pairs, k=k))}
        assert got == k_core_py(raw, k=k), k
    for rounds in (1, 3):
        labels = rows("label_prop", min_label_propagation(nodes, pairs, rounds=rounds))
        got = {r.id: r.label for r in labels}
        assert got == label_propagation_py(node_ids, raw, rounds=rounds), rounds
    for cap in (3, 32):
        cn = rows("common_neighbors", common_neighbors(pairs, deg_cap=cap, top=10))
        assert [tuple(r) for r in cn] == common_neighbors_py(raw, deg_cap=cap, top=10), cap
    # the first node id (isolated in some graphs) and an edge endpoint
    starts = {node_ids[0] if node_ids else "a"} | {u for u, _ in raw[:1]}
    for start in sorted(starts):
        got = {r.id: r.hop for r in rows("k_hop", k_hop(pairs, start, k=2))}
        assert got == _bfs_py(raw, start, 2), start
    assert tuple(rows("triangles", triangle_count(pairs))[0]) == _triangles_py(raw)
    got = {r.id: r.rank_scaled for r in rows("pagerank", pagerank(edges, iters=4))}
    assert got == pagerank_py(raw, iters=4)


@pytest.mark.parametrize("path", ["in_core", "distributed"])
def test_triangle_count_int_ids(spark, monkeypatch, path):
    """Integer ids whose numeric order is not their string order (2 <
    9 < 10 < 100): the in-core codes must orient by the numeric (degree,
    id) order, as the distributed joins do."""
    if path != "in_core":
        monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    k4 = [(a, b) for a, b in itertools.combinations((2, 9, 10, 100), 2)]
    raw = k4 + [(100, 2), (9, 9), (10, 7), (7, 3), (3, 10)]
    df = spark.createDataFrame(raw, "a int, b int")
    out = triangle_count(canonical_pairs(df, "a", "b"))
    assert out.schema == _parse_datatype_string(SCHEMAS["triangles"])
    assert tuple(out.first()) == _triangles_py(raw) == (9, 5, 5)


@pytest.mark.parametrize("ids", ["string", "int"])
def test_triangles_over_driver_resident_pairs(spark, tmp_path, ids):
    """A LocalRelation pair list (the in-core MinHash pairs' shape) is
    made canonical on the driver: ``canonical_pairs`` and
    ``triangle_count`` over it equal the same calls over a parquet-backed
    copy, rows and schema, and together run at most one Spark job."""
    if ids == "string":
        raw = GRAPHS["random_1"][0] + [("a0", None), (None, None)]
    else:
        raw = [(a, b) for a, b in itertools.combinations((2, 9, 10, 100), 2)]
        raw += [(100, 2), (9, 9), (10, 7), (7, 3), (3, 10)]
    local = local_df(spark, raw, f"a {ids}, b {ids}")
    local.write.parquet(str(tmp_path / "pairs"))
    stored = spark.read.parquet(str(tmp_path / "pairs"))

    def rows(df):
        return df.schema, sorted(df.collect())

    assert rows(canonical_pairs(local, "a", "b")) == rows(canonical_pairs(stored, "a", "b"))
    sc, group = spark.sparkContext, f"driver_resident_triangles_{ids}"
    sc.setJobGroup(group, group)
    try:
        got = rows(triangle_count(canonical_pairs(local, "a", "b")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    assert got == rows(triangle_count(canonical_pairs(stored, "a", "b")))
    assert got[1][0] == _triangles_py([e for e in raw if None not in e])


@pytest.mark.parametrize("name", ["random_1", "random_2", "random_3"])
def test_compose_mapping_past_the_gate_matches_local(spark, monkeypatch, name):
    """``compose_mapping``'s window→CC path (forced past the driver gate)
    equals ``compose_mapping_local`` on the seeded random graphs read as
    alias rows, with seeded scores that tie and go null."""
    rng = random.Random(int(name[-1]))
    rows = [(a, c, rng.choice([0.2, 0.5, 0.9, None])) for a, c in GRAPHS[name][0]]
    local = canon.compose_mapping_local(spark, rows, pa.string())
    local = {r.id: r.canonical_id for r in local.collect()}
    monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    alias_df = spark.createDataFrame(rows, "alias_id string, canonical_id string, score double")
    dist = {r.id: r.canonical_id for r in canon.compose_mapping(alias_df).collect()}
    assert dist == local and len(set(local.values())) > 1


def test_in_core_operators_run_at_most_two_jobs(spark):
    """Below the driver budget each iterative operator and each
    near-duplicate candidate search costs ONE collect — at most 2 Spark
    jobs (AQE may split it into a shuffle-map job and a result job),
    whatever its round, band or probe count — and its result is read
    without another job. ``canon.compose_mapping`` reads an alias frame
    held on the driver with no job, and any other through the same
    collect."""
    raw, node_ids, edges, nodes, pairs = _frames(spark, "random_1")
    docs = spark.createDataFrame(DOCS["near_copies"][1], "doc_id bigint, text string")
    emb = spark.createDataFrame(_vectors(5), "vec_id bigint, embedding array<float>")
    alias = [(a, c, 0.5) for a, c in raw]
    ddl = "alias_id string, canonical_id string, score double"
    alias_df, held_alias = spark.createDataFrame(alias, ddl), local_df(spark, alias, ddl)
    calls = {
        "k_core": lambda: k_core(pairs, k=3),
        "label_prop": lambda: min_label_propagation(nodes, pairs, rounds=3),
        "pagerank": lambda: pagerank(edges, iters=4),
        "k_hop": lambda: k_hop(pairs, raw[0][0], k=2),
        "connected_components": lambda: canon.connected_components(pairs),
        "triangle_count": lambda: triangle_count(pairs),
        "common_neighbors": lambda: common_neighbors(pairs, deg_cap=3, top=10),
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(docs, threshold=0.2),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(docs, threshold=0.2),
        "simhash_near_pairs": lambda: simhash_near_pairs(docs),
        "cosine_near_pairs": lambda: cosine_near_pairs(emb, threshold=0.85),
        "compose_mapping": lambda: canon.compose_mapping(alias_df),
        "compose_mapping_held": lambda: canon.compose_mapping(held_alias),
    }
    sc = spark.sparkContext
    jobs = {}
    for op, call in calls.items():
        group = f"in_core_jobs_{op}"
        sc.setJobGroup(group, group)
        try:
            assert call().collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[op] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs.pop("compose_mapping_held") == 0
    assert all(0 < n <= 2 for n in jobs.values()), jobs


@pytest.mark.parametrize("ids", ["string", "int"])
@pytest.mark.parametrize("name", ["star_over_cap", "isolated_nodes", "random_1"])
def test_paths_agree_on_id_type(spark, monkeypatch, name, ids):
    """Every graph operator over string and over integer ids returns the
    same rows and schema — names, types, nullability — in-core as on the
    distributed plan: integer ids stay integers on both paths. The
    integers are a seeded shuffle, so their order is not the names'."""
    raw, isolated = GRAPHS[name]
    if ids == "int":
        names = sorted({n for e in raw for n in e} | set(isolated))
        num = dict(zip(names, random.Random(0).sample(range(10**6), len(names))))
        raw, isolated = [(num[u], num[v]) for u, v in raw], [num[n] for n in isolated]
    node_ids = sorted({n for e in raw for n in e} | set(isolated))
    edges = spark.createDataFrame(raw, f"source_id {ids}, target_id {ids}")
    nodes = spark.createDataFrame([(n,) for n in node_ids], f"id {ids}")
    pairs = canonical_pairs(edges)
    calls = {
        "k_core": lambda: k_core(pairs, k=2),
        "label_prop": lambda: min_label_propagation(nodes, pairs, rounds=3),
        "pagerank": lambda: pagerank(edges, iters=4),
        "k_hop": lambda: k_hop(pairs, raw[0][0], k=2),
        "connected_components": lambda: canon.connected_components(pairs),
        "triangles": lambda: triangle_count(pairs),
        "common_neighbors": lambda: common_neighbors(pairs, deg_cap=3, top=10),
    }
    for op, call in calls.items():
        df = call()
        assert incore.held_on_driver(df), op
        in_core = df.schema, sorted(df.collect())
        with monkeypatch.context() as m:
            m.setattr(incore, "DRIVER_MAX_ROWS", -1)
            df = call()
            assert (df.schema, sorted(df.collect())) == in_core, op
        assert in_core[0] == _parse_datatype_string(SCHEMAS[op].replace("string", ids)), op


# a spark.driver.maxResultSize that every job of the distributed plans
# fits (broadcasts are off) and the collects of the byte-veto inputs
# (over 100 KB each) do not
MAX_RESULT_SIZE = 32 * 1024


def _veto_calls(spark):
    """op -> the call whose collect passes ``MAX_RESULT_SIZE`` (k-core
    on 20× the ``random_1`` graph, n-gram Jaccard on 40× the
    ``near_copies`` documents), and ``"small"``, n-gram Jaccard on
    ``near_copies`` itself, whose collect fits it."""
    raw, _ = _random_graph(1, n_nodes=4000, n_edges=12000)
    pairs = canonical_pairs(spark.createDataFrame(raw, "source_id string, target_id string"))
    ddl = "doc_id bigint, text string"
    docs = spark.createDataFrame(_near_copies(1, n=960), ddl)
    small = spark.createDataFrame(DOCS["near_copies"][1], ddl)
    return {
        "k_core": lambda: k_core(pairs, k=2),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(docs, threshold=0.2),
        "small": lambda: ngram_jaccard_pairs(small, threshold=0.2),
    }


def _past_max_result_size(out: str):
    """The child process of the collect-veto tests, in a session whose
    ``spark.driver.maxResultSize`` is ``MAX_RESULT_SIZE``: writes to
    ``out`` each veto call's result (parquet), its schema, whether it is
    held on the driver and how many ``toArrow()`` collects it ran — the
    big inputs as they are, ``small`` under a ``DRIVER_MAX_BYTES`` below
    that size — and what a collect failing on ``raise_error`` raised."""
    spark = get_spark(
        cores=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.maxResultSize": str(MAX_RESULT_SIZE),
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    pair_list.BCAST_MAX_IDS = -1
    frame = type(spark.range(1))
    to_arrow, collects = frame.toArrow, []
    frame.toArrow = lambda self: collects.append(1) or to_arrow(self)
    meta, budget = {}, incore.DRIVER_MAX_BYTES
    for op, call in _veto_calls(spark).items():
        incore.DRIVER_MAX_BYTES = MAX_RESULT_SIZE - 1 if op == "small" else budget
        collects.clear()
        df = call()
        meta[op] = {"held": incore.held_on_driver(df), "collects": len(collects)}
        meta[op]["schema"] = df.schema.json()
        df.write.parquet(f"{out}/{op}")
    incore.DRIVER_MAX_BYTES = budget
    try:
        incore._collect(spark.range(3).select("id", F.raise_error(F.lit("boom")).alias("x")), "id")
        meta["raised"] = None
    except Exception as e:  # noqa: BLE001 - the message is the subject
        meta["raised"] = str(e)
    with open(f"{out}/meta.json", "w") as f:
        json.dump(meta, f)


@pytest.fixture(scope="module")
def past_max_result_size(tmp_path_factory):
    """``(out, meta)`` of ONE child process running
    ``_past_max_result_size``: the context's maxResultSize is fixed when
    it starts, and the suite's shared session keeps the default."""
    out = tmp_path_factory.mktemp("max_result_size")
    root = Path(__file__).resolve().parent.parent
    code = "import sys; from tests.test_graph_differential import _past_max_result_size; "
    code += "_past_max_result_size(sys.argv[1])"
    env = {**os.environ, "PYTHONPATH": str(root)}
    cmd = [sys.executable, "-c", code, str(out)]
    subprocess.run(cmd, env=env, cwd=root, check=True, timeout=900)
    return out, json.loads((out / "meta.json").read_text())


def _matches_default(spark, past_max_result_size, op):
    """The child's ``op`` result has the default run's rows and schema;
    the default run is in-core, in the suite's session."""
    out, meta = past_max_result_size
    df = _veto_calls(spark)[op]()
    assert incore.held_on_driver(df)
    got = spark.read.parquet(str(out / op)).select(*df.columns).collect()
    assert StructType.fromJson(json.loads(meta[op]["schema"])) == df.schema
    assert sorted(got) == sorted(df.collect())


@pytest.mark.parametrize("op", ["k_core", "ngram_jaccard_pairs"])
def test_collect_byte_veto_matches_default(spark, past_max_result_size, op):
    """A collect past ``spark.driver.maxResultSize`` (Spark's own byte
    veto, which aborts it) hands back to the operator's distributed
    plan, with the default run's rows and schema."""
    meta = past_max_result_size[1][op]
    assert meta["collects"] == 1 and not meta["held"]
    _matches_default(spark, past_max_result_size, op)


def test_collect_byte_budget_below_max_result_size(spark, past_max_result_size):
    """A ``DRIVER_MAX_BYTES`` below the context's maxResultSize collects
    nothing: the operator runs its distributed plan, with the default
    run's rows and schema."""
    meta = past_max_result_size[1]["small"]
    assert meta["collects"] == 0 and not meta["held"]
    _matches_default(spark, past_max_result_size, "small")


def test_collect_failure_raises(past_max_result_size):
    """A collect that fails for any reason but its size raises; it does
    not fall back to the distributed plan."""
    raised = past_max_result_size[1]["raised"]
    assert raised is not None and "boom" in raised


def test_candidate_count_veto_matches_default(spark, monkeypatch):
    """A dense graph whose pair list is collected but whose wedge count
    does not fit a byte budget (``_fits_pairs``): common neighbors hands back
    to the distributed plan, with the default run's rows and schema.
    K(10,10) has 100 pairs and 900 wedges, 14.4 KB at two int64 codes
    each: past an 8,000-B budget."""
    raw = [(f"a{i}", f"b{j}") for i in range(10) for j in range(10)]
    pairs = canonical_pairs(spark.createDataFrame(raw, "source_id string, target_id string"))
    df = common_neighbors(pairs, deg_cap=32, top=10)
    assert incore.held_on_driver(df)
    default = df.schema, sorted(df.collect())
    assert len(default[1]) == 10 and {r.n_common for r in default[1]} == {10}
    fits = []
    fits_pairs = incore._fits_pairs

    def spy(n_pairs):
        # an 8,000-B budget for the candidates only; the pair list is
        # collected under the context's
        with monkeypatch.context() as m:
            m.setattr(incore, "DRIVER_MAX_BYTES", 8_000)
            fits.append(fits_pairs(n_pairs))
        return fits[-1]

    monkeypatch.setattr(incore, "_fits_pairs", spy)
    df = common_neighbors(pairs, deg_cap=32, top=10)
    # the pair list was collected, so the wedge count was checked
    assert fits == [False]
    assert not incore.held_on_driver(df)
    assert (df.schema, sorted(df.collect())) == default


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize("name", [*GRAPHS, "null_ids"])
def test_connected_components_match_replica(spark, monkeypatch, name, path):
    raw = NULL_IDS if name == "null_ids" else GRAPHS[name][0]
    if path == "distributed":
        monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    pairs = spark.createDataFrame(raw, "u string, v string")
    out = canon.connected_components(pairs)
    assert out.schema == _parse_datatype_string(SCHEMAS["connected_components"])
    got = {r.id: r.canonical_id for r in out.collect()}
    assert got == _components_py([e for e in raw if None not in e])
