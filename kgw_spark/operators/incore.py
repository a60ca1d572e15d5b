"""In-core kernels below one driver-budget gate.

The graph operators (``canon.connected_components``, ``kcore.k_core``,
``communities.min_label_propagation``, ``pagerank.pagerank``,
``analytics.k_hop``, ``triangles.triangle_count``,
``linkpred.common_neighbors``) and the near-duplicate searches
(``dedup.minhash_lsh_pairs``, ``dedup.ngram_jaccard_pairs``,
``similarity.cosine_near_pairs``) spend their time on small inputs
planning, code-generating and scheduling one Spark job after another,
not computing: every round or join is a handful of jobs over data that
a single driver process holds in a few MB.

The gate (``fits_driver``) is ONE parallel aggregate bounding rows AND
bytes of what the driver is about to collect. Under it the input
arrives in one Arrow collect, ``pd.factorize(sort=True)`` turns the ids
into order-preserving int64 codes (Python string order is code-point
order, which is UTF-8 byte order, which is Spark's binary string order
— so a min over codes is the min over strings, and ``a < b`` over codes
is ``a < b`` over ids), and a vectorized numpy kernel runs every round
on the codes. Each kernel returns a LocalRelation (``session.local_df``
of a pyarrow Table) with the operator's distributed schema, so callers
see the same frame either way. Past the gate the operator runs its
distributed plan unchanged. ``canon.compose_mapping_local`` feeds its
driver-resident alias pairs to the same components kernel, skipping the
gate and the collect.

The pair kernels run the SAME algorithm as their distributed plans
(same hashes, bands, planes, probes and caps; no brute force), group by
sorting (a band, bucket or shingle self-join is a hash join; sorted
runs are its in-core form), and count the candidate pairs from the
group sizes before expanding them: past ``DRIVER_MAX_BYTES`` at two
int64 codes per pair they hand back to the distributed plan. Common
neighbors and n-gram Jaccard share one kernel, ``_pair_counts``: the
pairs within groups (wedges through a middle node of degree ≤ cap;
documents sharing a shingle of document frequency in [2, cap]) and how
many groups each pair shares. The kernels return integer counts or raw
cosines only; the rounding and the threshold stay in the operators'
Spark expressions, applied over the LocalRelation.

The graph kernels are independent of the pure-Python ``*_py`` replicas,
which stay the tests' oracles for both paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    return _fits(df, F.count(F.lit(1)), F.sum(F.length(a) + F.length(b)))


def _fits(df: DataFrame, n: Column, nbytes: Column) -> bool:
    """``fits_driver`` over any collected shape, in ONE aggregate: ``n``
    counts the collected values (the rows of an id list, the shingles of
    the documents) and ``nbytes`` sums their payload bytes; each value
    adds a fixed 48 B. A frame ``held_on_driver`` fits with no job."""
    if held_on_driver(df):
        return True
    st = df.agg(n.alias("n"), nbytes.alias("b")).collect()[0]
    n = st["n"] or 0
    return n <= DRIVER_MAX_ROWS and (st["b"] or 0) + 48 * n <= DRIVER_MAX_BYTES


def held_on_driver(df: DataFrame) -> bool:
    """Whether ``df`` optimizes to a LocalRelation of at most
    ``DRIVER_MAX_ROWS`` rows — the in-core kernels' own output, after
    any deterministic projection or filter (Catalyst folds those into
    the relation). Its rows are already in driver memory, so the budget
    aggregate would cost 2 jobs to bound what is already held, where
    ``collect()`` costs none. Reads the plan only: no job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return (
        plan.getClass().getSimpleName() == "LocalRelation"
        and plan.data().size() <= DRIVER_MAX_ROWS
    )


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


def pagerank(edges: DataFrame, iters: int, scale: int) -> DataFrame | None:
    """``pagerank.pagerank`` in-core, in the same exact int64
    arithmetic: per edge ``rank(u) // out_degree(u)`` summed into the
    target by ``np.add.at`` (integer adds, never float ``bincount``
    weights), then ``teleport + (num * sum) // den``. ``effective_scale``
    bounds ``num * sum`` below 2^63, so no int64 op can wrap. None past
    the driver budget."""
    from kgw_spark.operators.pagerank import DAMPING_DEN, DAMPING_NUM, effective_scale

    got = _collect_codes(edges, "source_id", "target_id")
    if got is None:
        return None
    src, dst, ids = got
    n = len(ids)
    scale = effective_scale(n, scale, DAMPING_NUM)
    teleport = ((DAMPING_DEN - DAMPING_NUM) * scale) // DAMPING_DEN
    src_deg = np.bincount(src, minlength=n)[src]
    ranks = np.full(n, scale, np.int64)
    for _ in range(iters):
        sums = np.zeros(n, np.int64)
        np.add.at(sums, dst, ranks[src] // src_deg)
        ranks = teleport + (DAMPING_NUM * sums) // DAMPING_DEN
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


# --------------------------------------------------------------------------
# pair kernels: triangles and near-duplicate candidates, as sorted runs
# --------------------------------------------------------------------------
def _runs(keys):
    """Sort the rows of the 2-D int array ``keys``: ``(order, end)``,
    where ``order`` lists the row indices in key order (stable) and
    ``end[p]`` is one past the last sorted position of the run of equal
    keys that holds sorted position ``p``."""
    order = np.lexsort(keys.T[::-1])
    s = keys[order]
    first = np.ones(len(s), bool)
    first[1:] = (s[1:] != s[:-1]).any(axis=1)
    starts = np.flatnonzero(first)
    sizes = np.diff(np.append(starts, len(s)))
    return order, np.repeat(starts + sizes, sizes)


def _run_partners(end):
    """The later positions of each sorted position's run — its pair
    partners; their sum is ΣC(g, 2) over the runs."""
    return end - np.arange(len(end)) - 1


def _spans(lengths):
    """``(rep, k)`` enumerating ``k = 0 .. lengths[i] - 1`` for every
    ``i`` (``rep`` holds the ``i``): the one vectorized expansion behind
    every candidate list, so no Python loop runs per pair."""
    lengths = np.asarray(lengths, np.int64)
    rep = np.repeat(np.arange(len(lengths)), lengths)
    k = np.arange(len(rep)) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    return rep, k


def _pairs_within(order, end):
    """Every unordered pair of rows sharing a run of ``_runs``, as two
    row-index arrays."""
    p, k = _spans(_run_partners(end))
    return order[p], order[p + 1 + k]


def _distinct_pairs(parts, n: int):
    """``(lo, hi)``, ``lo < hi``: the distinct unordered code pairs among
    the ``(i, j)`` row-index array pairs of ``parts`` (codes below
    ``n``), in code order."""
    none = np.empty(0, np.int64)
    i = np.concatenate([p[0] for p in parts] + [none])
    j = np.concatenate([p[1] for p in parts] + [none])
    key = np.unique(np.minimum(i, j) * n + np.maximum(i, j))
    return key // n, key % n


def _fits_pairs(n_pairs: int) -> bool:
    """Whether ``n_pairs`` candidates, two int64 codes each, fit
    ``DRIVER_MAX_BYTES`` — checked on the counts from the group sizes,
    before any pair is expanded."""
    return 16 * n_pairs <= DRIVER_MAX_BYTES


def _pair_counts(groups, members, n: int):
    """Count the pairs within groups: ``(lo, hi, count)`` for every
    distinct pair of member codes (below ``n``) that share a group —
    ``groups[i]`` is the group of ``members[i]`` — with ``lo < hi`` in
    code order and the number of groups holding both. None when the
    pairs, bounded by ΣC(size, 2) over the group sizes before any is
    expanded, do not fit ``DRIVER_MAX_BYTES``."""
    order, end = _runs(groups[:, None])
    if not _fits_pairs(int(_run_partners(end).sum())):
        return None
    i, j = _pairs_within(order, end)
    a, b = members[i], members[j]
    key, count = np.unique(np.minimum(a, b) * n + np.maximum(a, b), return_counts=True)
    return key // n, key % n, count


def _chunks(weights):
    """Consecutive slices over ``weights`` of at most 2^22 total weight
    each (a heavier single item gets a slice of its own): the verify
    passes expand one chunk of candidates at a time, a few tens of MB."""
    cum = np.cumsum(weights)
    i = 0
    while i < len(cum):
        base = cum[i - 1] if i else 0
        j = max(int(np.searchsorted(cum, base + (1 << 22), side="right")), i + 1)
        yield slice(i, j)
        i = j


def _may_pass(x, threshold: float):
    """The raw values that may still pass the operator's Spark filter
    ``round(x, 6) >= threshold``: rounding moves a value by at most
    5e-7. NaN never passes: the distributed verify's pandas UDF hands a
    NaN cosine (a zero vector's) to Spark as null, which fails the
    filter. The rounding and the filter themselves stay in Spark."""
    return x >= threshold - 1e-6


def orderable(df: DataFrame, *cols: str) -> bool:
    """Whether the columns ``cols`` of ``df`` (default ``id``) order the
    same in numpy and Python as in Spark: integral, or strings in the
    default (binary, code-point) collation."""
    return all(
        isinstance(t, T.IntegralType) or t == T.StringType()
        for t in (df.schema[c].dataType for c in cols or ("id",))
    )


def _id_codes(ids: pa.Array, rows):
    """``(codes, first)`` for the non-null ids ``ids[rows]``:
    order-preserving codes (``codes[i]`` of ``ids[rows[i]]``), and
    ``first[c]``, the row holding code ``c``. None if an id repeats."""
    codes, uniq = pd.factorize(ids.take(rows).to_numpy(zero_copy_only=False), sort=True)
    if len(uniq) < len(rows):
        return None
    first = np.empty(len(uniq), np.int64)
    first[codes] = rows
    return codes, first


def _pair_frame(df: DataFrame, ids: pa.Array, first, lo, hi, cols: dict, ddl: str):
    """The LocalRelation ``(a, b, *cols)`` of the code pairs ``(lo, hi)``,
    ``a`` and ``b`` typed (and nullable) as ``df``'s ``id``."""
    f = df.schema["id"]
    t = f.dataType.simpleString() + ("" if f.nullable else " not null")
    out = pa.table({"a": ids.take(first[lo]), "b": ids.take(first[hi]), **cols})
    return local_df(df.sparkSession, out, f"a {t}, b {t}, {ddl}")


def triangle_count(pairs: DataFrame) -> DataFrame | None:
    """``triangles.triangle_count`` in-core: the same (degree, id)
    orientation over the codes (code order is id order), each wedge a
    pair of out-arcs of one node (a run of equal sources), closed by a
    sorted lookup of the pair keys. None past the driver budget: the
    pair list, or its wedge count."""
    got = _collect_codes(pairs, "u", "v")
    if got is None:
        return None
    u, v, ids = got
    n = max(len(ids), 1)
    deg = np.bincount(u, minlength=n) + np.bincount(v, minlength=n)
    lower_first = (deg[u] < deg[v]) | ((deg[u] == deg[v]) & (u < v))
    src, dst = np.where(lower_first, u, v), np.where(lower_first, v, u)
    order, end = _runs(src[:, None])
    n_wedges = int(_run_partners(end).sum())
    if not _fits_pairs(n_wedges):
        return None
    i, j = _pairs_within(order, end)
    b1, b2 = dst[i], dst[j]
    closing = np.sort(u * n + v)
    wedge = np.minimum(b1, b2) * n + np.maximum(b1, b2)
    at = np.minimum(np.searchsorted(closing, wedge), len(closing) - 1)
    out = pa.table(
        {
            "n_edges": [len(u)],
            "n_wedges": [n_wedges],
            "n_triangles": [int((closing[at] == wedge).sum())],
        }
    )
    return local_df(
        pairs.sparkSession,
        out,
        "n_edges bigint not null, n_wedges bigint not null, n_triangles bigint not null",
    )


def common_neighbors(pairs: DataFrame, deg_cap: int, top: int) -> DataFrame | None:
    """``linkpred.common_neighbors`` in-core: the wedges through every
    middle node of degree ≤ ``deg_cap`` are the pairs within its
    neighbor group (``_pair_counts`` over both arc directions); adjacent
    pairs drop out by a sorted lookup of the ``(u, v)`` keys, and the
    top ``top`` rows by ``(n_common desc, u, v)`` are cut in code order,
    which is id order. ``u`` and ``v`` keep the input's types and are
    not null, as on the distributed plan (whose pairs come out of
    ``collect_list`` arrays, which hold no null). None past the driver
    budget (the pair list, or its wedge count), and for ids without a
    numpy order."""
    if not orderable(pairs, "u", "v"):
        return None
    got = _collect_codes(pairs, "u", "v")
    if got is None:
        return None
    u, v, ids = got
    n = max(len(ids), 1)
    x, y = _both_ways(u, v)
    low = np.bincount(x, minlength=n)[x] <= deg_cap
    counted = _pair_counts(x[low], y[low], n)
    if counted is None:
        return None
    lo, hi, count = counted
    adjacent = np.sort(u * n + v)
    key = lo * n + hi
    at = np.minimum(np.searchsorted(adjacent, key), len(adjacent) - 1)
    keep = np.flatnonzero(adjacent[at] != key)
    cut = keep[np.lexsort((hi[keep], lo[keep], -count[keep]))[:top]]
    out = pa.table({"u": ids[lo[cut]], "v": ids[hi[cut]], "n_common": count[cut]})
    t = {c: pairs.schema[c].dataType.simpleString() + " not null" for c in ("u", "v")}
    return local_df(pairs.sparkSession, out, f"u {t['u']}, v {t['v']}, n_common bigint not null")


def _collect_shingle_sets(grams: DataFrame):
    """The shared prep of the shingle kernels over ``grams`` = ``(id,
    shingles, ...)``, each document's distinct shingles: the gate on
    the shingle count and bytes, ONE Arrow collect, order-preserving
    codes of the documents that have an id and a shingle, and
    dictionary codes of the shingle strings. Returns ``(tbl, ids, first,
    lens, d, s)``: the collected table, its id column, the row of each
    document code, the shingle count of each row, and per collected
    shingle (row by row) its document code (-1 in a row without an id)
    and its shingle code. None past the driver budget, for an id
    without a numpy order, and for a repeated id, whose shingle sets
    the distributed plans merge."""
    if not orderable(grams) or not _fits(
        grams,
        F.sum(F.size("shingles")),
        F.sum(F.aggregate("shingles", F.lit(0), lambda acc, s: acc + F.length(s) + 8)),
    ):
        return None
    tbl = grams.toArrow()
    ids = tbl.column("id").combine_chunks()
    sh = tbl.column("shingles").combine_chunks()
    lens = pc.fill_null(pc.list_value_length(sh), 0).to_numpy().astype(np.int64)
    rows = np.flatnonzero((lens > 0) & ids.is_valid().to_numpy(zero_copy_only=False))
    got = _id_codes(ids, rows)
    if got is None:
        return None
    codes, first = got
    doc_of_row = np.full(len(lens), -1)
    doc_of_row[rows] = codes
    s = sh.flatten().dictionary_encode().indices.to_numpy(zero_copy_only=False)
    return tbl, ids, first, lens, np.repeat(doc_of_row, lens), s.astype(np.int64)


def minhash_lsh_pairs(
    grams: DataFrame, coeffs, rows_per_band: int, threshold: float
) -> DataFrame | None:
    """``dedup.minhash_lsh_pairs`` in-core over ``grams`` = ``(id,
    shingles, h)``: each document's distinct shingles and their
    JVM-side base hashes (Python has no xxhash64). Returns the verified
    candidates ``(a, b, common, size_a, size_b)``, ``a < b``, whose
    Jaccard may pass ``threshold``; the operator rounds and filters
    them in Spark.

    The distributed algorithm on the driver: the minimum over each
    document's shingles of ``(h·a + b) mod M`` per permutation
    (``np.minimum.reduceat``); documents collide in a band when its
    ``rows_per_band`` signature values are equal (the distributed plan
    joins on their xxhash64, which differs only on a 64-bit collision);
    each colliding pair is verified by its exact shingle overlap, over
    dictionary codes of the shingle strings. A document without a
    shingle or an id has no signature and never pairs. None where
    ``_collect_shingle_sets`` is, and past the candidate count."""
    from kgw_spark.operators.dedup import _MERSENNE

    got = _collect_shingle_sets(grams)
    if got is None:
        return None
    tbl, ids, first, lens, d, s = got
    h = tbl.column("h").combine_chunks().flatten().to_numpy(zero_copy_only=False)
    # signatures over every row with a shingle (reduceat needs the rows
    # in order), then each document code's row
    filled = np.flatnonzero(lens > 0)
    sig = np.empty((len(filled), len(coeffs)), np.int64)
    if len(filled):
        starts = (np.cumsum(lens) - lens)[filled]
        for p, (a, b) in enumerate(coeffs):
            sig[:, p] = np.minimum.reduceat((h * a + b) % _MERSENNE, starts)
    sig = sig[np.searchsorted(filled, first)]
    n = max(len(first), 1)

    bands = [
        _runs(sig[:, c : c + rows_per_band]) for c in range(0, sig.shape[1], rows_per_band)
    ]
    if not _fits_pairs(sum(int(_run_partners(end).sum()) for _, end in bands)):
        return None
    lo, hi = _distinct_pairs([_pairs_within(o, e) for o, e in bands], n)

    # every document's shingle codes as ONE sorted (doc, shingle) key
    # list: doc d's keys are keys[start[d] : start[d] + size[d]]
    named = d >= 0
    m = int(s.max()) + 1 if len(s) else 1
    keys = np.sort(d[named] * m + s[named])
    size = np.bincount(d[named], minlength=n)
    start = np.cumsum(size) - size
    # walk the smaller shingle set of each pair, looking each shingle up
    # in the other document's keys
    x = np.where(size[lo] <= size[hi], lo, hi)
    y = lo + hi - x
    common = np.zeros(len(lo), np.int64)
    for c in _chunks(size[x]):
        rep, k = _spans(size[x[c]])
        q = y[c][rep] * m + keys[start[x[c]][rep] + k] % m
        at = np.minimum(np.searchsorted(keys, q), len(keys) - 1)
        common[c] = np.bincount(rep[keys[at] == q], minlength=c.stop - c.start)
    union = size[lo] + size[hi] - common
    keep = (common > 0) & _may_pass(common / union, threshold)
    lo, hi = lo[keep], hi[keep]
    cols = {"common": common[keep], "size_a": size[lo], "size_b": size[hi]}
    return _pair_frame(
        grams, ids, first, lo, hi, cols, "common bigint, size_a bigint, size_b bigint"
    )


def ngram_jaccard_pairs(
    grams: DataFrame, threshold: float, max_shingle_df: int | None
) -> DataFrame | None:
    """``dedup.ngram_jaccard_pairs`` in-core over ``grams`` = ``(id,
    shingles)``, each document's distinct shingles. Returns ``(a, b,
    common, size_a, size_b)``, ``a < b``, for the pairs whose Jaccard
    may pass ``threshold``; the operator rounds and filters them in
    Spark.

    The distributed self-join on the driver: a shingle's document
    frequency counts every row holding it, a row without an id too (as
    the distributed ``groupBy("shingle")`` does, which the cap reads);
    the documents sharing a shingle of frequency in [2,
    ``max_shingle_df``] (no upper bound for None) are its group, and
    ``_pair_counts`` counts the shingles each pair shares. Sizes are
    over the unfiltered shingles. None where ``_collect_shingle_sets``
    is, and past the pair count."""
    got = _collect_shingle_sets(grams)
    if got is None:
        return None
    _, ids, first, _, d, s = got
    n = max(len(first), 1)
    freq = np.bincount(s)[s]
    named = d >= 0
    size = np.bincount(d[named], minlength=n)
    joinable = named & (freq >= 2)
    if max_shingle_df is not None:
        joinable &= freq <= max_shingle_df
    counted = _pair_counts(s[joinable], d[joinable], n)
    if counted is None:
        return None
    lo, hi, common = counted
    keep = _may_pass(common / (size[lo] + size[hi] - common), threshold)
    lo, hi = lo[keep], hi[keep]
    cols = {"common": common[keep], "size_a": size[lo], "size_b": size[hi]}
    return _pair_frame(
        grams, ids, first, lo, hi, cols, "common bigint, size_a bigint, size_b bigint"
    )


def cosine_near_pairs(
    vecs: DataFrame,
    threshold: float,
    n_planes: int,
    seed: int,
    rounds: int,
    probe_radius: int,
) -> DataFrame | None:
    """``similarity.cosine_near_pairs``' LSH path in-core over ``vecs`` =
    ``(id, v array<double>)``. Returns the candidates ``(a, b, cosine)``,
    ``a < b``, with their raw exact cosine where it may pass
    ``threshold``; the operator rounds and filters them in Spark.

    The distributed algorithm on the driver: the same round signatures
    (``similarity._signatures``), and per round every pair whose
    signatures differ by a mask of the radius-``2·probe_radius``
    Hamming ball (``similarity._ball_masks``) — the pairs of one bucket
    for mask 0, else each vector of bucket ``s`` with every vector of
    bucket ``s ^ mask`` for the ``s`` below its partner (one-sided, so
    each unordered bucket pair is expanded once). Candidates are
    verified with ``similarity._cosines``, chunk by chunk. None past
    the driver budget (the vectors, or the candidate count), for an id
    without a numpy order, a repeated id, and a null or ragged vector,
    which the distributed plan fails on."""
    from kgw_spark.operators.similarity import (
        _ball_masks,
        _cosines,
        _norms,
        _plane_mats,
        _signatures,
    )

    if not orderable(vecs) or not _fits(
        vecs, F.count(F.lit(1)), F.sum(F.length("id") + 8 * F.size("v"))
    ):
        return None
    tbl = vecs.toArrow()
    ids = tbl.column("id").combine_chunks()
    v = tbl.column("v").combine_chunks()
    lens = pc.list_value_length(v)
    if lens.null_count or len(pc.unique(lens)) > 1:
        return None
    dim = lens[0].as_py() if len(lens) else 0
    rows = np.flatnonzero(ids.is_valid().to_numpy(zero_copy_only=False))
    got = _id_codes(ids, rows)
    if got is None:
        return None
    codes, first = got
    n = max(len(rows), 1)
    V = np.empty((len(rows), dim))
    V[codes] = v.flatten().to_numpy(zero_copy_only=False).reshape(len(v), dim)[rows]
    sig = _signatures(V, _plane_mats(dim, n_planes, seed, rounds))

    flips = np.array(_ball_masks(n_planes, probe_radius)[1:], np.int64)
    # bucket s pairs with s ^ m from the side where m's top bit is clear
    tops = np.array([1 << (int(f).bit_length() - 1) for f in flips], np.int64)
    b = np.arange(1 << n_planes)
    below = (b[None, :] & tops[:, None]) == 0
    counts = [np.bincount(sig[:, r], minlength=len(b)) for r in range(rounds)]
    if not _fits_pairs(
        sum(
            int((c * (c - 1) // 2).sum() + (c * c[b ^ flips[:, None]] * below).sum())
            for c in counts
        )
    ):
        return None
    parts = []
    for r, c in enumerate(counts):
        s = sig[:, r]
        order, end = _runs(s[:, None])
        parts.append(_pairs_within(order, end))
        bucket_start = np.cumsum(c) - c
        for f, t in zip(flips, tops):
            left = np.flatnonzero((s & t) == 0)
            target = s[left] ^ f
            rep, k = _spans(c[target])
            parts.append((left[rep], order[bucket_start[target][rep] + k]))
    lo, hi = _distinct_pairs(parts, n)
    VT = np.ascontiguousarray(V.T)
    norms = _norms(VT)
    cos = np.empty(len(lo))
    with np.errstate(invalid="ignore", divide="ignore"):
        for c in _chunks(np.full(len(lo), max(dim, 1))):
            cos[c] = _cosines(VT, norms, lo[c], hi[c])
    keep = _may_pass(cos, threshold)
    return _pair_frame(
        vecs, ids, first, lo[keep], hi[keep], {"cosine": cos[keep]}, "cosine double"
    )
