"""In-core kernels below one driver budget.

The graph operators (``canon.connected_components``, ``kcore.k_core``,
``communities.min_label_propagation``, ``pagerank.pagerank``,
``analytics.k_hop``, ``triangles.triangle_count``,
``linkpred.common_neighbors``) and the near-duplicate searches
(``dedup.minhash_lsh_pairs``, ``dedup.ngram_jaccard_pairs``,
``dedup.simhash_near_pairs``, ``similarity.cosine_near_pairs``) spend
their time on small inputs planning, code-generating and scheduling
one Spark job after another, not computing: every round or join is a
handful of jobs over data that a single driver process holds in a few
MB.

Every kernel enters through one front door (``_collect``: ONE
``toArrow()``, whose bytes Spark's ``spark.driver.maxResultSize``
vetoes and whose rows are checked against ``DRIVER_MAX_ROWS``, with no
second pass over the input) and one encoder (``encode``): Arrow's hash
``dictionary_encode`` of the id columns, a sort of the dictionary and a
rank remap turn the ids into order-preserving int64 codes. Arrow sorts
strings by their UTF-8 bytes, which is Spark's binary string order, and
integers by value — so a min over codes is the min over ids, and ``a <
b`` over codes is ``a < b`` over ids. A vectorized numpy kernel runs
every round on the codes, and ``ids.take(codes)`` decodes its output
to the input's own id type. Each kernel returns a LocalRelation
(``session.local_df`` of a pyarrow Table) with the operator's
distributed schema, so callers see the same frame either way. Past the
budget the operator runs its distributed plan unchanged.
``canon.compose_mapping_local`` feeds its driver-resident alias pairs
to the same encoder and components kernel, skipping the collect.

The pair kernels run the SAME algorithm as their distributed plans
(same hashes, bands, planes, probes and caps; no brute force), group by
sorting (a band, bucket or shingle self-join is a hash join; sorted
runs are its in-core form), and count the candidate pairs from the
group sizes before expanding them: past ``DRIVER_MAX_BYTES`` at two
int64 codes per pair they hand back to the distributed plan. Common
neighbors and n-gram Jaccard share one kernel, ``_pair_counts``: the
pairs within groups (wedges through a middle node of degree ≤ cap;
documents sharing a shingle of document frequency in [2, cap]) and how
many groups each pair shares. SimHash filters each chunk's candidates
by Hamming distance before de-duplicating the pairs found in several
chunks, so only near pairs are ever de-duplicated; its Hamming bound is
an integer test, exact in the kernel. The other pair kernels return
integer counts or raw cosines only; the rounding and the threshold
stay in the operators' Spark expressions, applied over the
LocalRelation.

The graph kernels are independent of the pure-Python ``*_py`` replicas,
which stay the tests' oracles for both paths.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_type

from kgw_spark.session import local_df

# driver budget of one in-core collect: rows (list values, for documents)
# and bytes, enforced as spark.driver.maxResultSize (default 1g); a context
# allowing more, or no limit, collects nothing
DRIVER_MAX_ROWS = 2_000_000
DRIVER_MAX_BYTES = 1 << 30


def held_on_driver(df: DataFrame) -> bool:
    """Whether ``df`` optimizes to a LocalRelation of at most
    ``DRIVER_MAX_ROWS`` rows — the in-core kernels' own output, after
    any deterministic projection or filter (Catalyst folds those into
    the relation). Its rows are already in driver memory: ``collect()``
    reads them with no job, where ``toArrow()`` runs one. Reads the plan
    only: no job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return (
        plan.getClass().getSimpleName() == "LocalRelation"
        and plan.data().size() <= DRIVER_MAX_ROWS
    )


def orderable(df: DataFrame, *cols: str) -> bool:
    """Whether the columns ``cols`` of ``df`` (default ``id``) order the
    same in Arrow, numpy and Python as in Spark: integral, or strings in
    the default (binary: UTF-8 byte, so code-point) collation."""
    return all(
        isinstance(t, T.IntegralType) or t == T.StringType()
        for t in (df.schema[c].dataType for c in cols or ("id",))
    )


def _collect(df: DataFrame, *id_cols: str) -> pa.Table | None:
    """Every kernel's one front door: ``df`` in ONE ``toArrow()``, in
    10,000-row Arrow batches for this collect only (the session's 128
    suit the extraction's multi-KB rows). None when a column of
    ``id_cols`` has no Arrow order that is Spark's (``orderable``), when
    the context's ``spark.driver.maxResultSize`` is 0 (unlimited) or
    above ``DRIVER_MAX_BYTES``, and when the collect aborts past it —
    Spark's own byte veto, at the cost of the tasks run until then. Any
    other failure raises. Callers check ``DRIVER_MAX_ROWS``."""
    spark = df.sparkSession
    limit = spark.sparkContext._jsc.sc().conf().getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if not orderable(df, *id_cols) or not 0 < limit <= DRIVER_MAX_BYTES:
        return None
    batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(batch)
    spark.conf.set(batch, "10000")
    try:
        return df.toArrow()
    except Py4JJavaError as e:
        if "bigger than spark.driver.maxResultSize" in str(e):
            return None
        raise
    finally:
        spark.conf.set(batch, saved)


def encode(*cols):
    """``(codes, ids)`` for the id columns ``cols`` (Arrow arrays or
    chunked arrays of one type, no null): ``ids`` is the sorted distinct
    ids over all of them, typed as they are, and ``codes[k]`` the int64
    codes of ``cols[k]``, so ``ids.take(codes[k])`` is ``cols[k]``. ONE
    concatenation (which also combines a collect's record batches), ONE
    hash ``dictionary_encode``, a sort of the dictionary and a rank
    remap."""
    whole = pa.chunked_array(
        [c for col in cols for c in getattr(col, "chunks", [col])], cols[0].type
    ).combine_chunks().dictionary_encode()
    order = pc.sort_indices(whole.dictionary).to_numpy()
    rank = np.empty(len(order), np.int64)
    rank[order] = np.arange(len(order))
    codes = rank[whole.indices.to_numpy()]
    ends = np.cumsum([len(col) for col in cols])
    return np.split(codes, ends[:-1]), whole.dictionary.take(order)


def _graph(df: DataFrame, a: str, b: str):
    """``((codes_a, codes_b), ids)``: ``encode`` of the id columns ``a``,
    ``b`` of ``df``, read through ``_collect``. None where ``_collect``
    is, past ``DRIVER_MAX_ROWS`` rows, and for a null id, which leaves
    Spark's null semantics to the distributed path."""
    tbl = _collect(df.select(a, b), a, b)
    if tbl is None or tbl.num_rows > DRIVER_MAX_ROWS or any(c.null_count for c in tbl.columns):
        return None
    return encode(tbl.column(a), tbl.column(b))


def _documents(tbl: pa.Table, keep=True):
    """``(ids, first)`` for the documents of the collected ``tbl``, the
    rows where ``keep`` holds and ``id`` is not null: their sorted ids,
    and ``first[c]``, the row of code ``c``. None for a repeated id,
    whose rows the distributed plans merge."""
    rows = np.flatnonzero(keep & tbl.column("id").is_valid().to_numpy())
    (codes,), ids = encode(tbl.column("id").take(rows))
    if len(ids) < len(rows):
        return None
    first = np.empty(len(ids), np.int64)
    first[codes] = rows
    return ids, first


def _local(spark, ids: pa.Array, cols: dict, ddl: str) -> DataFrame:
    """A kernel's result: the LocalRelation of ``cols`` (decoded ids are
    ``ids.take(codes)``) typed by ``ddl``, in which ``{id}`` is the
    Spark type of ``ids`` — the input's own id type, carried through the
    collect as its Arrow type."""
    t = from_arrow_type(ids.type).simpleString()
    return local_df(spark, pa.table(cols), ddl.format(id=t))


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


def component_mapping(spark, uv, ids) -> DataFrame:
    """``(id, canonical_id)``, typed as ``ids``, over the ids of the
    non-identity pairs ``(ids[u[i]], ids[v[i]])`` of the codes ``uv =
    (u, v)``, each mapped to its component's smallest id; an id in
    identity pairs only is absent, as on the distributed path."""
    u, v = uv
    arc = u != v
    keep = np.unique(np.concatenate([u[arc], v[arc]]))
    root = components(u, v, len(ids))
    out = {"id": ids.take(keep), "canonical_id": ids.take(root[keep])}
    return _local(spark, ids, out, "id {id}, canonical_id {id}")


def connected_components(pairs: DataFrame) -> DataFrame | None:
    """``canon.connected_components`` in-core over the ``(u, v)`` pair
    frame. None where ``_graph`` is."""
    got = _graph(pairs, "u", "v")
    if got is None:
        return None
    return component_mapping(pairs.sparkSession, *got)


def k_core(pairs: DataFrame, k: int) -> DataFrame | None:
    """``kcore.k_core`` in-core: peel every live node of degree < k per
    round, decrementing each surviving neighbor by a ``bincount`` of its
    arcs from the peeled set. Raises past ``kcore.MAX_ROUNDS`` like the
    distributed loop. None where ``_graph`` is."""
    from kgw_spark.operators.kcore import MAX_ROUNDS

    got = _graph(pairs, "u", "v")
    if got is None:
        return None
    (u, v), ids = got
    x, y = _both_ways(u, v)
    n = len(ids)
    deg = np.bincount(x, minlength=n)
    alive = np.ones(n, bool)
    for _ in range(MAX_ROUNDS):
        low = alive & (deg < k)
        if not low.any():
            keep = np.flatnonzero(alive)
            out = {"id": ids.take(keep), "degree": deg[keep]}
            return _local(pairs.sparkSession, ids, out, "id {id}, degree bigint not null")
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
    has no self-pairs, so they are told apart by ``u == v``. None where
    ``_graph`` is."""
    stacked = pairs.select("u", "v").union(
        nodes.select(F.col("id").alias("u"), F.col("id").alias("v"))
    )
    got = _graph(stacked, "u", "v")
    if got is None:
        return None
    (u, v), ids = got
    arc = u != v
    x, y = _both_ways(u[arc], v[arc])
    labels = np.arange(len(ids))
    for _ in range(rounds):
        nxt = labels.copy()
        np.minimum.at(nxt, x, labels[y])
        labels = nxt
    out = {"id": ids, "label": ids.take(labels)}
    return _local(pairs.sparkSession, ids, out, "id {id}, label {id}")


def pagerank(edges: DataFrame, iters: int, scale: int) -> DataFrame | None:
    """``pagerank.pagerank`` in-core, in the same exact int64
    arithmetic: per edge ``rank(u) // out_degree(u)`` summed into the
    target by ``np.add.at`` (integer adds, never float ``bincount``
    weights), then ``teleport + (num * sum) // den``. ``effective_scale``
    bounds ``num * sum`` below 2^63, so no int64 op can wrap. None where
    ``_graph`` is."""
    from kgw_spark.operators.pagerank import DAMPING_DEN, DAMPING_NUM, effective_scale

    got = _graph(edges, "source_id", "target_id")
    if got is None:
        return None
    (src, dst), ids = got
    n = len(ids)
    scale = effective_scale(n, scale, DAMPING_NUM)
    teleport = ((DAMPING_DEN - DAMPING_NUM) * scale) // DAMPING_DEN
    src_deg = np.bincount(src, minlength=n)[src]
    ranks = np.full(n, scale, np.int64)
    for _ in range(iters):
        sums = np.zeros(n, np.int64)
        np.add.at(sums, dst, ranks[src] // src_deg)
        ranks = teleport + (DAMPING_NUM * sums) // DAMPING_DEN
    out = {"id": ids, "rank_scaled": ranks}
    return _local(edges.sparkSession, ids, out, "id {id}, rank_scaled bigint")


def k_hop(pairs: DataFrame, node_id: str, k: int) -> DataFrame | None:
    """``analytics.k_hop`` in-core: BFS levels as boolean masks — the
    next frontier is every arc target whose source is in the frontier,
    minus the visited set. ``node_id`` is of the ids' type. None where
    ``_graph`` is."""
    got = _graph(pairs, "u", "v")
    if got is None:
        return None
    (u, v), ids = got
    x, y = _both_ways(u, v)
    n = len(ids)
    hop = np.full(n, -1, np.int32)
    frontier = np.zeros(n, bool)
    seed = pa.array([node_id], ids.type)
    i = pc.index(ids, seed[0]).as_py()
    if i >= 0:
        hop[i], frontier[i] = 0, True
    for level in range(1, k + 1):
        nxt = np.zeros(n, bool)
        nxt[y[frontier[x]]] = True
        nxt &= hop < 0
        if not nxt.any():
            break
        hop[nxt], frontier = level, nxt
    reached = np.flatnonzero(hop > 0)
    out = {
        "id": pa.concat_arrays([seed, ids.take(reached)]),
        "hop": np.concatenate([[0], hop[reached]]).astype(np.int32),
    }
    return _local(pairs.sparkSession, ids, out, "id {id}, hop int")


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


def _pair_frame(df: DataFrame, ids: pa.Array, lo, hi, cols: dict, ddl: str):
    """The LocalRelation ``(a, b, *cols)`` of the code pairs ``(lo, hi)``,
    ``a`` and ``b`` typed (and nullable) as ``df``'s ``id``."""
    t = "{id}" + ("" if df.schema["id"].nullable else " not null")
    out = {"a": ids.take(lo), "b": ids.take(hi), **cols}
    return _local(df.sparkSession, ids, out, f"a {t}, b {t}, {ddl}")


def _jaccard_frame(grams: DataFrame, ids: pa.Array, lo, hi, common, size, threshold: float):
    """``_pair_frame`` ``(a, b, common, size_a, size_b)`` of the pairs
    ``(lo, hi)`` sharing ``common`` shingles (over the shingle counts
    ``size``) whose Jaccard may pass ``threshold``."""
    keep = (common > 0) & _may_pass(common / (size[lo] + size[hi] - common), threshold)
    lo, hi = lo[keep], hi[keep]
    cols = {"common": common[keep], "size_a": size[lo], "size_b": size[hi]}
    return _pair_frame(grams, ids, lo, hi, cols, "common bigint, size_a bigint, size_b bigint")


def triangle_count(pairs: DataFrame) -> DataFrame | None:
    """``triangles.triangle_count`` in-core: the same (degree, id)
    orientation over the codes (code order is id order), each wedge a
    pair of out-arcs of one node (a run of equal sources), closed by a
    sorted lookup of the pair keys. None where ``_graph`` is, and past
    the driver budget of the wedge count."""
    got = _graph(pairs, "u", "v")
    if got is None:
        return None
    (u, v), ids = got
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
    n_triangles = int((closing[at] == wedge).sum())
    out = pa.table({"n_edges": [len(u)], "n_wedges": [n_wedges], "n_triangles": [n_triangles]})
    ddl = "n_edges bigint not null, n_wedges bigint not null, n_triangles bigint not null"
    return local_df(pairs.sparkSession, out, ddl)


def common_neighbors(pairs: DataFrame, deg_cap: int, top: int) -> DataFrame | None:
    """``linkpred.common_neighbors`` in-core: the wedges through every
    middle node of degree ≤ ``deg_cap`` are the pairs within its
    neighbor group (``_pair_counts`` over both arc directions); adjacent
    pairs drop out by a sorted lookup of the ``(u, v)`` keys, and the
    top ``top`` rows by ``(n_common desc, u, v)`` are cut in code order,
    which is id order. ``u`` and ``v`` keep the input's types and are
    not null, as on the distributed plan (whose pairs come out of
    ``collect_list`` arrays, which hold no null). None where ``_graph``
    is, and past the driver budget of the wedge count."""
    got = _graph(pairs, "u", "v")
    if got is None:
        return None
    (u, v), ids = got
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
    out = {"u": ids.take(lo[cut]), "v": ids.take(hi[cut]), "n_common": count[cut]}
    ddl = "u {id} not null, v {id} not null, n_common bigint not null"
    return _local(pairs.sparkSession, ids, out, ddl)


def _list_rows(df: DataFrame, col: str):
    """The shared prep of the document kernels over ``df`` = ``(id,
    col, ...)``, whose ``col`` lists each document's values: ``_collect``,
    the row bound on the total list length, then ``_documents`` over the
    rows that have an id and a value. Returns ``(tbl, ids, first, lens,
    flat)``: the collected table, the sorted document ids, the row of
    each document code, each row's list length (0 for a null list) and
    every row's values in row order. None where ``_collect`` or
    ``_documents`` is, and past ``DRIVER_MAX_ROWS`` values."""
    tbl = _collect(df, "id")
    if tbl is None:
        return None
    lst = tbl.column(col).combine_chunks()
    lens = pc.fill_null(pc.list_value_length(lst), 0).to_numpy().astype(np.int64)
    if lens.sum() > DRIVER_MAX_ROWS:
        return None
    got = _documents(tbl, lens > 0)
    if got is None:
        return None
    return tbl, *got, lens, lst.flatten()


def _segments(lens, first):
    """``(starts, at)`` for a per-document ``ufunc.reduceat(values,
    starts)[at]`` over the flat values of ``_list_rows``: the start of
    every row with a value (reduceat needs all of them, in order) and
    the position among them of each document code's row ``first``."""
    filled = np.flatnonzero(lens > 0)
    return (np.cumsum(lens) - lens)[filled], np.searchsorted(filled, first)


def _bands(keys):
    """``_runs`` of each band's 2-D key array in ``keys``; None past the
    driver budget of the candidates they pair (ΣC(g, 2) over every
    band's runs, counted before any pair is expanded)."""
    bands = [_runs(k) for k in keys]
    if not _fits_pairs(sum(int(_run_partners(end).sum()) for _, end in bands)):
        return None
    return bands


def _collect_shingle_sets(grams: DataFrame):
    """The shared prep of the shingle kernels over ``grams`` = ``(id,
    shingles, ...)``, each document's distinct shingles: ``_list_rows``
    and ``encode`` of the shingle strings.
    Returns ``(tbl, ids, first, lens, d, s)``: ``_list_rows``'s table,
    ids, rows and lengths, and per collected shingle (row by row) its
    document code (-1 in a row without an id) and its shingle code. None
    where ``_list_rows`` is."""
    got = _list_rows(grams, "shingles")
    if got is None:
        return None
    tbl, ids, first, lens, flat = got
    doc_of_row = np.full(len(lens), -1)
    doc_of_row[first] = np.arange(len(first))
    (s,), _ = encode(flat)
    return tbl, ids, first, lens, np.repeat(doc_of_row, lens), s


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
    ``_collect_shingle_sets`` or ``_bands`` is."""
    from kgw_spark.operators.dedup import _MERSENNE

    got = _collect_shingle_sets(grams)
    if got is None:
        return None
    tbl, ids, first, lens, d, s = got
    h = tbl.column("h").combine_chunks().flatten().to_numpy(zero_copy_only=False)
    starts, at = _segments(lens, first)
    sig = np.empty((len(first), len(coeffs)), np.int64)
    for p, (a, b) in enumerate(coeffs):
        sig[:, p] = np.minimum.reduceat((h * a + b) % _MERSENNE, starts)[at]
    n = max(len(ids), 1)

    bands = _bands(sig[:, c : c + rows_per_band] for c in range(0, sig.shape[1], rows_per_band))
    if bands is None:
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
    return _jaccard_frame(grams, ids, lo, hi, common, size, threshold)


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
    _, ids, _, _, d, s = got
    n = max(len(ids), 1)
    freq = np.bincount(s)[s]
    named = d >= 0
    size = np.bincount(d[named], minlength=n)
    joinable = named & (freq >= 2)
    if max_shingle_df is not None:
        joinable &= freq <= max_shingle_df
    counted = _pair_counts(s[joinable], d[joinable], n)
    if counted is None:
        return None
    return _jaccard_frame(grams, ids, *counted, size, threshold)


# the bits set in every 16-bit value: numpy 1.26 has no bitwise_count
_POP16 = np.unpackbits(np.arange(1 << 16, dtype=">u2").view(np.uint8)).reshape(-1, 16).sum(
    1, dtype=np.uint8
)


def _popcount(x):
    """The bits set in each value of the uint64 array ``x``: the table
    looked up once per 16-bit quarter."""
    q = x.view(np.uint16).reshape(-1, 4)
    return _POP16[q[:, 0]] + _POP16[q[:, 1]] + _POP16[q[:, 2]] + _POP16[q[:, 3]]


def simhash_near_pairs(toks: DataFrame, max_hamming: int) -> DataFrame | None:
    """``dedup.simhash_near_pairs`` in-core over ``toks`` = ``(id, h)``,
    each document's JVM-side token xxhash64s. Returns ``(a, b,
    hamming)``, ``a < b``, for the pairs within ``max_hamming`` bits.

    The distributed algorithm on the driver: bit ``i`` of a fingerprint
    is set iff more than half the document's tokens have it set (the
    plan's ``sum(±1) > 0``), counted per bit by ``np.add.reduceat``; the
    fingerprint is cut into the same ``max_hamming + 1`` chunks of ``64
    // chunks`` bits, documents sharing a chunk value are candidates,
    and each chunk's candidates are filtered by Hamming distance BEFORE
    the pairs found in several chunks are de-duplicated. A document
    without an id has no fingerprint and never pairs. None where
    ``_list_rows`` or ``_bands`` is."""
    got = _list_rows(toks, "h")
    if got is None:
        return None
    _, ids, first, lens, flat = got
    flat = flat.to_numpy(zero_copy_only=False).view(np.uint64)
    starts, at = _segments(lens, first)
    n_tokens = lens[first]
    sig = np.zeros(len(first), np.uint64)
    for i in range(64):
        bit = np.uint64(i)
        ones = np.add.reduceat(((flat >> bit) & np.uint64(1)).view(np.int64), starts)[at]
        sig |= (2 * ones > n_tokens).astype(np.uint64) << bit

    chunks = max_hamming + 1
    width = 64 // chunks
    mask = np.uint64((1 << width) - 1)
    bands = _bands(((sig >> np.uint64(c * width)) & mask)[:, None] for c in range(chunks))
    if bands is None:
        return None
    parts = []
    for order, end in bands:
        i, j = _pairs_within(order, end)
        near = _popcount(sig[i] ^ sig[j]) <= max_hamming
        parts.append((i[near], j[near]))
    lo, hi = _distinct_pairs(parts, max(len(ids), 1))
    hamming = _popcount(sig[lo] ^ sig[hi]).astype(np.int32)
    return _pair_frame(toks, ids, lo, hi, {"hamming": hamming}, "hamming int not null")


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
    verified with ``similarity._cosines``, chunk by chunk. None where
    ``_collect`` or ``_documents`` is, past ``DRIVER_MAX_ROWS`` vectors,
    past the candidate count, and for a null or ragged vector, which the
    distributed plan fails on."""
    from kgw_spark.operators.similarity import (
        _ball_masks, _cosines, _norms, _plane_mats, _signatures
    )

    tbl = _collect(vecs, "id")
    if tbl is None or tbl.num_rows > DRIVER_MAX_ROWS:
        return None
    v = tbl.column("v").combine_chunks()
    lens = pc.list_value_length(v)
    if lens.null_count or len(pc.unique(lens)) > 1:
        return None
    dim = lens[0].as_py() if len(lens) else 0
    got = _documents(tbl)
    if got is None:
        return None
    ids, first = got
    n = max(len(ids), 1)
    V = v.flatten().to_numpy(zero_copy_only=False).reshape(len(v), dim)[first]
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
    return _pair_frame(vecs, ids, lo[keep], hi[keep], {"cosine": cos[keep]}, "cosine double")
