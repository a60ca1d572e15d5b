"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``    — brute-force exact top-k for one query vector;
  the dot product is a JVM-side ``aggregate``/``zip_with`` fold over
  the array (no Python), one narrow scan + a k-row sort.
- ``lsh_topk``       — the scale path: random-hyperplane LSH buckets
  (deterministic planes from a seeded generator), candidates from the
  query's bucket (+ optional multi-probe), exact rerank of candidates
  only.
- ``cosine_near_pairs`` — all-pairs near-duplicate detection by
  embedding cosine, LSH-bucketed self-join.
"""

from __future__ import annotations

import itertools
import math
import random

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.operators import incore

# the embeddings table's columns
ID_COL = "vec_id"
VEC_COL = "embedding"
# hyperplane seed of ``lsh_topk``
LSH_TOPK_SEED = 13


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_scores(emb: DataFrame, query_vec: list[float]) -> DataFrame:
    q = F.expr(_sql_double_array([float(x) for x in query_vec]))
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    cos = _dot(F.col(VEC_COL).cast("array<double>"), q) / (
        _norm(F.col(VEC_COL).cast("array<double>")) * F.lit(qn)
    )
    return emb.withColumn("cosine", F.round(cos, 6))


def cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact brute-force top-k: one scan, partial top-k per partition
    (Spark's TakeOrdered), no shuffle of the vectors themselves."""
    return (
        cosine_scores(emb, query_vec)
        .select(ID_COL, "cosine")
        .orderBy(F.desc("cosine"), F.asc(ID_COL))
        .limit(k)
    )


def _planes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def _plane_mats(dim: int, n_planes: int, seed: int, rounds: int):
    """The ``(dim, n_planes)`` hyperplane matrix of every round of
    ``cosine_near_pairs``: round ``r`` draws its planes from seed
    ``seed + r``."""
    return [np.array(_planes(dim, n_planes, seed + r)).T for r in range(rounds)]


def _signatures(V, mats):
    """``(len(V), rounds)`` int64 round signatures of the float64 rows of
    ``V``: bit ``i`` is set iff the row's projection on plane ``i`` of
    the round is >= 0 — one numpy matmul per round."""
    out = np.zeros((len(V), len(mats)), dtype=np.int64)
    for r, m in enumerate(mats):
        bits = ((V @ m) >= 0).astype(np.int64)  # (n, n_planes) sign bits
        out[:, r] = bits @ (1 << np.arange(m.shape[1], dtype=np.int64))
    return out


def _ball_masks(n_planes: int, probe_radius: int) -> list[int]:
    """XOR masks of the full Hamming ball of radius ``2·probe_radius``
    over ``n_planes`` bits, the unflipped mask 0 first."""
    return [
        sum(1 << b for b in bits)
        for radius in range(2 * probe_radius + 1)
        for bits in itertools.combinations(range(n_planes), radius)
    ]


def _norms(VT):
    """The L2 norm of every column of the ``(dim, n)`` float64 matrix
    ``VT``, its squares accumulated in index order."""
    nsq = np.zeros(VT.shape[1], dtype=np.float64)
    for row in VT:
        nsq = nsq + row * row
    return np.sqrt(nsq)


def _cosines(VT, norms, lo, hi):
    """Exact cosine of the column pairs ``(lo[k], hi[k])`` of ``VT``
    (``norms`` from ``_norms``): the dot accumulated elementwise in index
    order over float64 — bit-identical to the ``_dot``/``_norm`` fold
    semantics (a zero vector gives NaN, which the pandas UDF returns to
    Spark as null). Gathering from one row of the transposed matrix per
    dimension keeps every pass contiguous."""
    acc = np.zeros(len(lo), dtype=np.float64)
    for row in VT:
        acc = acc + row[lo] * row[hi]
    return acc / (norms[lo] * norms[hi])


def _near(pairs: DataFrame, threshold: float) -> DataFrame:
    """``(a, b, cosine)`` from raw cosines: rounded to 6, kept at
    ``>= threshold``."""
    return (
        pairs.withColumn("cosine", F.round(F.col("cosine"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def _sql_double(x: float) -> str:
    # repr() round-trips float64 exactly and Double.parseDouble parses
    # it back to the identical bits, so the folded literal equals F.lit(x)
    return f"cast('{x!r}' as double)"


def _sql_double_array(xs: list[float]) -> str:
    return "array({})".format(",".join(_sql_double(x) for x in xs))


def _bucket_expr(planes: list[list[float]]):
    # one parsed expression for the whole signature: n_planes×dim
    # py4j-built literals cost ~0.4s of driver wall per run (plan and
    # values identical — same zip_with/aggregate fold per plane)
    terms = " | ".join(
        "if(aggregate(zip_with(cast({v} as array<double>), {arr}, "
        "(x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v) "
        ">= 0, {bit}, 0)".format(v=VEC_COL, arr=_sql_double_array(p), bit=1 << i)
        for i, p in enumerate(planes)
    )
    return F.expr(terms)


def lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    multiprobe: int = 1,
) -> DataFrame:
    """ANN top-k: restrict the exact rerank to vectors whose
    random-hyperplane signature is within ``multiprobe`` bit-flips of
    the query's signature (multi-probe LSH), then brute-force that
    bucket set. Recall grows with n_planes↓ / multiprobe↑."""
    dim = len(query_vec)
    planes = _planes(dim, n_planes, LSH_TOPK_SEED)
    bucketed = emb.withColumn("_bucket", _bucket_expr(planes))

    qsig = 0
    for i, p in enumerate(planes):
        proj = sum(float(a) * float(b) for a, b in zip(query_vec, p))
        if proj >= 0:
            qsig |= 1 << i
    probe_buckets = {qsig}
    if multiprobe >= 1:
        for i in range(n_planes):
            probe_buckets.add(qsig ^ (1 << i))
    if multiprobe >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probe_buckets.add(qsig ^ (1 << i) ^ (1 << j))

    candidates = bucketed.filter(
        F.col("_bucket").isin(*[int(b) for b in probe_buckets])
    )
    return cosine_topk(candidates, query_vec, k)


def cosine_near_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 6,
    seed: int = 13,
    exact: bool = False,
    rounds: int = 3,
    probe_radius: int = 1,
) -> DataFrame:
    """(a, b, cosine) pairs with cosine ≥ threshold.

    Default (scale) path — multiprobe OR-amplified LSH:

    - ``rounds`` independent hyperplane sets (seeds ``seed..seed+rounds-1``);
    - per round, one join side explodes each signature into its full
      Hamming ball of radius ``2·probe_radius`` while the other side
      keeps a single exact signature row (one-sided probing: same
      candidate set as two-sided radius-``probe_radius`` explosion —
      candidates are exactly the pairs differing by ≤ ``2·probe_radius``
      bits — with half the join input);
    - the bucket self-join carries only ``(id, round, bucket)`` — the
      vectors are joined back *after* candidate dedup, so the 100-TB
      shuffle moves 16-byte keys, not embeddings;
    - candidates are verified with the exact cosine, so the output has
      no false positives; a true pair is missed only if every round
      splits it by ≥ 2·probe_radius+1 hyperplanes — P(miss) ≈
      (1 - P[Binom(n_planes, θ/π) ≤ 2·probe_radius])^rounds, vanishing
      for near-duplicate thresholds.

    Below the driver budget (``incore.cosine_near_pairs``) the same
    signatures, probes and verify run in-core on the driver after one
    Arrow collect of the vectors; the rounding
    and the threshold stay in the Spark expression of ``_near`` on both
    paths.

    ``exact=True`` runs the full quadratic self-join — the brute-force
    oracle/test path, never the scale path.

    A zero vector, or one holding a NaN, has a NaN cosine with every
    partner, and every path drops its pairs: the in-core verify keeps
    no NaN, and the verify UDF of the other paths returns NaN to Spark
    as null, which fails the threshold.
    """
    if probe_radius > 2:
        # the probe array holds every mask of up to 2·probe_radius
        # flipped bits — C(n_planes, i) per radius i, one parsed struct
        # each per round; past ball radius 4 that plan explodes, while
        # extra rounds raise recall at linear cost
        raise ValueError(
            f"probe_radius={probe_radius} not supported (max 2); "
            "use more rounds for higher recall instead"
        )
    vec = F.col(VEC_COL).cast("array<double>")
    if not exact:
        raw = incore.cosine_near_pairs(
            emb.select(F.col(ID_COL).alias("id"), vec.alias("v")),
            threshold, n_planes, seed, rounds, probe_radius,
        )
        if raw is not None:
            return _near(raw, threshold)
    left = emb.select(F.col(ID_COL).alias("a"), vec.alias("va"))
    right = emb.select(F.col(ID_COL).alias("b"), vec.alias("vb"))
    if exact:
        joined = left.crossJoin(right).filter(F.col("a") < F.col("b"))
    else:
        # Signatures via one Arrow-batched numpy matmul per batch: the
        # column-expression formulation unrolls rounds×planes×dim fold
        # terms (×7 probe variants) into a megabyte-scale plan that
        # costs more to analyze/codegen than the data — the documented
        # exception where a vectorized pandas UDF beats built-ins.
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        # Plane matrices are built lazily INSIDE the worker from the
        # first batch's vector length: _planes is a pure function of
        # (dim, n_planes, seed), so every worker derives the identical
        # matrices and the driver never runs a first() job just to
        # learn the dimension.
        mats_box: list = []

        def _sigs_of(vecs):
            if len(vecs) == 0:
                return pd.Series([], dtype="object")
            V = np.array(vecs.tolist(), dtype=np.float64)
            if not mats_box:
                mats_box.extend(_plane_mats(V.shape[1], n_planes, seed, rounds))
            return pd.Series(_signatures(V, mats_box).tolist())

        # explicit Series->Series hints via annotations dict: the
        # module-level `from __future__ import annotations` breaks
        # pyspark's type-hint inference for locally-defined UDFs
        _sigs_of.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
        sigs_of = pandas_udf(_sigs_of, "array<long>")

        # The signature frame feeds BOTH join sides (probes and exact
        # buckets): materialize it once — (id, 3 longs) per vector is
        # tiny next to re-running the signature kernel per reference.
        sigs = emb.select(
            F.col(ID_COL).alias("_id"), sigs_of(vec).alias("_sigs")
        ).localCheckpoint(eager=True)
        # One-sided probing: the LEFT side explodes each round signature
        # into its full Hamming ball of radius 2·probe_radius, the RIGHT
        # side keeps one exact (round, signature) row per vector. A pair
        # is a candidate in a round iff their signatures differ by at
        # most 2·probe_radius bits — the identical candidate set as
        # exploding BOTH sides by probe_radius (balls are symmetric:
        # sig_b ∈ B(sig_a, 2r) ⟺ sig_a ∈ B(sig_b, 2r), and two
        # radius-r balls intersect iff distance ≤ 2r), but the join
        # input carries one exploded side instead of two, and the a<b
        # filter still sees every unordered pair (from either
        # direction).
        # The whole rounds×|ball| struct array is ONE parsed expression
        # — rounds·(1+n+C(n,2)+…) py4j-built XOR Columns cost ~0.5s of
        # driver wall per run at any data size, while the parsed plan
        # (and therefore every certified value) is identical.
        probe_structs = ",".join(
            f"struct({r} as `round`, (_sigs[{r}] ^ {m}) as bucket)"
            for r in range(rounds)
            for m in _ball_masks(n_planes, probe_radius)
        )
        probes = sigs.select(
            "_id", F.expr(f"explode(array({probe_structs}))").alias("p")
        ).select("_id", "p.round", "p.bucket")
        exact_structs = ",".join(
            f"struct({r} as `round`, _sigs[{r}] as bucket)" for r in range(rounds)
        )
        exact_sigs = sigs.select(
            "_id",
            F.expr(f"explode(array({exact_structs}))").alias("p"),
        ).select("_id", "p.round", "p.bucket")
        pa = probes.select(F.col("_id").alias("a"), "round", "bucket")
        pb = exact_sigs.select(F.col("_id").alias("b"), "round", "bucket")
        candidates = (
            pa.join(pb, ["round", "bucket"])
            .filter(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        joined = candidates.join(left, "a").join(right, "b")
    # Exact verify as one Arrow-batched numpy kernel: the candidate set
    # is quadratic-ish in dense similarity neighborhoods (1.6M pairs
    # from 2100 vectors at sf0.1), and evaluating dim-length fold
    # lambdas per pair in Catalyst cost ~2x the whole query. The kernel
    # (``_norms``, ``_cosines``) accumulates dot and norms elementwise in
    # index order over float64 — bit-identical to the _dot/_norm fold
    # semantics, so round-6 outputs are unchanged on both the LSH and
    # exact paths.
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos_of(va, vb):
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        VT = np.ascontiguousarray(np.array(va.tolist() + vb.tolist(), dtype=np.float64).T)
        k = np.arange(len(va))
        return pd.Series(_cosines(VT, _norms(VT), k, k + len(va)))

    _cos_of.__annotations__ = {"va": pd.Series, "vb": pd.Series, "return": pd.Series}
    cos_of = pandas_udf(_cos_of, "double")
    return _near(joined.select("a", "b", cos_of("va", "vb").alias("cosine")), threshold)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantization by nearest centroid,
# probe the top-p closest centroid cells, exact rerank inside them.
# Deterministic END TO END, including Lloyd refinement: init centroids
# are the k lowest-id vectors; each refinement iteration assigns cells
# (one narrow pass) and updates centroids from INTEGER-QUANTIZED
# coordinate sums — floor(x * 2^20) summed as 64-bit ints is exact and
# shuffle-order independent (a plain fp groupBy-avg sums in shuffle
# order and can't be value-oracled), then mean = sum // count back at
# 2^-20 resolution (≈1e-6, far below any clustering-relevant signal).
# Both stages shuffle only k small vectors of partial sums, never the
# data.
# ---------------------------------------------------------------------------
_QUANT = 1 << 20


def _lloyd_refine(emb: DataFrame, centroids, dim: int, kmeans_iters: int):
    """``kmeans_iters`` order-independent Lloyd rounds; empty cells keep
    their previous centroid. Replicated bit-for-bit by
    functions/ann_reference.ref_ivf_topk."""
    import numpy as np
    import pandas as pd

    # Each round is ONE mapInPandas pass that assigns cells, integer-
    # quantizes, and PARTIALLY SUMS per python partition — emitting
    # n_cells rows of (cell, count, array<long> sums) per partition for
    # the driver to combine exactly (64-bit integer addition is order-
    # independent). The former formulation built a dim-wide
    # floor/cast/sum Catalyst aggregate per round: the measured cost
    # was not the tiny job (~0.2 s) but ~1 s PER ROUND of driver-side
    # plan construction/analysis before it — fixed serial wall on a
    # query whose data is a few MB. Bit-parity with the column
    # expressions holds: np.floor(V * 2^20) on float64 is the same
    # IEEE-754 multiply+floor as F.floor(v[i] * lit(2^20)), and the
    # final mean uses python floor division exactly as before.
    for _ in range(kmeans_iters):
        cents = [np.asarray(c, dtype=np.float64) for _cid, c in centroids]
        cids = np.asarray([cid for cid, _c in centroids], dtype=np.int64)

        def _partial(batches, cents=cents, cids=cids):
            n_cells = len(cids)
            counts = np.zeros(n_cells, dtype=np.int64)
            qsums = None
            for pdf in batches:
                if pdf.empty:
                    continue
                V = np.array(pdf[VEC_COL].tolist(), dtype=np.float64)
                if qsums is None:
                    qsums = np.zeros((n_cells, V.shape[1]), dtype=np.int64)
                negd = np.empty((len(V), n_cells), dtype=np.float64)
                for j, c in enumerate(cents):
                    acc = np.zeros(len(V), dtype=np.float64)
                    for i in range(V.shape[1]):
                        acc = acc + V[:, i] * c[i]
                    negd[:, j] = -acc
                cell_idx = np.argmin(negd, axis=1)
                Q = np.floor(V * float(_QUANT)).astype(np.int64)
                for j in range(n_cells):
                    m = cell_idx == j
                    if m.any():
                        counts[j] += int(m.sum())
                        qsums[j] += Q[m].sum(axis=0)
            if qsums is not None:
                yield pd.DataFrame(
                    {
                        "_cell": cids,
                        "_n": counts,
                        "_q": [row.tolist() for row in qsums],
                    }
                )

        parts = emb.select(VEC_COL).mapInPandas(
            _partial, schema="_cell long, _n long, _q array<long>"
        ).collect()
        agg: dict[int, tuple[int, list[int]]] = {}
        for r in parts:
            n0, q0 = agg.get(r["_cell"], (0, [0] * dim))
            agg[r["_cell"]] = (n0 + r["_n"], [a + b for a, b in zip(q0, r["_q"])])
        updated = {
            cid: [(q // n) / _QUANT for q in qs]
            for cid, (n, qs) in agg.items()
            if n > 0
        }
        centroids = [(cid, updated.get(cid, c)) for cid, c in centroids]
    return centroids
def _assign_cells(emb: DataFrame, centroids) -> DataFrame:
    """Nearest-centroid cell per vector — lexicographic min over
    (−dot, cell id), exactly as a chained ``F.least`` of structs would
    compute it, via ONE Arrow-batched numpy kernel. The column-
    expression formulation (16 centroids × dim fold terms chained
    through struct comparisons) cost more to build/compile than the
    data: ~7 s of driver-side Column construction plus ~4 s of codegen
    PER JOB at sf0.1 — the same documented exception as the LSH
    signature kernel in ``cosine_near_pairs``. Bit-parity with the
    pure-Python oracle (ann_reference._fold_dot) holds because the
    kernel accumulates ``acc = acc + v[i]·c[i]`` elementwise in index
    order over float64 — the identical IEEE-754 operation sequence per
    row; ties on the dot go to the lowest cell id (argmin returns the
    first minimum, centroids are in cell-id order)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = [np.asarray(c, dtype=np.float64) for _cid, c in centroids]
    cids = np.asarray([cid for cid, _c in centroids], dtype=np.int64)

    def _cell_of(vecs):
        V = np.array(vecs.tolist(), dtype=np.float64)
        negd = np.empty((len(V), len(cents)), dtype=np.float64)
        for j, c in enumerate(cents):
            acc = np.zeros(len(V), dtype=np.float64)
            for i in range(V.shape[1]):
                acc = acc + V[:, i] * c[i]
            negd[:, j] = -acc
        return pd.Series(cids[np.argmin(negd, axis=1)])

    # explicit Series->Series hints via annotations dict (the module's
    # `from __future__ import annotations` breaks local-UDF inference)
    _cell_of.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    cell_of = pandas_udf(_cell_of, "long")
    return emb.withColumn("_cell", cell_of(F.col(VEC_COL).cast("array<double>")))


def ivf_build(
    emb: DataFrame,
    n_cells: int = 16,
    kmeans_iters: int = 0,
    init_centroids: list[tuple[int, list[float]]] | None = None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Assign every vector to its nearest centroid cell. Returns the
    cell-assigned DataFrame and the centroid list (small, driver-side —
    it IS the index metadata). Init is the deterministic lowest-id
    vectors; ``kmeans_iters`` order-independent Lloyd rounds (see
    _lloyd_refine) give balanced cells at scale while staying
    bit-reproducible — the certified driver-oracle configuration runs
    kmeans_iters=2. ``init_centroids`` lets a caller that has already
    collected the ``n_cells`` lowest-id vectors (e.g. to extract a
    query vector from the same rows) skip this function's init-collect
    job — it must be exactly that list, in id order, cell ids 0..n-1."""
    centroids = init_centroids if init_centroids is not None else [
        (i, [float(x) for x in r[VEC_COL]])
        for i, r in enumerate(
            emb.orderBy(ID_COL).limit(n_cells).collect()
        )
    ]
    dim = len(centroids[0][1]) if centroids else 0
    if kmeans_iters and centroids:
        centroids = _lloyd_refine(emb, centroids, dim, kmeans_iters)
    assigned = _assign_cells(emb, centroids)
    return assigned, centroids


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 0,
    init_centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """ANN top-k via IVF: rerank only vectors in the ``n_probe`` cells
    whose centroids are closest to the query. At scale the assigned
    table is written partitioned by cell so a probe is a partition-
    pruned scan, not a full pass."""
    assigned, centroids = ivf_build(emb, n_cells, kmeans_iters, init_centroids)
    scored = sorted(
        centroids,
        key=lambda c: -sum(a * b for a, b in zip(query_vec, c[1])),
    )
    probe = [cid for cid, _ in scored[:n_probe]]
    candidates = assigned.filter(F.col("_cell").isin(probe))
    return cosine_topk(candidates, query_vec, k)


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — Jégou, Douze, Schmid, "Product
# Quantization for Nearest Neighbor Search" (TPAMI 2011). The vector is
# split into ``m`` subspaces; each subspace gets its own ``n_codes``-entry
# codebook (k-means in the subspace); a vector is stored as ``m`` small
# codes. Query-time ADC (asymmetric distance computation) scores a
# vector from a per-subspace lookup table of query·centroid dot
# products — the scan touches ONLY the code table (m bytes/vector:
# 100 TB of float32x64 vectors compresses to ~1.6 TB of codes), never
# the vectors. All training arithmetic reuses the IVF discipline
# (lowest-id init, integer-quantized order-independent Lloyd, argmin
# first-min ties), so the whole index build is bit-reproducible and the
# pure-Python twin functions/ann_reference.ref_pq_topk is an exact
# value oracle.
# ---------------------------------------------------------------------------


def _pq_csq(c: list[float]) -> float:
    # squared norm as an index-order fold — the exact op sequence the
    # assignment kernel and the python oracle both replicate
    acc = 0.0
    for x in c:
        acc = acc + x * x
    return acc


def pq_build(
    emb: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    kmeans_iters: int = 2,
    init_vectors: list[list[float]] | None = None,
) -> tuple[DataFrame, list[list[tuple[int, list[float]]]]]:
    """Train ``m`` per-subspace codebooks and encode every vector.
    Returns ``(codes_df, codebooks)`` where ``codes_df`` is
    ``(vec_id, _codes array<int>)`` and ``codebooks[j]`` is the
    subspace-``j`` list of ``(code, centroid)``. Init is the
    deterministic ``n_codes`` lowest-id vectors' subvectors
    (``init_vectors`` lets a caller that already collected those rows
    skip the init job); ``kmeans_iters`` Lloyd rounds refine each
    codebook with the integer-quantized order-independent update, ALL
    subspaces fused into ONE mapInPandas pass per round (the IVF r4
    lesson: serial per-subspace job chains are fixed driver wall, not
    data cost). Assignment is by subspace L2 distance via
    ``|c|² − 2·x·c`` (the shared ``|x|²`` term cannot change an
    argmin), ties to the lowest code."""
    import numpy as np
    import pandas as pd

    if init_vectors is None:
        init_vectors = [
            [float(x) for x in r[VEC_COL]]
            for r in emb.orderBy(ID_COL).limit(n_codes).collect()
        ]
    dim = len(init_vectors[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m
    codebooks = [
        [(c, v[j * sd : (j + 1) * sd]) for c, v in enumerate(init_vectors)]
        for j in range(m)
    ]

    def _sub_assign(S, cents):
        # (rows, n_codes) L2 surrogate: csq − 2·dot, accumulated
        # elementwise in index order (bit-parity with the python fold)
        val = np.empty((len(S), len(cents)), dtype=np.float64)
        for c, cent in enumerate(cents):
            acc = np.zeros(len(S), dtype=np.float64)
            for i in range(S.shape[1]):
                acc = acc + S[:, i] * cent[i]
            val[:, c] = _pq_csq(list(cent)) - 2.0 * acc
        return np.argmin(val, axis=1)

    for _ in range(kmeans_iters):
        cents_np = [
            [np.asarray(c, dtype=np.float64) for _cid, c in codebooks[j]]
            for j in range(m)
        ]

        def _partial(batches, cents_np=cents_np):
            counts = np.zeros((m, n_codes), dtype=np.int64)
            qsums = np.zeros((m, n_codes, sd), dtype=np.int64)
            seen = False
            for pdf in batches:
                if pdf.empty:
                    continue
                seen = True
                V = np.array(pdf[VEC_COL].tolist(), dtype=np.float64)
                for j in range(m):
                    S = V[:, j * sd : (j + 1) * sd]
                    idx = _sub_assign(S, cents_np[j])
                    Q = np.floor(S * float(_QUANT)).astype(np.int64)
                    for c in range(n_codes):
                        msk = idx == c
                        if msk.any():
                            counts[j, c] += int(msk.sum())
                            qsums[j, c] += Q[msk].sum(axis=0)
            if seen:
                yield pd.DataFrame(
                    {
                        "_sub": np.repeat(np.arange(m), n_codes),
                        "_code": np.tile(np.arange(n_codes), m),
                        "_n": counts.reshape(-1),
                        "_q": [row.tolist() for row in qsums.reshape(m * n_codes, sd)],
                    }
                )

        parts = (
            emb.select(F.col(VEC_COL).cast("array<double>").alias(VEC_COL))
            .mapInPandas(_partial, schema="_sub int, _code int, _n long, _q array<long>")
            .collect()
        )
        agg: dict[tuple[int, int], tuple[int, list[int]]] = {}
        for r in parts:
            key = (r["_sub"], r["_code"])
            n0, q0 = agg.get(key, (0, [0] * sd))
            agg[key] = (n0 + r["_n"], [a + b for a, b in zip(q0, r["_q"])])
        codebooks = [
            [
                (
                    c,
                    [(q // agg[(j, c)][0]) / _QUANT for q in agg[(j, c)][1]]
                    if agg.get((j, c), (0, None))[0] > 0
                    else cent,
                )
                for c, cent in codebooks[j]
            ]
            for j in range(m)
        ]

    cents_np = [
        [np.asarray(c, dtype=np.float64) for _cid, c in codebooks[j]]
        for j in range(m)
    ]

    def _encode(vecs):
        V = np.array(vecs.tolist(), dtype=np.float64)
        out = np.empty((len(V), m), dtype=np.int32)
        for j in range(m):
            out[:, j] = _sub_assign(V[:, j * sd : (j + 1) * sd], cents_np[j])
        return pd.Series([row.tolist() for row in out])

    # explicit Series->Series hints via annotations dict (the module's
    # `from __future__ import annotations` breaks local-UDF inference)
    _encode.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    from pyspark.sql.functions import pandas_udf

    encode = pandas_udf(_encode, "array<int>")
    codes_df = emb.select(
        ID_COL, encode(F.col(VEC_COL).cast("array<double>")).alias("_codes")
    )
    return codes_df, codebooks


def pq_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    kmeans_iters: int = 2,
    init_vectors: list[list[float]] | None = None,
) -> DataFrame:
    """ADC top-k: score every vector as the sum of per-subspace
    query·centroid dot products looked up by its PQ codes — one
    JVM-side expression over the (id, m-codes) table, exact float
    arithmetic in fixed subspace order, so the result value-oracles
    against the pure-Python reference. Returns ``(vec_id, adc)`` with
    the (adc DESC, id ASC) top ``k``."""
    codes_df, codebooks = pq_build(emb, m, n_codes, kmeans_iters, init_vectors)
    sd = len(query_vec) // m
    luts = []
    for j in range(m):
        qs = query_vec[j * sd : (j + 1) * sd]
        lut = []
        for _c, cent in codebooks[j]:
            acc = 0.0
            for a, b in zip(qs, cent):
                acc = acc + a * b
            lut.append(acc)
        luts.append(lut)
    # ONE parsed expression (py4j Column-tree lesson): left-associative
    # adds in subspace order, literal doubles via exact repr round-trip
    terms = " + ".join(
        f"{_sql_double_array(luts[j])}[_codes[{j}]]" for j in range(m)
    )
    adc = F.expr(f"round({terms}, 6)")
    return (
        codes_df.select(ID_COL, adc.alias("adc"))
        .orderBy(F.desc("adc"), F.asc(ID_COL))
        .limit(k)
    )
