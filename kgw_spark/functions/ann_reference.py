"""Driver-side, Spark-free reference implementations of the ANN
operators — independent oracles for the distributed paths in
``kgw_spark.operators.similarity``.

These read the embeddings parquet with pyarrow and compute the expected
result in pure Python, replicating Spark's floating-point evaluation
order exactly:

- dot products / norms are strict left-to-right folds over float64
  (Spark's ``F.aggregate``/``zip_with`` fold), so sums are bit-identical;
- ``ROUND(x, 6)`` is decimal HALF_UP on the exact binary value of the
  double (Spark's ``BigDecimal(double).setScale(6, HALF_UP)``).

The only shared inputs with the Spark path are the hyperplane/centroid
*parameters* (pure functions of the seed / row ids); every projection,
bucket assignment, probe, and rerank is recomputed here from scratch.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from kgw_spark.operators.similarity import ID_COL, VEC_COL, _planes


def _load_vectors(parquet_path: str):
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=[ID_COL, VEC_COL])
    ids = t.column(ID_COL).to_pylist()
    # list<float32> → python floats (exact widening, same as Spark's
    # cast to array<double>)
    vecs = [[float(x) for x in v] for v in t.column(VEC_COL).to_pylist()]
    return list(zip(ids, vecs))


def _fold_dot(xs, ys) -> float:
    acc = 0.0
    for x, y in zip(xs, ys):
        acc = acc + x * y
    return acc


def _fold_norm(xs) -> float:
    acc = 0.0
    for x in xs:
        acc = acc + x * x
    return math.sqrt(acc)


def _round6(x: float) -> float:
    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _cosine_topk(rows, query_vec, k):
    """Replicates similarity.cosine_topk: round(cos, 6) first, then
    order by (cosine desc, id asc), take k."""
    qn = math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    scored = []
    for vid, v in rows:
        cos = _fold_dot(v, query_vec) / (_fold_norm(v) * qn)
        scored.append((vid, _round6(cos)))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def _signature(v, planes) -> int:
    sig = 0
    for i, p in enumerate(planes):
        if _fold_dot(v, p) >= 0:
            sig |= 1 << i
    return sig


def ref_lsh_topk(
    parquet_path: str,
    query_id,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 13,
    multiprobe: int = 1,
):
    """Expected output of similarity.lsh_topk — same probe-set logic,
    recomputed without Spark. Returns [(id, cosine)] rows."""
    rows = _load_vectors(parquet_path)
    query_vec = next(v for vid, v in rows if vid == query_id)
    planes = _planes(len(query_vec), n_planes, seed)

    qsig = 0
    for i, p in enumerate(planes):
        if sum(float(a) * float(b) for a, b in zip(query_vec, p)) >= 0:
            qsig |= 1 << i
    probe = {qsig}
    if multiprobe >= 1:
        for i in range(n_planes):
            probe.add(qsig ^ (1 << i))
    if multiprobe >= 2:
        for i in range(n_planes):
            for j in range(i + 1, n_planes):
                probe.add(qsig ^ (1 << i) ^ (1 << j))

    candidates = [(vid, v) for vid, v in rows if _signature(v, planes) in probe]
    return _cosine_topk(candidates, query_vec, k)


def ref_ivf_topk(
    parquet_path: str,
    query_id,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    kmeans_iters: int = 0,
):
    """Expected output of similarity.ivf_topk — centroid assignment via
    lexicographic-min (−dot, cell) as F.least does, ``kmeans_iters``
    Lloyd refinement rounds replicating the integer-quantized
    order-independent update (floor(x·2^20) long sums, mean = sum //
    count, back at 2^-20), probe the n_probe closest cells, exact
    rerank inside them."""
    from kgw_spark.operators.similarity import _QUANT

    rows = _load_vectors(parquet_path)
    query_vec = next(v for vid, v in rows if vid == query_id)
    by_id = sorted(rows, key=lambda t: t[0])
    centroids = [(i, v) for i, (_vid, v) in enumerate(by_id[:n_cells])]

    def cell_of(v, cents):
        return min(((-_fold_dot(v, c)), cid) for cid, c in cents)[1]

    for _ in range(kmeans_iters):
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for _vid, v in rows:
            cid = cell_of(v, centroids)
            q = [math.floor(x * float(_QUANT)) for x in v]
            if cid in sums:
                sums[cid] = [a + b for a, b in zip(sums[cid], q)]
                counts[cid] += 1
            else:
                sums[cid], counts[cid] = q, 1
        updated = {
            cid: [(s // counts[cid]) / _QUANT for s in sums[cid]] for cid in sums
        }
        centroids = [(cid, updated.get(cid, c)) for cid, c in centroids]

    scored = sorted(
        centroids, key=lambda c: -sum(a * b for a, b in zip(query_vec, c[1]))
    )
    probe = {cid for cid, _ in scored[:n_probe]}
    candidates = [(vid, v) for vid, v in rows if cell_of(v, centroids) in probe]
    return _cosine_topk(candidates, query_vec, k)


def ref_pq_topk(
    parquet_path: str,
    query_id,
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    kmeans_iters: int = 2,
):
    """Expected output of similarity.pq_topk — per-subspace codebooks
    from the lowest-id init + integer-quantized Lloyd rounds, L2
    assignment via csq − 2·dot (index-order folds, first-min ties),
    ADC score = left-associative sum of per-subspace query·centroid
    dots, rounded to 6, top-k by (adc DESC, id ASC)."""
    from kgw_spark.operators.similarity import _QUANT, _pq_csq

    rows = _load_vectors(parquet_path)
    query_vec = next(v for vid, v in rows if vid == query_id)
    by_id = sorted(rows, key=lambda t: t[0])
    dim = len(query_vec)
    sd = dim // m
    codebooks = [
        [(c, v[j * sd : (j + 1) * sd]) for c, (_vid, v) in enumerate(by_id[:n_codes])]
        for j in range(m)
    ]

    def assign(sub, cents):
        best_c, best_val = None, None
        for c, cent in cents:
            acc = 0.0
            for i in range(sd):
                acc = acc + sub[i] * cent[i]
            val = _pq_csq(list(cent)) - 2.0 * acc
            if best_val is None or val < best_val:
                best_c, best_val = c, val
        return best_c

    for _ in range(kmeans_iters):
        sums: dict[tuple[int, int], list[int]] = {}
        counts: dict[tuple[int, int], int] = {}
        for _vid, v in rows:
            for j in range(m):
                sub = v[j * sd : (j + 1) * sd]
                c = assign(sub, codebooks[j])
                q = [math.floor(x * float(_QUANT)) for x in sub]
                key = (j, c)
                if key in sums:
                    sums[key] = [a + b for a, b in zip(sums[key], q)]
                    counts[key] += 1
                else:
                    sums[key], counts[key] = q, 1
        codebooks = [
            [
                (
                    c,
                    [(s // counts[(j, c)]) / _QUANT for s in sums[(j, c)]]
                    if counts.get((j, c), 0) > 0
                    else cent,
                )
                for c, cent in codebooks[j]
            ]
            for j in range(m)
        ]

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

    scored = []
    for vid, v in rows:
        codes = [assign(v[j * sd : (j + 1) * sd], codebooks[j]) for j in range(m)]
        s = luts[0][codes[0]]
        for j in range(1, m):
            s = s + luts[j][codes[j]]
        scored.append((vid, _round6(s)))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]
