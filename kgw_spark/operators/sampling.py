"""Deterministic corpus sampling.

Training-data pipelines sample reproducibly: the same doc must land in
the same split on every run, on any cluster, under any partitioning —
so sampling is a pure function of the row key, never of rand() or task
layout. A hash sample keeps a row when ``lcg_bucket`` of its integral
key lands under the rate. The LCG (glibc constants) is chosen over
xxhash/md5 because it is exactly expressible in BOTH Spark and ANSI
SQL integer arithmetic, making every sample value-oracle-able.

At 100 TB this is a narrow scan + filter — no shuffle, fully pushed
into the data pass that reads the corpus anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 1 << 31
# bucket count of ``lcg_bucket_sql``, the oracle twin of the queries'
# ``lcg_bucket(key, 100)``
BUCKETS = 100


def lcg_u31(key: Column) -> Column:
    """Deterministic hash in [0, 2^31) from an integral key — the
    uniform variate behind every sampling decision. 64-bit safe:
    key * A + C stays under 2^63 for keys < ~8.4e9; larger key spaces
    should pre-fold (key % 2^31) first. Negative keys are folded into
    [0, M) (sign-following ``%`` would otherwise yield negative
    buckets, silently keeping 100% of negative-keyed rows at any rate);
    the double-mod form is written identically in the SQL twin so both
    engines agree on every 64-bit input."""
    x = key.cast("long") * F.lit(_LCG_A) + F.lit(_LCG_C)
    return (x % F.lit(_LCG_M) + F.lit(_LCG_M)) % F.lit(_LCG_M)


def lcg_u31_sql(key_expr: str) -> str:
    """The identical [0, 2^31) hash as ANSI SQL (the oracle twin)."""
    return (
        f"((((CAST({key_expr} AS BIGINT) * {_LCG_A} + {_LCG_C})"
        f" % {_LCG_M}) + {_LCG_M}) % {_LCG_M})"
    )


def lcg_bucket(key: Column, buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets) from an integral key:
    :func:`lcg_u31` mod ``buckets``."""
    return lcg_u31(key) % F.lit(buckets)


def lcg_bucket_sql(key_expr: str) -> str:
    """The identical bucket computation as ANSI SQL (the oracle twin),
    over ``BUCKETS`` buckets."""
    return f"{lcg_u31_sql(key_expr)} % {BUCKETS}"


def weighted_sample(df: DataFrame, key_col: str, weight: Column) -> DataFrame:
    """Weighted Bernoulli sampling: keep each row with probability
    equal to its ``weight`` (clamped to [0, 1]), deterministically by
    key — the corpus-mixing primitive (quality- or length-proportional
    inclusion) of training-data pipelines. A row kept at weight w stays
    kept at any w' >= w (nested samples), so mixing rates can be tuned
    without churning the split.

    Exactly value-oracle-able: the decision is ``lcg_u31(key) <
    floor(weight * 2^31)`` — one IEEE multiply + floor, no
    transcendentals, so Spark and any ANSI engine agree bit-for-bit.
    At 100 TB this is a narrow scan + filter, no shuffle.
    """
    w = F.least(F.lit(1.0), F.greatest(F.lit(0.0), weight))
    thresh = F.floor(w * F.lit(float(_LCG_M)))
    return df.filter(lcg_u31(F.col(key_col)) < thresh)


def weighted_sample_sql(key_expr: str, weight_expr: str) -> str:
    """The identical keep-decision as an ANSI SQL boolean expression."""
    w = f"LEAST(1.0, GREATEST(0.0, {weight_expr}))"
    return (
        f"{lcg_u31_sql(key_expr)}"
        f" < CAST(FLOOR({w} * {float(_LCG_M)}) AS BIGINT)"
    )


def stratified_topk(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    k: int,
    prune_margin: int = 8,
) -> DataFrame:
    """Deterministic stratified sample: the ``k`` rows of each stratum
    with the smallest LCG hash (ties broken by key) — balanced
    eval-split / per-language quota construction, a pure function of
    the keys so the same rows are picked on every run and cluster.

    Semantics (and the oracle twin): ``row_number() OVER (PARTITION BY
    stratum ORDER BY lcg_u31(key), key) <= k``. The naive plan sorts
    EVERY row of every stratum; at 10^10 rows per stratum that window
    sort is the bottleneck. Scale shape: because the hash is uniform,
    the k-th smallest hash of an n-row stratum concentrates near
    k/n * 2^31 — so we first keep only rows with hash below
    ``prune_margin * k / n * 2^31`` (a broadcast-joined per-stratum
    threshold; expected ``prune_margin * k`` survivors per stratum,
    Chernoff-tail shortfall ~exp(-k·margin/4)) and window-sort just the
    survivors. EXACTNESS IS GATED, not probabilistic: survivor counts
    are checked per stratum and any deficient stratum (possible only
    under adversarial hash clustering) falls back to its full row set
    before the final window. Strata with <= margin*k rows skip the
    prune entirely.
    """
    if k < 1:
        raise ValueError(f"stratified_topk needs k >= 1, got {k}")
    h = lcg_u31(F.col(key_col)).alias("_h")
    src = df.select("*", h)

    # per-stratum row counts -> integer prune thresholds (tiny frame)
    counts = src.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_n"))
    thresh = counts.select(
        stratum_col,
        "_n",
        F.when(F.col("_n") <= prune_margin * k, F.lit(_LCG_M))
        .otherwise((F.lit(_LCG_M * prune_margin * k) / F.col("_n")).cast("long"))
        .alias("_th"),
    )
    cand = src.join(F.broadcast(thresh), stratum_col).filter(F.col("_h") < F.col("_th"))

    # exactness gate: a stratum must retain min(k, n) candidates
    cand_counts = cand.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_c"))
    deficient = (
        thresh.join(cand_counts, stratum_col, "left")
        .filter(F.coalesce(F.col("_c"), F.lit(0)) < F.least(F.lit(k), F.col("_n")))
        .select(stratum_col)
    )
    rescued = src.join(F.broadcast(deficient), stratum_col, "left_semi")
    pool = cand.select(*df.columns, "_h").unionByName(rescued).dropDuplicates(
        [stratum_col, key_col]
    )

    from pyspark.sql.window import Window

    w = Window.partitionBy(stratum_col).orderBy(F.col("_h"), F.col(key_col))
    return (
        pool.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(*df.columns, F.col("_rn").alias("sample_rank"))
    )


def stratified_topk_sql(cols: str, key_expr: str, stratum_expr: str, k: int) -> str:
    """The identical selection as ANSI SQL (the oracle twin is the
    UNPRUNED window spec — the prune is plan, not semantics)."""
    return f"""
        SELECT {cols}, sample_rank FROM (
            SELECT {cols},
                   ROW_NUMBER() OVER (
                       PARTITION BY {stratum_expr}
                       ORDER BY {lcg_u31_sql(key_expr)}, {key_expr}
                   ) AS sample_rank
            FROM documents
        ) WHERE sample_rank <= {k}
    """
