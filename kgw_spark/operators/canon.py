"""Canonicalization: alias resolution as distributed connected components.

Union-find re-expressed for Spark as the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014 — public paper; converges in
O(log n) rounds, each round pure DataFrame groupBy + self-join).
Each round is ``localCheckpoint()``-ed to cut lineage, and convergence
is detected by edge-set stability — the "iterative DataFrame self-joins
with checkpointed convergence" the north rule requires. Below the
driver budget the same components come from one numpy kernel on the
driver (``incore.components``).

Canonical id convention: lexicographic minimum of the component
(documented deviation from the reference's order-dependent first-seen
dedup, kgw/biomedicine/_oregano.py:190-196; SURVEY §7.4).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type

from kgw_spark.operators import incore


def _symmetrize(pairs: DataFrame) -> DataFrame:
    fwd = pairs.select(F.col("u"), F.col("v"))
    rev = pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    return fwd.union(rev).filter(F.col("u") != F.col("v")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    mins = e.groupBy("u").agg(F.min("v").alias("_mv"))
    mins = mins.withColumn("m", F.least(F.col("u"), F.col("_mv"))).select("u", "m")
    return (
        e.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    smaller = e.filter(F.col("v") <= F.col("u"))
    mins = smaller.groupBy("u").agg(F.min("v").alias("_mv"))
    mins = mins.withColumn("m", F.least(F.col("u"), F.col("_mv"))).select("u", "m")
    via_neighbors = (
        smaller.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return via_neighbors.union(self_edges).filter(F.col("u") != F.col("v"))


# large-star/small-star rounds before the distributed path gives up
MAX_ITERATIONS = 50


def connected_components(pairs: DataFrame) -> DataFrame:
    """``pairs(u, v)``: undirected equivalence edges between entity ids.

    Returns a mapping DataFrame ``(id, canonical_id)`` covering every id
    of a non-identity pair (canonical roots map to themselves).

    Input contract (``pairs.py``): the caller materializes; this reads
    ``pairs`` at most three times. Below the driver budget (one Arrow
    collect, ``incore._collect``) the components are solved in-core by
    ``incore.connected_components`` — the alias graph is typically
    millions of rows while the corpus is trillions, so one collect beats
    ~2·log(n) distributed shuffle rounds. Past it, or when an id is
    null (the distributed ``u != v`` filter drops that pair), the
    large-star/small-star iteration runs with parallelism sized to the
    edge set, not the session default — empty-task churn at
    session-level partition counts costs more than the data (one
    partition per ~100k edges).
    """
    out = incore.connected_components(pairs)
    if out is not None:
        return out
    spark = pairs.sparkSession
    n = pairs.count()
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    num_partitions = max(1, min(cap, n // 100_000 + 1))
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    try:
        e = _symmetrize(pairs).repartition(num_partitions).localCheckpoint(eager=True)
        prev = None
        for _ in range(MAX_ITERATIONS):
            e = _symmetrize(_large_star(e))
            e = _symmetrize(_small_star(e))
            e = e.localCheckpoint(eager=True)
            if prev is not None:
                changed = e.exceptAll(prev).limit(1).count() + prev.exceptAll(
                    e
                ).limit(1).count()
                if changed == 0:
                    break
            prev = e
        else:
            raise RuntimeError("connected_components failed to converge")

        labels = (
            e.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select(
                F.col("u").alias("id"),
                F.least(F.col("u"), F.col("_mv")).alias("canonical_id"),
            )
        )
        roots = labels.select(
            F.col("canonical_id").alias("id")
        ).distinct().withColumn("canonical_id", F.col("id"))
        out = labels.union(roots).groupBy("id").agg(
            F.min("canonical_id").alias("canonical_id")
        )
        # materialize under the reduced parallelism before restoring it
        return out.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def alias_pairs(alias_df: DataFrame) -> DataFrame:
    """Alias dictionary rows → undirected equivalence pairs."""
    return alias_df.select(
        F.col("alias_id").alias("u"), F.col("canonical_id").alias("v")
    )


def compose_mapping_local(spark, rows, id_type: pa.DataType) -> DataFrame:
    """The in-core link∘canonicalize mapping for a DRIVER-RESIDENT
    alias dictionary: ``rows`` iterates (alias_id, canonical_id, score)
    tuples already in driver memory (the common production shape — a
    curated dictionary loaded from a file — and what ``compose_mapping``
    collects below the driver budget). Runs disambiguation (best
    candidate per alias: score desc with None ranked last, canonical
    asc), ``incore.encode`` and the ``incore.components`` kernel
    (lexicographic-min representative) with ZERO Spark jobs, returning
    the broadcast-hinted mapping frame. A winning pair with a null id
    unions nothing, as on the distributed path. Callers that already
    hold the rows (pipelines fed from a dictionary file) should pass
    them via ``run_pipeline(alias_local=...)`` — the collect of a
    dictionary that is not driver-resident is serial wall on every
    pipeline run.
    ``id_type`` is the Arrow type of the ids, the dictionary's own
    (Python ints alone do not say int from bigint)."""
    best: dict[str, tuple[float, bool, str]] = {}
    for alias, canon, score in rows:
        # None score ranks below every real score and a None canonical
        # above every real one — the generic window path's F.desc
        # nulls-last and F.asc nulls-first
        cand = (float("inf") if score is None else -score, canon is not None, canon)
        cur = best.get(alias)
        if cur is None or cand < cur:
            best[alias] = cand
    win = [(a, c) for a, (*_key, c) in best.items() if a is not None and c is not None]
    # one Arrow array of the aliases then the canonicals, typed as the
    # ids are
    col = pa.array([a for a, _ in win] + [c for _, c in win], id_type)
    (codes,), ids = incore.encode(col)
    uv = codes[: len(win)], codes[len(win):]
    # broadcast of a LocalRelation: zero tasks, where a plain
    # createDataFrame(list) schedules a cores-wide python job on every
    # pipeline run just to pickle a few dozen rows
    return F.broadcast(incore.component_mapping(spark, uv, ids))


def compose_mapping(alias_df: DataFrame, alias_rows=None) -> DataFrame:
    """Disambiguate-then-union: the best-scoring candidate per alias
    (link semantics) feeds the equivalence pairs, and the connected
    components of those pairs give one final ``(id, canonical_id)``
    mapping. Applying this mapping once is algebraically the
    composition link∘canonicalize, at half the broadcast joins —
    losing low-score candidates deliberately do NOT union components.

    While the alias dictionary fits the driver budget, the whole
    disambiguate+union runs in-core (``compose_mapping_local``): the
    generic path (window row_number → ``connected_components``)
    schedules several separate tiny Spark jobs whose scheduling
    barriers are pure serial time on every pipeline run. A dictionary
    ``incore.held_on_driver`` is read by ``collect()``, with no job; any
    other goes through ``incore._collect``: ONE Arrow collect, vetoed
    past ``spark.driver.maxResultSize`` and then bounded by
    ``incore.DRIVER_MAX_ROWS`` rows — NOT a Catalyst size estimate
    (arrow-enabled ``createDataFrame`` frames are stats-less, so a stats
    gate silently never fires). ``alias_rows`` (driver-resident
    (alias, canonical, score) tuples) skips even that collect. The
    returned mapping carries an explicit broadcast hint — it is
    driver-resident by construction, and without the hint the
    stats-less plan would cost ``canonicalize`` a full shuffle-write of
    the mentions table before AQE rescues the join. Semantics are
    identical to the generic path: best candidate per alias = (score
    desc, canonical asc), identity pairs dropped, lexicographic-min
    component representative."""
    from kgw_spark.operators.link import best_candidates

    id_type = to_arrow_type(alias_df.schema["alias_id"].dataType)
    if alias_rows is not None:
        return compose_mapping_local(alias_df.sparkSession, alias_rows, id_type)
    cols = alias_df.select("alias_id", "canonical_id", "score")
    if incore.held_on_driver(cols):
        return compose_mapping_local(alias_df.sparkSession, cols.collect(), id_type)
    tbl = incore._collect(cols, "alias_id", "canonical_id")
    if tbl is not None and tbl.num_rows <= incore.DRIVER_MAX_ROWS:
        rows = zip(*(c.to_pylist() for c in tbl.columns))
        return compose_mapping_local(alias_df.sparkSession, rows, id_type)
    return connected_components(alias_pairs(best_candidates(alias_df)))


def canonicalize(mentions: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the component mapping (left joins; ids
    outside any component are already canonical). The mapping can be as
    large as the alias graph — the very case the salted link path exists
    for — so the joins are unhinted: Catalyst broadcasts the mapping
    while its size estimate is under the broadcast threshold (and
    ``compose_mapping``'s driver-resident mapping carries its own
    hint), otherwise AQE chooses from runtime sizes."""
    out = mentions
    for col in ("subj", "obj"):
        mm = mapping.withColumnRenamed("id", f"_{col}_id").withColumnRenamed(
            "canonical_id", f"_{col}_canon"
        )
        out = (
            out.join(mm, out[col] == mm[f"_{col}_id"], "left")
            .withColumn(col, F.coalesce(F.col(f"_{col}_canon"), F.col(col)))
            .drop(f"_{col}_id", f"_{col}_canon")
        )
    return out
