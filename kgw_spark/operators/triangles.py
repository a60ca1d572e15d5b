"""Exact triangle counting over an undirected pair graph.

The 100-TB-safe formulation is degree-ordered orientation: every
undirected edge points from its (degree, id)-smaller endpoint to the
larger one, so each triangle is counted exactly once — as a wedge at
its lowest-degree vertex closed by one edge lookup. Wedge work is
Σ out-deg², and orientation bounds out-degree by O(√m) on any graph:
a 10^6-degree hub emits NO wedges (all its edges point inward), which
is what makes this shape survive skewed similarity graphs where the
naive 3-way self-join explodes.

Everything is integer counting over deterministic orderings, so the
result is exactly value-oracle-able in SQL.

Below the driver budget (``incore.triangle_count``: one Arrow collect
of the pair list) the same orientation and
wedge-closing count run as numpy sorts on the driver; past it the joins
below run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.operators import incore
from kgw_spark.operators.pairs import degrees


def triangle_count(pairs: DataFrame) -> DataFrame:
    """One row ``(n_edges, n_wedges, n_triangles)`` for the undirected
    simple graph given by the canonical pair list ``pairs``
    (``pairs.canonical_pairs``), which feeds degree counting,
    orientation and the closing-edge lookup."""
    out = incore.triangle_count(pairs)
    if out is not None:
        return out
    deg = degrees(pairs)
    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("dv"))
    ed = pairs.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    o1 = oriented.select(F.col("src"), F.col("dst").alias("b1"))
    o2 = oriented.select(F.col("src"), F.col("dst").alias("b2"))
    wedges = o1.join(o2, "src").filter(F.col("b1") < F.col("b2"))
    # wedge count and closed-wedge (triangle) count in ONE pass over
    # the wedge set: a left join against the distinct edge list matches
    # at most one row per wedge, so count(*) is the wedge count and
    # count(matched key) the triangle count — vs the previous
    # count(wedges) + count(left_semi) pair that built the wedge join
    # twice
    closing = pairs.select(F.col("u").alias("_cu"), F.col("v").alias("_cv"))
    closed = wedges.join(
        closing,
        (F.col("_cu") == F.least("b1", "b2"))
        & (F.col("_cv") == F.greatest("b1", "b2")),
        "left",
    )
    return pairs.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        closed.agg(
            F.count(F.lit(1)).alias("n_wedges"),
            F.count("_cu").alias("n_triangles"),
        )
    )
