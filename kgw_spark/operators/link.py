"""Entity linking: resolve raw mention ids through an alias dictionary.

The broadcast path is ``canon.compose_mapping`` + ``canon.canonicalize``:
disambiguation and connected components are composed into one ``(id,
canonical_id)`` mapping, which is broadcast-joined on subj and obj — no
shuffle, immune to skew (hot entities hit every executor's local hash
map). This is the scale-up of the reference's in-driver annotation-dict
merge (kgw/biomedicine/_primekg.py:155-172, T7 in SURVEY §2.2).

``link_salted`` is the path for a dictionary too big to broadcast: a
plain shuffle join on the alias id would send every mention of a hot
entity (e.g. a function called from 60% of all files) to one reducer.
We salt: replicate each dictionary row K = ``NUM_SALTS`` ways, key the
big side by (alias, pmod(hash(lineage), K)) so hot keys spread over K
reducers.
Deterministic (hash of lineage columns, no rand()).

Disambiguation: when the dictionary offers multiple candidates per
alias, the highest-scoring candidate wins (ties broken by canonical id
ascending) via max_by-style aggregation before the join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# salted-link fan-out: dictionary replicas, and reducers per hot alias
NUM_SALTS = 16


def best_candidates(alias_df: DataFrame) -> DataFrame:
    """Disambiguate: one winning (canonical_id, score) per alias_id.
    Ties broken deterministically by canonical_id ascending."""
    w = Window.partitionBy("alias_id").orderBy(
        F.desc("score"), F.asc("canonical_id")
    )
    return (
        alias_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _apply_mapping(mentions: DataFrame, mapping: DataFrame, col: str) -> DataFrame:
    mm = mapping.select(
        F.col("alias_id").alias(f"_{col}_alias"),
        F.col("canonical_id").alias(f"_{col}_canon"),
    )
    return (
        mentions.join(mm, mentions[col] == F.col(f"_{col}_alias"), "left")
        .withColumn(col, F.coalesce(F.col(f"_{col}_canon"), F.col(col)))
        .drop(f"_{col}_alias", f"_{col}_canon")
    )


def link_salted(mentions: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Resolve obj via a salted repartition join (dictionary too large to
    broadcast). The subj side rarely skews (subjects are files/defs), so
    only obj — where hot entities live — gets the salted treatment here;
    callers can apply it to both sides symmetrically if needed."""
    mapping = best_candidates(alias_df)
    salted_dict = mapping.select(
        F.col("alias_id").alias("_obj_alias"),
        F.col("canonical_id").alias("_obj_canon"),
    ).withColumn("_dsalt", F.explode(F.sequence(F.lit(0), F.lit(NUM_SALTS - 1))))
    big = mentions.withColumn(
        "_salt",
        F.pmod(F.hash("repo", "path", "content_sha256"), F.lit(NUM_SALTS)).cast("int"),
    )
    out = (
        big.join(
            salted_dict.hint("shuffle_hash"),
            (big["obj"] == F.col("_obj_alias")) & (big["_salt"] == F.col("_dsalt")),
            "left",
        )
        .withColumn("obj", F.coalesce(F.col("_obj_canon"), F.col("obj")))
        .drop("_obj_alias", "_obj_canon", "_dsalt", "_salt")
    )
    # subj side: plain shuffle join (no hot keys among subjects)
    return _apply_mapping(out, mapping, "subj")
