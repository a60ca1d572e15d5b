"""Extraction stage: corpus files → raw mention triples.

Vectorized per-partition extraction with ``mapInPandas`` (Arrow batches,
no per-row Python UDFs — north-rule input_hint). The per-row invariant
``sha256(content) == content_sha256`` is enforced JVM-side with
``sha2()`` + ``raise_error()`` *before* the Python stage, so a corrupt
row fails the job instead of silently producing wrong triples
(reference analog: checksum validation kgw/_shared/extract.py:203-214,
enforced in DownloadFile.run kgw/_shared/tasks.py:116-128).
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgw_spark.functions.extract_rules import COMPILED
from kgw_spark.model import LINEAGE_COLS, MENTIONS_SCHEMA


def check_sha256(corpus: DataFrame) -> DataFrame:
    """Enforce the content-sha256 invariant as a zero-extra-pass filter:
    rows pass through untouched; a mismatch raises inside the scan."""
    bad = F.sha2(F.col("content"), 256) != F.col("content_sha256")
    return corpus.filter(
        F.when(
            bad,
            F.raise_error(
                F.concat(
                    F.lit("content_sha256 invariant violated for "),
                    F.col("repo"),
                    F.lit("/"),
                    F.col("path"),
                )
            ),
        ).otherwise(F.lit(True))
    )


def _tpl_parts(tpl: str) -> tuple[str | None, int]:
    """Parse "FILE" / "module:{1}" / "class:{2}" into (prefix, group_idx)."""
    if tpl == "FILE":
        return None, -1
    prefix, _, group = tpl.partition("{")
    return prefix, int(group.rstrip("}")) - 1


def _extract_batches(
    batches: Iterator[pd.DataFrame], packed: bool = False
) -> Iterator[pd.DataFrame]:
    """Batch kernel. Everything after the regex scan is positional
    numpy on object arrays — pandas label indexing (``.loc`` with a
    duplicated index) and per-rule DataFrame construction measured ~2×
    the cost of the regex passes themselves, so lineage replication is
    ``np.repeat`` per column and the batch's output frame is assembled
    exactly once from concatenated column arrays.

    ``packed=True`` emits lineage as ONE ``\\x01``-delimited string
    column ``_lineage`` (repo/path/commit/sha) instead of four: the
    fused pipeline's edge aggregation immediately folds the four into
    exactly that delimited key (graph.build_edges), so packing at the
    source replaces three ``np.repeat`` passes + three Arrow string
    columns per mention row with one — measurably less python CPU and
    JVM↔python transfer on the hot extraction stage."""
    first = True
    out_cols: list[str] = []
    lineage_src: list[str] = []
    for pdf in batches:
        if pdf.empty:
            continue
        if first:
            # rank mode: the corpus rows carry a pre-computed lineage
            # dictionary rank (pipeline.run_pipeline) — the shuffle then
            # moves one int64 per mention instead of the ~110-byte
            # repo/path/commit/sha string (the sha hex alone is 64
            # chars), and min(rank) selects the identical
            # lexicographically-first witness
            rank_mode = packed and "_lrank" in pdf.columns
            lineage_src = (
                ["_lrank"] if rank_mode else ["_lineage"] if packed else list(LINEAGE_COLS)
            )
            out_cols = (
                ["subj", "pred", "obj", *lineage_src]
                if packed
                else [f.name for f in MENTIONS_SCHEMA.fields]
            )
            first = False
        pdf = pdf.reset_index(drop=True)
        repo = pdf["repo"].to_numpy()
        lin = {
            "fid": ("file:" + pdf["repo"] + "/" + pdf["path"]).to_numpy(),
            "repo": repo,
            "path": pdf["path"].to_numpy(),
            "commit": pdf["commit"].to_numpy(),
            "content_sha256": pdf["content_sha256"].to_numpy(),
        }
        if packed:
            if "_lrank" in lineage_src:
                lin["_lrank"] = pdf["_lrank"].to_numpy()
            else:
                lin["_lineage"] = (
                    pdf["repo"]
                    + "\x01"
                    + pdf["path"]
                    + "\x01"
                    + pdf["commit"]
                    + "\x01"
                    + pdf["content_sha256"]
                ).to_numpy()
        n = len(pdf)
        # per-output-column chunks, concatenated once per batch
        chunks: dict[str, list[np.ndarray]] = {c: [] for c in out_cols}

        def emit(pred: str, subj, obj, take, cnz):
            m = len(subj)
            chunks["subj"].append(subj)
            chunks["pred"].append(np.full(m, pred, dtype=object))
            chunks["obj"].append(obj)
            for c in lineage_src:
                chunks[c].append(np.repeat(lin[c][take], cnz))

        # structural triple: every file belongs to its repo
        ones = np.ones(n, dtype=np.int64)
        emit("in_repo", lin["fid"].copy(), "repo:" + pdf["repo"].to_numpy(),
             np.arange(n), ones)

        lang_np = pdf["lang"].to_numpy()
        for lang, rules in COMPILED.items():
            idx = np.flatnonzero(lang_np == lang)
            if not len(idx):
                continue
            content = pdf["content"].iloc[idx]
            for pred, rx, s_tpl, o_tpl in rules:
                # vectorized: one findall per (rule, lang-slice) —
                # ~10x cheaper than extractall on high-hit rules (no
                # MultiIndex frame built per match)
                lists = content.str.findall(rx)
                counts = lists.str.len().to_numpy()
                nz = counts > 0
                if not nz.any():
                    continue
                take = idx[nz]
                cnz = counts[nz]
                flat = list(
                    itertools.chain.from_iterable(lists.to_numpy()[nz])
                )
                # findall yields strings for 1-group patterns, tuples
                # for multi-group — normalize to positional columns
                if flat and isinstance(flat[0], tuple):
                    groups = [
                        np.array(g, dtype=object) for g in zip(*flat)
                    ]
                else:
                    groups = [np.array(flat, dtype=object)]

                def col_for(tpl: str):
                    prefix, gi = _tpl_parts(tpl)
                    if prefix is None:
                        return np.repeat(lin["fid"][take], cnz)
                    return prefix + groups[gi]

                emit(pred, col_for(s_tpl), col_for(o_tpl), take, cnz)

        yield pd.DataFrame(
            {c: np.concatenate(chunks[c]) for c in out_cols}
        )


def extract_mentions(corpus: DataFrame, packed_lineage: bool = False) -> DataFrame:
    """Corpus table → raw mention triples with lineage columns.

    ``packed_lineage=True`` emits one ``_lineage`` column (the
    ``\\x01``-delimited repo/path/commit/sha string build_edges folds
    to anyway) instead of the four MENTIONS_SCHEMA lineage columns —
    the fused-pipeline fast shape. The materialized mentions TABLE
    contract keeps the four-column shape (default).

    Scales by corpus partition: each Arrow batch is processed with
    vectorized pandas string ops; no shuffle is introduced (extraction
    is embarrassingly parallel; the first shuffle happens later at
    link/dedup time).
    """
    src = check_sha256(corpus)
    if packed_lineage:
        import functools

        from pyspark.sql import types as T

        rank_mode = "_lrank" in corpus.columns
        schema = T.StructType(
            [
                T.StructField("subj", T.StringType(), False),
                T.StructField("pred", T.StringType(), False),
                T.StructField("obj", T.StringType(), False),
                (
                    T.StructField("_lrank", T.LongType(), False)
                    if rank_mode
                    else T.StructField("_lineage", T.StringType(), False)
                ),
            ]
        )
        return src.mapInPandas(
            functools.partial(_extract_batches, packed=True), schema=schema
        )
    return src.mapInPandas(_extract_batches, schema=MENTIONS_SCHEMA)
