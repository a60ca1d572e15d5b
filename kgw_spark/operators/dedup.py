"""Deduplication operators for large-scale training-data pipelines.

Exact and near-duplicate detection over a documents table. Shapes:

- exact:        hash-groupBy, one shuffle on the content hash
- n-gram Jaccard: shingle-explode → self-join on shingle → pair-count
                  (the classic all-pairs similarity join; shingle join
                  keys are pre-filtered by document frequency to kill
                  the quadratic blowup from stop-shingles)
- MinHash+LSH:  shingle → K minhashes → B bands → bucket join →
                  candidate pairs → exact-Jaccard verify
- SimHash:      token hashes → 64-bit weighted-majority fingerprint →
                  near-pairs by banded equality on fingerprint chunks
- embedding:    cosine ≥ τ via (optionally LSH-bucketed) self-join

All hashing is JVM-side (xxhash64 / murmur hash) — deterministic and
shuffle-friendly. Past the driver budget no Python runs in the hot
path. Below it n-gram Jaccard, MinHash+LSH and SimHash collect each
document's distinct shingles or its token hashes once (hashes always
JVM-side) and run the same algorithm as a numpy kernel on the driver:
the capped shingle self-join as pairs within shingle groups
(``incore.ngram_jaccard_pairs``), the same signatures, bands and
verify (``incore.minhash_lsh_pairs``), and the same fingerprints,
chunks and Hamming filter (``incore.simhash_near_pairs``). The other
searches always run their distributed plans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kgw_spark.operators import incore
from kgw_spark.operators.pairs import broadcast_within

# the documents table's columns
ID_COL = "doc_id"
TEXT_COL = "text"
# seed of the MinHash permutation coefficients
MINHASH_SEED = 7


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------
def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical documents: (keep_id, dup_id) pairs where
    keep_id is the smallest id with identical content. One shuffle on
    sha256(text) — at 100 TB, hash first so the shuffle key is 32 bytes,
    not the document."""
    h = F.sha2(F.col(TEXT_COL), 256).alias("text_sha256")
    by_hash = docs.select(F.col(ID_COL), h)
    keepers = by_hash.groupBy("text_sha256").agg(F.min(ID_COL).alias("keep_id"))
    return (
        by_hash.join(keepers, "text_sha256")
        .filter(F.col(ID_COL) != F.col("keep_id"))
        .select("keep_id", F.col(ID_COL).alias("dup_id"), "text_sha256")
    )


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------
def word_ngrams(text_col: str, n: int) -> Column:
    """The word n-grams of ``text_col`` in token order, as an array
    column, built JVM-side as a chain of zip_with over shifted slices —
    O(tokens) per row and ~2x faster than the
    transform(sequence)/dynamic-getItem formulation (null padding from
    the shorter slice marks the ragged tail, filtered at the end)."""
    toks = F.split(F.trim(F.col(text_col)), "\\s+")
    acc = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        acc = F.zip_with(
            acc,
            shifted,
            lambda x, y: F.when(
                x.isNull() | y.isNull(), F.lit(None)
            ).otherwise(F.concat(x, F.lit(" "), y)),
        )
    return F.filter(acc, lambda s: s.isNotNull())


def shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document."""
    grams = F.array_distinct(word_ngrams(TEXT_COL, n))
    return docs.select(F.col(ID_COL), F.explode(grams).alias("shingle"))


def _shingle_sets(docs: DataFrame, n: int) -> DataFrame:
    """``(id, shingles)``: each document's distinct word n-grams as one
    array — the shape the in-core kernels collect."""
    return docs.select(
        F.col(ID_COL).alias("id"),
        F.array_distinct(word_ngrams(TEXT_COL, n)).alias("shingles"),
    )


def _jaccard_pairs(common: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """``(a, b, jaccard)`` from shared-shingle counts ``(a, b, common)``
    and the ``(id, shingle)`` table of their documents: exact Jaccard
    ``common / (size_a + size_b - common)`` rounded to 6, kept at
    ``>= threshold``. ``sh`` must hold each document's full shingle set
    — it is the denominator."""
    sizes = sh.groupBy(ID_COL).agg(F.count(F.lit(1)).alias("_size"))
    sa = sizes.select(F.col(ID_COL).alias("a"), F.col("_size").alias("size_a"))
    sb = sizes.select(F.col(ID_COL).alias("b"), F.col("_size").alias("size_b"))
    return _jaccard(common.join(sa, "a").join(sb, "b"), threshold)


def _jaccard(counts: DataFrame, threshold: float) -> DataFrame:
    """``(a, b, jaccard)`` from ``(a, b, common, size_a, size_b)``: exact
    Jaccard rounded to 6 (half-up), kept at ``>= threshold``."""
    return (
        counts.withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """All (a, b) doc pairs (a < b) with n-gram Jaccard ≥ threshold.

    ``max_shingle_df`` drops shingles shared by more than that many docs
    before the self-join — the guard against stop-shingle key explosion
    at scale (a shingle in 1M docs creates 10^12 pairs). The default
    (1000) is scale-safe: a single join key contributes at most ~500k
    pairs. EXACTNESS TRADE-OFF: a capped run loses only pairs whose
    *every* common shingle exceeds the cap — for near-duplicate
    thresholds such pairs share many shingles and the overwhelming
    majority are sub-cap, so losses are confined to pathological
    stop-shingle-only overlaps. Pass ``None`` explicitly for exact
    semantics when the corpus is known small (the oracle/test path).

    Below the driver budget (``incore.ngram_jaccard_pairs``) one Arrow
    collect brings each document's distinct shingles to the driver,
    where the same capped self-join counts the shared shingles; only
    the Jaccard rounding and the threshold (``_jaccard``) run in Spark.
    """
    counts = incore.ngram_jaccard_pairs(_shingle_sets(docs, n), threshold, max_shingle_df)
    if counts is not None:
        return _jaccard(counts, threshold)
    # NOTE: deliberately NOT persisted — measured A/B at sf0.1/32
    # lanes: caching the wide (id, shingle-string) table costs more in
    # memory bandwidth than the codegen-fused recompute saves (persist
    # 3.5-3.9s vs recompute 3.2-3.8s warm), the same result as the
    # r5 edges-stage persist revert; minhash_lsh_pairs persists its
    # shingles because the verify phase re-reads them per candidate,
    # a different access pattern
    sh = shingles(docs, n)
    df_per_shingle = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    # exact-preserving prune: a shingle in a single document can never
    # contribute to a pair — drop it before the quadratic self-join
    keep = df_per_shingle.filter(F.col("_df") >= 2)
    if max_shingle_df is not None:
        keep = keep.filter(F.col("_df") <= max_shingle_df)
    joinable = sh.join(keep.select("shingle"), "shingle")

    a = joinable.select(F.col(ID_COL).alias("a"), "shingle")
    b = joinable.select(F.col(ID_COL).alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # sizes over the UNFILTERED shingles: the Jaccard denominator is
    # over full shingle sets
    return _jaccard_pairs(common, sh, threshold)


# --------------------------------------------------------------------------
# Winnowing (MOSS-style) fingerprints — the standard source-code
# near-dup / plagiarism technique: guaranteed to share a fingerprint
# with any copy that shares a run of at least w+k-1 tokens, while
# storing only ~2/(w+1) of the gram hashes.
# --------------------------------------------------------------------------
# fingerprint document-frequency cap of ``winnow_pairs``
MAX_FP_DF = 1000


def positional_shingles(docs: DataFrame, n: int = 5) -> DataFrame:
    """(id, pos, shingle): word n-grams WITH their position — winnowing
    needs the gram sequence, not the gram set. Same zip-with-chain
    construction as ``shingles``, minus the distinct."""
    return docs.select(
        F.col(ID_COL),
        F.posexplode(word_ngrams(TEXT_COL, n)).alias("pos", "shingle"),
    )


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4) -> DataFrame:
    """Per-doc winnowed fingerprint set: hash every word ``k``-gram
    (xxhash64, JVM-side), slide a ``w``-gram window over the hash
    sequence, keep the minimum of each window, dedup. One narrow
    pass + a per-doc sort window — no shuffle of text. Guarantee: two
    docs sharing ≥ w+k-1 consecutive tokens share ≥ 1 fingerprint."""
    sh = positional_shingles(docs, k).withColumn("h", F.xxhash64("shingle"))
    win = Window.partitionBy(ID_COL).orderBy("pos").rowsBetween(0, w - 1)
    # only full windows select a fingerprint (positions past
    # n_grams - w would re-select suffix minima over short windows);
    # docs with fewer than w grams have no full window — standard
    # winnowing still keeps min(h) over ALL their grams as the single
    # fingerprint (pos 0's window covers every gram then), so short
    # docs remain matchable
    # same partitioning AND ordering as `win` with an unbounded frame:
    # the per-partition count is frame-independent, but sharing the
    # (partition, order) spec lets Catalyst evaluate both window
    # functions in ONE Window operator — one shuffle+sort of the
    # shingle table instead of two (it is the largest intermediate in
    # the query)
    n_grams = Window.partitionBy(ID_COL).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    fp = (
        sh.withColumn("_min", F.min("h").over(win))
        .withColumn("_total", F.count(F.lit(1)).over(n_grams))
        .filter(
            (F.col("pos") <= F.col("_total") - w)
            | ((F.col("_total") < w) & (F.col("pos") == 0))
        )
        .select(F.col(ID_COL), F.col("_min").alias("fingerprint"))
        .distinct()
    )
    return fp


def winnow_pairs(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """(a, b, n_shared): doc pairs sharing ≥ ``min_shared`` winnowed
    fingerprints — code-clone candidates. The self-join carries only
    (id, 8-byte fingerprint); ``MAX_FP_DF`` caps join-key fan-out the
    same way ngram_jaccard_pairs' shingle cap does (boilerplate
    fingerprints in >cap docs are dropped before the quadratic join,
    with the same documented trade-off)."""
    # the fingerprint table feeds three plan references (df counts +
    # both self-join sides); without a persist each re-runs the
    # shingle explode + window-min pass — same discipline as
    # minhash_lsh_pairs/ngram_jaccard_pairs, released after the
    # result checkpoint below
    fp0 = winnow_fingerprints(docs, k, w).persist()
    per_fp = fp0.groupBy("fingerprint").agg(F.count(F.lit(1)).alias("_df"))
    keep = per_fp.filter((F.col("_df") >= 2) & (F.col("_df") <= MAX_FP_DF))
    fp = fp0.join(keep.select("fingerprint"), "fingerprint")
    a = fp.select(F.col(ID_COL).alias("a"), "fingerprint")
    b = fp.select(F.col(ID_COL).alias("b"), "fingerprint")
    out = (
        a.join(b, "fingerprint")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    ).localCheckpoint(eager=True)
    fp0.unpersist()
    return out


def ngram_containment(train: DataFrame, eval_df: DataFrame, n: int = 8) -> DataFrame:
    """Benchmark-decontamination primitive: for every eval document, the
    fraction of its word n-grams that appear ANYWHERE in the training
    corpus — ``(doc_id, n_grams, n_hit, containment)``. High containment
    means the eval doc leaks into training data.

    Scale shape: the train side is reduced to DISTINCT shingles before
    the join (set membership, not pair counting), so the shuffle moves
    each unique train n-gram once; eval is tiny relative to train by
    construction. At 100 TB, hash the shingle to 8 bytes first
    (``F.xxhash64``) on both sides — elided here so the result stays
    exactly SQL-oracle-able over raw shingles."""
    tr = shingles(train, n).select("shingle").distinct()
    ev = shingles(eval_df, n)
    sizes = ev.groupBy(ID_COL).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = ev.join(tr, "shingle").groupBy(ID_COL).agg(
        F.count(F.lit(1)).alias("_hit")
    )
    return (
        sizes.join(hits, ID_COL, "left")
        .select(
            F.col(ID_COL),
            "n_grams",
            F.coalesce(F.col("_hit"), F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce(F.col("_hit"), F.lit(0)) / F.col("n_grams"), 6
            ).alias("containment"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------
# 2^31 - 1: keeps a*h + b < 2^62, safe for ANSI-mode long arithmetic
_MERSENNE = (1 << 31) - 1


def _perm_coeffs(num_perm: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_perm)
    ]


def _shingle_hash(shingle: Column) -> Column:
    """The base hash of a shingle, ``abs(xxhash64) mod M`` (JVM-side)."""
    return F.abs(F.xxhash64(shingle)) % F.lit(_MERSENNE)


def _signatures_from_shingles(sh: DataFrame, num_perm: int, seed: int) -> DataFrame:
    """Signatures from an existing (id, shingle) table — lets callers
    that also need the shingle set for exact verification (LSH) build
    it once."""
    hashed = sh.withColumn("h", _shingle_hash(F.col("shingle")))
    coeffs = _perm_coeffs(num_perm, seed)
    # one aggregate pass: min per permutation. The whole array-of-mins
    # is ONE F.expr string — building num_perm Column trees through
    # py4j (~6 JVM round-trips each) cost ~1.5s of driver wall PER RUN
    # at any data size; a single SQL parse is milliseconds and yields
    # the identical Catalyst plan (same long arithmetic, same
    # GetArrayItem), so certified hashes are unchanged.
    terms = ",".join(
        f"min((h * {a}L + {b}L) % {_MERSENNE}L)" for a, b in coeffs
    )
    return hashed.groupBy(ID_COL).agg(F.expr(f"array({terms})").alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs via banded LSH on the minhash signature, then
    exact n-gram-Jaccard verification of candidates only.

    Plan discipline: the shingle table (a regex-split + zip-with-chain
    explode over every document — the most expensive projection in the
    pipeline) is built ONCE and persisted, feeding both the signature
    aggregation and the exact-Jaccard verify; the candidate set is
    checkpointed (it is band-collision-bounded and tiny relative to
    the corpus), so the verify phase broadcasts candidates into scans
    of the cached shingles instead of shuffling the shingle table on a
    composite key.

    Below the driver budget (``incore.minhash_lsh_pairs``) one
    projection computes each document's distinct shingles and their
    base hashes JVM-side, one Arrow collect brings them to the driver,
    and the same signatures, bands and exact verify run there; only the
    Jaccard rounding and the threshold (``_jaccard``) run in Spark."""
    assert num_perm % bands == 0
    rows_per_band = num_perm // bands
    grams = _shingle_sets(docs, n).select(
        "id", "shingles", F.transform("shingles", _shingle_hash).alias("h")
    )
    counts = incore.minhash_lsh_pairs(
        grams, _perm_coeffs(num_perm, MINHASH_SEED), rows_per_band, threshold
    )
    if counts is not None:
        return _jaccard(counts, threshold)
    sh = shingles(docs, n).persist()
    sig = _signatures_from_shingles(sh, num_perm, MINHASH_SEED)
    # band structs as ONE parsed expression (not bands×rows_per_band
    # py4j Column constructions — see _signatures_from_shingles)
    band_structs = ",".join(
        "struct({bi} as band, xxhash64({cols}) as bucket)".format(
            bi=bi,
            cols=",".join(
                f"sig[{bi * rows_per_band + r}]" for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    banded = sig.select(
        F.col(ID_COL),
        F.expr(f"explode(array({band_structs}))").alias("bb"),
    ).select(ID_COL, "bb.band", "bb.bucket")
    a = banded.select(F.col(ID_COL).alias("a"), "band", "bucket")
    b = banded.select(F.col(ID_COL).alias("b"), "band", "bucket")
    # the candidate set is band-collision-bounded and tiny relative to
    # the corpus; it is eagerly materialized because the verify phase
    # below references it TWICE (pair join + doc-set prune) — left
    # lazy, both references would inline the full banded-signature
    # subplan, and the duplicated 64-permutation codegen measurably
    # blew the JVM code cache (JIT disabled itself mid-session,
    # "compilation: disabled", 2-4x walls). The r5 note that a
    # checkpoint here was slower predates the second reference.
    candidates = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # verify candidates with exact jaccard — but FIRST prune the cached
    # shingle table to docs that appear in some candidate pair (a
    # semi-join, map-side over the cache while the doc set is
    # broadcast): the verify joins and the size aggregation then run
    # over candidate-doc shingles only, a guide-(S)3.2 semi-join
    # reduction that also removes the (b, shingle)-keyed shuffle of the
    # full shingle table. This plan runs past the driver budget, where
    # heavy duplication can make the candidate-doc set approach the
    # corpus, so the broadcast is gated on its bound — at most two docs
    # per candidate — and the semi-join shuffles past the budget.
    cand_docs = (
        candidates.select(F.col("a").alias(ID_COL))
        .union(candidates.select(F.col("b").alias(ID_COL)))
        .distinct()
    )
    vsh = sh.join(broadcast_within(cand_docs, 2 * candidates.count()), ID_COL, "semi")
    sa = vsh.select(F.col(ID_COL).alias("a"), "shingle")
    sb = vsh.select(F.col(ID_COL).alias("b"), "shingle")
    common = (
        candidates.join(sa, "a")
        .join(sb, ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    # The verified pair set is band-collision-bounded (tiny); eagerly
    # materialize it so the shingle cache can be RELEASED here instead
    # of holding executor memory for the rest of the session —
    # downstream consumers (clustering CC, curation anti-joins) re-read
    # the checkpoint, not the shingle lineage.
    out = _jaccard_pairs(common, vsh, threshold).localCheckpoint(eager=True)
    sh.unpersist()
    return out


# --------------------------------------------------------------------------
# near-dup cluster resolution: pairs → components → representatives
# --------------------------------------------------------------------------
def near_dup_clusters(
    docs: DataFrame,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
) -> DataFrame:
    """The full production dedup flow: MinHash-LSH near-dup pairs →
    connected components (near-duplication is transitive-closed so one
    survivor represents each cluster, not each pair) → ``(doc_id,
    rep_id)`` with rep = min id per cluster. Docs in no pair are
    implicitly their own representative (not emitted). Downstream:
    ``docs.join(clusters, "doc_id", "left_anti" | keep rep rows)``."""
    from kgw_spark.operators.canon import connected_components

    # CC ids are strings with lexicographic-min representatives:
    # zero-pad numeric ids so lexicographic min == numeric min. Padding
    # is order-preserving only for non-negative ids ('-…1' sorts below
    # '-…2'), so negatives fail fast instead of silently electing a
    # non-minimal representative.
    id_type = dict(docs.dtypes)[ID_COL]
    integral = id_type in ("tinyint", "smallint", "int", "bigint")

    def pad(c):
        if not integral:
            return F.col(c).cast("string")
        return F.when(
            F.col(c) < 0,
            F.raise_error(
                F.concat(
                    F.lit("near_dup_clusters requires non-negative integral ids, got "),
                    F.col(c).cast("string"),
                )
            ),
        ).otherwise(F.format_string("%020d", F.col(c)))
    pairs = minhash_lsh_pairs(docs, n, num_perm, bands, threshold).select(
        pad("a").alias("u"), pad("b").alias("v")
    )
    mapping = connected_components(pairs)
    return mapping.select(
        F.col("id").cast(id_type).alias(ID_COL),
        F.col("canonical_id").cast(id_type).alias("rep_id"),
    )


def dedup_near(docs: DataFrame, threshold: float = 0.5, **kwargs) -> DataFrame:
    """Keep one representative per near-dup cluster plus all unclustered
    docs — the operator a 100-TB training-data pipeline actually runs."""
    clusters = near_dup_clusters(docs, threshold=threshold, **kwargs)
    losers = clusters.filter(F.col(ID_COL) != F.col("rep_id")).select(ID_COL)
    return docs.join(losers, ID_COL, "left_anti")


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------
def _token_hashes() -> Column:
    """Each document's whitespace tokens as their xxhash64s, JVM-side
    (Python has no xxhash64): THE token-hash expression of both SimHash
    paths — ``simhash`` explodes it, the in-core kernel collects it.
    Null text gives a null array, so no token."""
    return F.transform(F.split(F.trim(F.col(TEXT_COL)), "\\s+"), lambda t: F.xxhash64(t))


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash over whitespace tokens, computed as one exploded
    aggregation: per bit, sum(+1/-1 by token-hash bit) > 0."""
    tok = docs.select(F.col(ID_COL), F.explode(_token_hashes()).alias("h"))
    # Per-bit ±1 sums as ONE parsed array expression and the majority
    # fold as ONE higher-order aggregate() — not 64 py4j-built Column
    # trees plus a 64-term bitwiseOR chain, which cost ~1.4s of driver
    # wall per run (measured; the plan and values are identical:
    # shiftleft(1L, 63) handles bit 63 where a Python 1<<63 literal
    # would overflow long, exactly like the previous Column form).
    bit_sums = ",".join(
        f"sum(if((h & shiftleft(1L, {i})) != 0, 1, -1))" for i in range(bits)
    )
    agg = tok.groupBy(ID_COL).agg(F.expr(f"array({bit_sums})").alias("bs"))
    # unrolled OR chain (codegen-friendly, same shape Catalyst saw
    # before), just parsed from one string instead of 64 Column builds
    fold = " | ".join(
        f"if(bs[{i}] > 0, shiftleft(1L, {i}), 0L)" for i in range(bits)
    )
    return agg.select(F.col(ID_COL), F.expr(fold).alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs by SimHash: band the 64-bit fingerprint into
    (max_hamming+1) chunks — any pair within the Hamming radius must
    agree on at least one chunk (pigeonhole), so the join is on chunk
    equality, never all-pairs.

    Below the driver budget (``incore.simhash_near_pairs``) one Arrow
    collect brings each document's token hashes to the driver, where
    the same fingerprints, chunks and Hamming filter run as a numpy
    kernel. A null text has no token (``explode`` drops it), so its row
    stays out of the collect: the row bound's token count then bounds
    the collected rows too."""
    toks = docs.where(F.col(TEXT_COL).isNotNull()).select(
        F.col(ID_COL).alias("id"), _token_hashes().alias("h")
    )
    near = incore.simhash_near_pairs(toks, max_hamming)
    if near is not None:
        return near
    chunks = max_hamming + 1
    width = 64 // chunks
    # the signature table feeds BOTH sides of the banded self-join; left
    # lazy, each side inlines the full tokenize→explode→64-bit-sum
    # aggregation subplan (the query's dominant cost, verified in the
    # formatted plan: two identical Scan→Generate→HashAggregate legs).
    # Eagerly materializing the (id, 64-bit sig) rows — 16 bytes/doc,
    # corpus-count-bounded — computes it once; both join legs then scan
    # the checkpoint. Same discipline as minhash_lsh_pairs' candidate
    # checkpoint.
    sh = simhash(docs).localCheckpoint(eager=True)
    banded = sh.select(
        F.col(ID_COL),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned(F.col("simhash"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("cb"),
    ).select(ID_COL, "simhash", "cb.chunk", "cb.key")
    a = banded.select(
        F.col(ID_COL).alias("a"), F.col("simhash").alias("sig_a"), "chunk", "key"
    )
    b = banded.select(
        F.col(ID_COL).alias("b"), F.col("simhash").alias("sig_b"), "chunk", "key"
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["chunk", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
