"""Near-duplicate searches on both sides of the driver gate: MinHash-LSH
pairs (and the cluster resolution and curation built on them), n-gram
Jaccard pairs, SimHash near-pairs and multiprobe cosine-LSH pairs must
return the same rows and the same schema — names, types, nullability —
in-core below ``incore.DRIVER_MAX_ROWS`` as on the distributed plan
past it; MinHash also with its candidate-doc set past
``pairs.BCAST_MAX_IDS``, where the verify semi-join shuffles instead of
broadcasting. The fixtures are the adversarial shapes of each: no
input, one band group holding every document, documents without a
shingle, a token or an id, a shingle tipped over the
document-frequency cap by a document without an id, a repeated id, a
fingerprint with its sign bit set, and zero vectors."""

import random

import pytest

from kgw_spark.operators import dedup, incore, similarity
from kgw_spark.operators import pairs as pair_list


def _near_copies(seed, n=24, id_of=lambda i: i):
    """``n`` documents over a 12-word vocabulary, half of them a copy of
    another with one word changed: many shared shingles, so every band
    holds several collisions and the verify keeps and drops pairs."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    texts = [[rng.choice(vocab) for _ in range(rng.randint(6, 14))] for _ in range(n // 2)]
    for t in texts[: n // 2]:
        copy = list(t)
        copy[rng.randrange(len(copy))] = rng.choice(vocab)
        texts.append(copy)
    return [(id_of(i), " ".join(t)) for i, t in enumerate(texts)]


# name -> (id type, rows)
DOCS = {
    "empty": ("bigint", []),
    "all_identical": ("bigint", [(i, "the quick brown fox jumps over it") for i in range(9)]),
    # under three tokens (no 3-gram), empty, null and padded text, and a
    # null id between documents that share its shingles
    "no_shingles": (
        "bigint",
        [(0, "a b"), (1, "a"), (2, ""), (3, None), (4, "x y z w"), (None, "x y z w"),
         (5, "x y z w v"), (6, "  x   y z\tw "), (7, "a b")],
    ),
    "near_copies": ("bigint", _near_copies(1)),
    # string ids whose order is not their numeric order, and int ids
    "near_copies_str": ("string", _near_copies(2, id_of=lambda i: f"d{i}")),
    "near_copies_int": ("int", _near_copies(3, id_of=lambda i: 1000 - 7 * i)),
}


# the gates' defaults: the in-core path and the broadcast side
DRIVER_MAX_ROWS, BCAST_MAX_IDS = incore.DRIVER_MAX_ROWS, pair_list.BCAST_MAX_IDS


def _is_local(df):
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _paths(monkeypatch, paths, call):
    """``call()``'s (schema, rows) on each named path; the in-core result
    must be a LocalRelation, the others not."""
    out = {}
    for path in paths:
        monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", DRIVER_MAX_ROWS if path == "in_core" else -1)
        monkeypatch.setattr(pair_list, "BCAST_MAX_IDS", -1 if path == "shuffled" else BCAST_MAX_IDS)
        df = call()
        assert _is_local(df) == (path == "in_core"), path
        out[path] = (df.schema, _rows(df))
    return out


@pytest.mark.parametrize("name", list(DOCS))
def test_minhash_paths_agree(spark, monkeypatch, name):
    id_type, rows = DOCS[name]
    docs = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    got = _paths(
        monkeypatch,
        ["in_core", "distributed", "shuffled"],
        lambda: dedup.minhash_lsh_pairs(docs, n=3, num_perm=64, bands=16, threshold=0.2),
    )
    assert got["in_core"] == got["distributed"] == got["shuffled"]
    if name != "empty":
        assert got["in_core"][1], "fixture yields no pair"


@pytest.mark.parametrize("max_df", [1000, None, 3])
@pytest.mark.parametrize("name", list(DOCS))
def test_ngram_jaccard_paths_agree(spark, monkeypatch, name, max_df):
    id_type, rows = DOCS[name]
    docs = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    got = _paths(
        monkeypatch,
        ["in_core", "distributed"],
        lambda: dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_shingle_df=max_df),
    )
    assert got["in_core"] == got["distributed"]
    if max_df == 3 and name in ("all_identical", "no_shingles"):
        # every shared shingle is over the cap: in nine copies, or in four
        # rows for "x y z" and "y z w", where the id-less copy is the
        # fourth — the document frequency counts every row
        assert got["in_core"][1] == []
    elif name != "empty":
        assert got["in_core"][1], "fixture yields no pair"


@pytest.mark.parametrize("name", ["no_shingles", "near_copies"])
def test_dedup_near_paths_agree(spark, monkeypatch, name):
    """Cluster resolution and curation on the pairs of either path."""
    id_type, rows = DOCS[name]
    docs = spark.createDataFrame(rows, f"doc_id {id_type}, text string").filter("doc_id IS NOT NULL")
    for op in (dedup.near_dup_clusters, dedup.dedup_near):
        monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", DRIVER_MAX_ROWS)
        below = op(docs, threshold=0.2)
        monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
        past = op(docs, threshold=0.2)
        assert below.schema == past.schema, op.__name__
        assert _rows(below) == _rows(past), op.__name__


# SimHash adds two shapes: a repeated id, whose rows the distributed
# aggregate merges (so the kernel hands it back at any budget), and
# fingerprints with bit 63 set — negative bigints
SIMHASH_DOCS = {
    **DOCS,
    "repeated_id": (
        "bigint",
        [(0, "a b c d"), (0, "a b c e"), (1, "a b c d e"), (2, "a b c d"), (3, None), (3, "a b")],
    ),
    "bit_63": (
        "bigint",
        [(0, "beta"), (1, "beta beta"), (2, "beta gamma sigma"), (3, "beta gamma sigma zeta"),
         (4, "alpha"), (5, "gamma sigma zeta beta beta"), (6, "alpha beta")],
    ),
}


def _simhash_docs(spark, name):
    id_type, rows = SIMHASH_DOCS[name]
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


@pytest.mark.parametrize("max_hamming", [3, 6, 8, 20])
@pytest.mark.parametrize("name", list(SIMHASH_DOCS))
def test_simhash_paths_agree(spark, monkeypatch, name, max_hamming):
    """Widths 16, 9, 7 and 3 bits; at 20 nearly every pair's Hamming
    distance is compared, so every fingerprint bit is too."""
    docs = _simhash_docs(spark, name)
    got = {}
    for path in ("in_core", "distributed"):
        monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", DRIVER_MAX_ROWS if path == "in_core" else -1)
        df = dedup.simhash_near_pairs(docs, max_hamming=max_hamming)
        assert _is_local(df) == (path == "in_core" and name != "repeated_id"), path
        got[path] = (df.schema, _rows(df))
    assert got["in_core"] == got["distributed"]
    if name == "bit_63":
        assert any(r.simhash < 0 for r in dedup.simhash(docs).collect())
    if name != "empty":
        assert got["in_core"][1], "fixture yields no pair"


def test_simhash_candidate_veto(spark, monkeypatch):
    """A byte budget that the candidate pairs do not fit (16 B each,
    ΣC(g, 2) over the chunk groups: 36 pairs in each of 21 chunks, past
    56 × 9 × 7 B) hands back to the distributed plan, with the default
    run's rows and schema."""
    docs = _simhash_docs(spark, "all_identical")
    default = dedup.simhash_near_pairs(docs, max_hamming=20)
    assert _is_local(default)
    fits = []
    fits_pairs = incore._fits_pairs

    def spy(n_pairs):
        # the budget bounds the candidates only; the tokens are collected
        # under the context's
        with monkeypatch.context() as m:
            m.setattr(incore, "DRIVER_MAX_BYTES", 56 * 9 * 7)
            fits.append(fits_pairs(n_pairs))
        return fits[-1]

    monkeypatch.setattr(incore, "_fits_pairs", spy)
    vetoed = dedup.simhash_near_pairs(docs, max_hamming=20)
    # the token collect passed, so the candidate count was checked
    assert fits == [False]
    assert not _is_local(vetoed)
    assert (vetoed.schema, _rows(vetoed)) == (default.schema, _rows(default))


def test_simhash_collect_skips_null_text(spark, monkeypatch):
    """Rows with a null text never reach the collect, so under a row
    budget of 20 the 12 tokens of 4 documents fit and the 60 null-text
    rows beside them are not brought to the driver: the kernel sees 4
    rows and returns the distributed plan's rows and schema."""
    rows = [(0, "a b c"), (1, "a b c"), (2, "a b d"), (3, "x y z")]
    rows += [(i, None) for i in range(4, 64)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    seen = []
    documents = incore._documents

    def spy(tbl, keep=True):
        seen.append(tbl.num_rows)
        return documents(tbl, keep)

    monkeypatch.setattr(incore, "_documents", spy)
    monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", 20)
    below = dedup.simhash_near_pairs(docs, max_hamming=6)
    assert _is_local(below) and seen == [4]
    monkeypatch.setattr(incore, "DRIVER_MAX_ROWS", -1)
    past = dedup.simhash_near_pairs(docs, max_hamming=6)
    assert not _is_local(past)
    assert (below.schema, _rows(below)) == (past.schema, _rows(past))
    assert _rows(below)


def _vectors(seed, n=30, dim=8):
    """Seeded vectors plus a near twin (0.98·v + 0.01) of the first
    third, as ``emb_near_pairs`` plants them."""
    rng = random.Random(seed)
    vecs = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n)]
    twins = [[0.98 * x + 0.01 for x in v] for v in vecs[: n // 3]]
    return [(i, v) for i, v in enumerate(vecs + twins)]


# the cosine of a zero or NaN-holding vector is NaN; the distributed
# verify's pandas UDF returns it to Spark as null, which fails the
# threshold (a NaN would pass it: Spark orders NaN above every double) —
# every path must drop exactly those rows
DEGENERATE = {100, 101, 102}
VECTORS = {
    "empty": [],
    "zero_vectors": _vectors(4)
    + [(100, [0.0] * 8), (101, [0.0] * 8), (102, [float("nan")] + [1.0] * 7)],
    "twins": _vectors(5),
}


@pytest.mark.parametrize("name", list(VECTORS))
def test_cosine_near_pairs_paths_agree(spark, monkeypatch, name):
    emb = spark.createDataFrame(VECTORS[name], "vec_id bigint, embedding array<float>")
    got = _paths(
        monkeypatch,
        ["in_core", "distributed"],
        lambda: similarity.cosine_near_pairs(
            emb, threshold=0.85, n_planes=6, seed=13, rounds=3, probe_radius=1
        ),
    )
    assert got["in_core"] == got["distributed"]
    exact = _rows(similarity.cosine_near_pairs(emb, threshold=0.85, exact=True))
    for pairs in (got["in_core"][1], got["distributed"][1], exact):
        assert not any({a, b} & DEGENERATE for a, b, _ in pairs)
    if name != "empty":
        assert got["in_core"][1], "fixture yields no twin"
