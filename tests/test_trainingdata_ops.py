"""Training-data operators: dedup family, similarity search, text
analysis, multimodal plumbing — tested on the driver-provided testdata
(sf0.001) against python/duckdb oracles."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from kgw_spark.functions import text as TX
from kgw_spark.operators import dedup, multimodal, similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def pdocs():
    return duckdb.sql(f"SELECT * FROM '{SF}/documents.parquet'").df()


def test_exact_dedup(spark, docs):
    clones = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    with_dup = docs.union(clones)
    dups = dedup.exact_duplicates(with_dup).collect()
    assert len(dups) == 5
    assert all(r.dup_id == r.keep_id + 100000 for r in dups)


def test_shingles_match_python(docs, pdocs):
    got = dedup.shingles(docs.limit(0).union(docs), n=3).count()
    expected = 0
    for _, row in pdocs.iterrows():
        toks = row["text"].split()
        expected += len({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
    assert got == expected


def test_ngram_jaccard_pairs_match_python(docs, pdocs):
    got = {
        (r.a, r.b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).collect()
    }
    sets = {
        row["doc_id"]: {
            " ".join(row["text"].split()[i : i + 3])
            for i in range(len(row["text"].split()) - 2)
        }
        for _, row in pdocs.iterrows()
    }
    expected = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter:
                j = inter / len(sets[a] | sets[b])
                if round(j, 6) >= 0.2:
                    expected[(a, b)] = round(j, 6)
    assert got == expected


def test_minhash_lsh_finds_near_dups(spark, docs):
    # plant a near-duplicate: doc 0 with one word changed
    base = docs.filter("doc_id = 0").first()
    words = base.text.split()
    words[len(words) // 2] = "zzz"
    near = spark.createDataFrame(
        [(9999, " ".join(words), base.lang, base.source, base.n_chars)],
        schema=docs.schema,
    )
    pairs = dedup.minhash_lsh_pairs(
        docs.union(near), n=3, num_perm=64, bands=16, threshold=0.5
    ).collect()
    assert any({p.a, p.b} == {0, 9999} for p in pairs)
    for p in pairs:
        assert p.jaccard >= 0.5


def test_simhash_near_pairs(spark, docs):
    base = docs.filter("doc_id = 1").first()
    words = base.text.split()
    words[0] = "qqq"
    near = spark.createDataFrame(
        [(8888, " ".join(words), base.lang, base.source, base.n_chars)],
        schema=docs.schema,
    )
    pairs = dedup.simhash_near_pairs(docs.union(near), max_hamming=8).collect()
    assert any({p.a, p.b} == {1, 8888} for p in pairs)
    # hamming symmetric sanity: no self pairs, a<b
    assert all(p.a < p.b for p in pairs)


def test_cosine_topk_matches_numpy(emb):
    import numpy as np

    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}
    q = vecs[0]
    got = similarity.cosine_topk(emb, list(q), k=5).collect()
    scores = {
        vid: float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q)))
        for vid, v in vecs.items()
    }
    expected = sorted(scores.items(), key=lambda kv: (-round(kv[1], 6), kv[0]))[:5]
    assert [(r.vec_id, r.cosine) for r in got] == [
        (vid, round(s, 6)) for vid, s in expected
    ]
    assert got[0].vec_id == 0 and math.isclose(got[0].cosine, 1.0, abs_tol=1e-6)


def test_lsh_topk_recall(emb):
    q = list(emb.filter("vec_id = 0").first().embedding)
    exact = {r.vec_id for r in similarity.cosine_topk(emb, q, k=10).collect()}
    approx = {
        r.vec_id
        for r in similarity.lsh_topk(emb, q, k=10, n_planes=6, multiprobe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_cosine_near_pairs_lsh_vs_exact(emb):
    exact = {
        (r.a, r.b) for r in similarity.cosine_near_pairs(emb, 0.95, exact=True).collect()
    }
    approx = {
        (r.a, r.b)
        for r in similarity.cosine_near_pairs(
            emb, 0.95, n_planes=4, exact=False
        ).collect()
    }
    assert approx <= exact
    if exact:
        assert len(approx) / len(exact) >= 0.5


def test_text_functions_match_python(docs, pdocs):
    got = docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("tc"),
        TX.stopword_ratio(F.col("text")).alias("sr"),
        TX.fingerprint(F.col("text")).alias("fp"),
        TX.lang_id(F.col("text")).alias("lid"),
    ).collect()
    by_id = {r.doc_id: r for r in got}
    for _, row in pdocs.iterrows():
        toks = row["text"].split()
        r = by_id[row["doc_id"]]
        assert r.tc == len(toks)
        stop = sum(1 for t in toks if t.lower() in TX.STOPWORDS)
        assert math.isclose(r.sr, stop / max(len(toks), 1), rel_tol=1e-9)
        h = 0
        for t in toks:
            h = (h * 1000003 + len(t) * 131 + ord(t[0])) % 2147483647
        assert r.fp == h
        scores = {
            lang: sum(1 for t in toks if t.lower() in m)
            for lang, m in TX.LANG_MARKERS.items()
        }
        best = min(sorted(scores), key=lambda code: (-scores[code], code))
        expected_lid = best if scores[best] > 0 else "und"
        assert r.lid == expected_lid


def test_quality_score_bounds(docs):
    rows = docs.select(TX.quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


def test_multimodal_features_analytic_oracles(spark):
    """extract_features computes real codec-derived features with
    closed-form expected values: a pure-color image has exact channel
    means, zero stds, and a one-hot luminance histogram; a full-scale
    sine has RMS = peak/sqrt(2), ZCR = 2f/rate, and all spectral power
    in the band containing f; a two-frame video averages its frames'
    image features."""
    import numpy as np

    # pure red 8x6 image: means (1,0,0), stds 0, luma=85 -> bin 2 of 8
    red = np.zeros((6, 8, 3), dtype=np.uint8)
    red[:, :, 0] = 255
    img_payload = multimodal.encode_ppm(red)

    # 440 Hz sine, amplitude 0.5, 1 sec @ 8000 Hz
    rate, f, amp = 8000, 440.0, 0.5
    t = np.arange(rate) / rate
    wav_payload = multimodal.encode_wav(amp * np.sin(2 * np.pi * f * t), rate)

    # video: one red + one blue frame
    blue = np.zeros((6, 8, 3), dtype=np.uint8)
    blue[:, :, 2] = 255
    vid_payload = multimodal.encode_ppm(red) + multimodal.encode_ppm(blue)

    media = spark.createDataFrame(
        [
            (1, "image", "image/x-portable-pixmap", img_payload, None),
            (2, "audio", "audio/wav", wav_payload, None),
            (3, "video", "video/x-ppm-stream", vid_payload, None),
        ],
        schema=multimodal.MEDIA_SCHEMA,
    )
    feats = {r.media_id: list(r.feature) for r in multimodal.extract_features(media).collect()}
    assert all(len(v) == multimodal.FEATURE_DIM for v in feats.values())

    fi = feats[1]
    assert fi[0] == pytest.approx(1.0) and fi[1] == fi[2] == 0.0  # means
    assert fi[3] == fi[4] == fi[5] == 0.0  # stds
    hist = fi[6:14]
    assert hist[2] == pytest.approx(1.0) and sum(hist) == pytest.approx(1.0)
    assert fi[14] == pytest.approx(8 / 14) and fi[15] == pytest.approx(6 / 14)

    fa = feats[2]
    assert fa[0] == pytest.approx(amp / math.sqrt(2), rel=1e-3)  # rms
    assert fa[1] == pytest.approx(amp, rel=1e-3)  # peak
    assert fa[2] == pytest.approx(2 * f / rate, rel=2e-2)  # zcr
    assert fa[3] == pytest.approx(0.1)  # 1 sec / 10
    bands = fa[4:16]
    # f=440 -> band int(440 / (4000/12)) = 1 holds ~all power
    assert bands[1] > 0.99 and sum(bands) == pytest.approx(1.0)

    fv = feats[3]
    exp = (np.array(multimodal._image_feature(red)) + np.array(multimodal._image_feature(blue))) / 2
    assert fv == pytest.approx(exp.tolist(), rel=1e-6)

    # determinism + undecodable payloads fail loudly
    again = {r.media_id: list(r.feature) for r in multimodal.extract_features(media).collect()}
    assert feats == again
    bad = spark.createDataFrame(
        [(9, "image", "image/png", b"\x89PNG not ppm", None)],
        schema=multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception, match="P6|PythonException"):
        multimodal.extract_features(bad).collect()


def test_ivf_topk_recall(emb):
    q = list(emb.filter("vec_id = 0").first().embedding)
    exact = [r.vec_id for r in similarity.cosine_topk(emb, q, k=10).collect()]
    approx = [
        r.vec_id
        for r in similarity.ivf_topk(emb, q, k=10, n_cells=8, n_probe=4).collect()
    ]
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.4, recall
    # probing ALL cells must equal exact brute force
    full = [
        r.vec_id
        for r in similarity.ivf_topk(emb, q, k=10, n_cells=8, n_probe=8).collect()
    ]
    assert full == exact


def test_ngram_jaccard_shingle_df_cap(spark):
    """Scale-safe default: a stop-shingle present in every document must
    not reach the self-join under a cap, and the cap loses only pairs
    whose EVERY common shingle is over it."""
    from kgw_spark.operators.dedup import ngram_jaccard_pairs

    stop = "lorem ipsum dolor"  # one 3-gram shared by all docs
    docs = [
        # a/b: genuine near-dups sharing many specific shingles
        (0, stop + " alpha beta gamma delta epsilon zeta"),
        (1, stop + " alpha beta gamma delta epsilon eta"),
        # c/d: overlap ONLY through the stop shingle
        (2, stop + " one two three four"),
        (3, stop + " five six seven eight"),
    ] + [(i, stop + f" filler{i} pad{i} tail{i}") for i in range(4, 40)]
    df = spark.createDataFrame(docs, "doc_id int, text string")

    exact = ngram_jaccard_pairs(df, n=3, threshold=0.05, max_shingle_df=None)
    capped = ngram_jaccard_pairs(df, n=3, threshold=0.05, max_shingle_df=10)
    ex = {(r.a, r.b) for r in exact.collect()}
    cp = {(r.a, r.b) for r in capped.collect()}
    # the near-dup pair survives the cap; stop-shingle-only pairs don't
    assert (0, 1) in cp
    assert cp <= ex
    lost = ex - cp
    assert all(p not in cp for p in lost)
    assert (2, 3) in ex and (2, 3) not in cp
    # default cap (1000) is inert at this size → exact results
    default = ngram_jaccard_pairs(df, n=3, threshold=0.05)
    assert {(r.a, r.b) for r in default.collect()} == ex


def test_ivf_kmeans_refinement(emb):
    """Lloyd refinement keeps correctness (all-cells probe == exact) and
    is deterministic across runs; refined cells are at least as balanced
    as the lowest-id init."""
    import statistics

    q = list(emb.filter("vec_id = 0").first().embedding)
    exact = [r.vec_id for r in similarity.cosine_topk(emb, q, k=10).collect()]
    full = [
        r.vec_id
        for r in similarity.ivf_topk(
            emb, q, k=10, n_cells=8, n_probe=8, kmeans_iters=3
        ).collect()
    ]
    assert full == exact

    def cell_sizes(iters):
        assigned, _ = similarity.ivf_build(emb, n_cells=8, kmeans_iters=iters)
        return sorted(
            (r["count"], r["_cell"])
            for r in assigned.groupBy("_cell").count().collect()
        )

    base, refined = cell_sizes(0), cell_sizes(3)
    assert refined == cell_sizes(3)  # deterministic
    assert statistics.pstdev(s for s, _ in refined) <= statistics.pstdev(
        s for s, _ in base
    ) * 1.05


def test_near_dup_cluster_resolution(spark, docs):
    """Cluster resolution: chain a~b~c of near-dups resolves to ONE
    representative (transitivity), dedup_near keeps reps + singletons."""
    base = docs.filter("doc_id = 0").first()
    words = base.text.split()
    v1, v2 = list(words), list(words)
    v1[1] = "aaa"
    v2[2] = "bbb"
    extra = spark.createDataFrame(
        [
            (7001, " ".join(v1), base.lang, base.source, base.n_chars),
            (7002, " ".join(v2), base.lang, base.source, base.n_chars),
        ],
        schema=docs.schema,
    )
    aug = docs.union(extra)
    clusters = {
        r.doc_id: r.rep_id
        for r in dedup.near_dup_clusters(aug, threshold=0.5).collect()
    }
    # 0, 7001, 7002 share one cluster with rep 0 (min id)
    assert clusters.get(0) == 0 and clusters.get(7001) == 0 and clusters.get(7002) == 0
    kept = dedup.dedup_near(aug, threshold=0.5)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 0 in kept_ids and 7001 not in kept_ids and 7002 not in kept_ids
    # exactly the non-representative cluster members are dropped (the
    # corpus itself contains planted near-dups beyond our additions)
    losers = {d for d, rep in clusters.items() if d != rep}
    assert kept_ids == {r.doc_id for r in aug.select("doc_id").collect()} - losers


def test_near_dup_clusters_rejects_negative_ids(spark, docs):
    """Zero-padding is only order-preserving for non-negative ids; the
    operator must fail fast on negatives instead of silently electing a
    non-minimal representative."""
    neg = docs.withColumn("doc_id", F.col("doc_id") - F.lit(10_000_000))
    with pytest.raises(Exception, match="non-negative"):
        dedup.near_dup_clusters(neg, threshold=0.5).collect()


def test_ivf_lloyd_planted_cluster_balance(spark):
    """Planted-cluster fixture: 4 orthogonal clusters x 50 vectors with
    ids ordered so the lowest-id init takes all 4 centroids from ONE
    cluster. The integer-quantized Lloyd refinement must (a) strictly
    improve cell balance over the trivial init and (b) stay
    deterministic across runs (order-independent update)."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = np.eye(4, 8) * 10.0
    rows = []
    vid = 0
    for ci in range(4):
        for _ in range(50):
            v = centers[ci] + rng.normal(0, 0.05, 8)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def sizes(iters):
        assigned, _ = similarity.ivf_build(emb2, n_cells=4, kmeans_iters=iters)
        return sorted(r["count"] for r in assigned.groupBy("_cell").count().collect())

    base, refined = sizes(0), sizes(2)
    assert max(refined) < max(base)  # better balance
    assert len(refined) > len(base)  # more non-empty cells
    assert refined == sizes(2)  # bit-reproducible refinement


def test_ngram_containment_planted_leak(spark):
    """Hand-checkable decontamination: an eval doc sharing a known
    block with train scores exactly shared/total distinct 5-grams; a
    disjoint-vocabulary eval doc scores 0."""
    train = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "p q r s t u v w")],
        "doc_id int, text string",
    )
    ev = spark.createDataFrame(
        [
            # 6 distinct 5-grams; 'a b c d e'..'d e f g h' (4) leak
            (10, "a b c d e f g h x y"),
            (11, "m1 m2 m3 m4 m5 m6"),  # 2 grams, zero overlap
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_hit, r.containment)
        for r in dedup.ngram_containment(train, ev, n=5).collect()
    }
    assert got[10] == (6, 4, round(4 / 6, 6))
    assert got[11] == (2, 0, 0.0)


def test_triangle_count_hand_graphs(spark):
    """Degree-ordered triangle counting on closed-form graphs: K4 has 4
    triangles, a 4-cycle has 0, duplicates/reversed pairs/self-loops
    collapse, and a pendant edge changes nothing."""
    from kgw_spark.operators.pairs import canonical_pairs
    from kgw_spark.operators.triangles import triangle_count

    def count(pairs):
        df = spark.createDataFrame(pairs, "a int, b int")
        r = triangle_count(canonical_pairs(df, "a", "b")).first()
        return r.n_edges, r.n_triangles

    k4 = [(i, j) for i in range(4) for j in range(4) if i < j]
    assert count(k4) == (6, 4)
    assert count(k4 + [(3, 0), (2, 2), (0, 4)]) == (7, 4)  # dup/self/pendant
    assert count([(0, 1), (1, 2), (2, 3), (3, 0)]) == (4, 0)  # C4
    assert count([(0, 1), (1, 2), (2, 0)]) == (3, 1)


def test_pii_redaction_hand_cases(spark):
    """PII scrub: detection counts and redacted text on crafted rows —
    replace-all semantics, composition order (email wins over the IP
    inside an address-like domain), and clean rows untouched."""
    from kgw_spark.functions import pii

    rows = [
        (1, "mail a@b.co and c.d+x@e-f.org twice"),
        (2, "server 10.0.200.17 and 192.168.1.1"),
        (3, "call +49 151 2345 now"),
        (4, "user@10.0.0.1 logged in"),  # no alpha TLD -> not an email
        (5, "nothing sensitive here 1.2 3.4"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            pii.pii_counts(F.col("text"))["email"].alias("e"),
            pii.pii_counts(F.col("text"))["ipv4"].alias("i"),
            pii.pii_counts(F.col("text"))["phone"].alias("p"),
            pii.redact_pii(F.col("text")).alias("red"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["red"]) == (2, "mail <EMAIL> and <EMAIL> twice")
    assert (out[2]["i"], out[2]["red"]) == (2, "server <IP> and <IP>")
    assert (out[3]["p"], out[3]["red"]) == (1, "call <PHONE> now")
    # the address-like 'user@10.0.0.1' has no alphabetic TLD, so the
    # (precision-first) email pattern leaves it alone and only the
    # embedded IP is scrubbed
    assert (out[4]["e"], out[4]["i"]) == (0, 1)
    assert out[4]["red"] == "user@<IP> logged in"
    assert out[5]["red"] == rows[4][1]
    # SQL twin agrees on the same crafted rows
    import duckdb
    import pandas as pd

    frags = pii.pii_sql("text")
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = con.execute(
        f"SELECT doc_id, {frags['email']} e, {frags['ipv4']} i, "
        f"{frags['phone']} p, {frags['redacted']} red FROM t ORDER BY doc_id"
    ).fetchall()
    for doc_id, e, i, p, red in sql:
        assert (e, i, p, red) == (
            out[doc_id]["e"], out[doc_id]["i"], out[doc_id]["p"], out[doc_id]["red"]
        )


def test_winnow_guarantee_and_pairs(spark):
    """Winnowing guarantee: docs sharing >= w+k-1 consecutive tokens
    share at least one fingerprint; a short overlap yields no pair at
    min_shared=2; fingerprint count is ~2/(w+1) of the gram count."""
    base = [f"tok{i}" for i in range(60)]
    run = [f"shared{i}" for i in range(20)]  # 20 >> w+k-1 = 8
    rows = [
        (1, " ".join(base[:25] + run)),
        (2, " ".join(run + base[25:50])),
        (3, " ".join(f"other{i}" for i in range(40)) + " " + " ".join(run[:6])),
        (4, " ".join(f"unrelated{i}" for i in range(45))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fp = dedup.winnow_fingerprints(docs, k=5, w=4)
    by_doc = {
        r["doc_id"]: r["n"]
        for r in fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # density: 45 tokens -> 41 grams -> 38 windows; distinct minima ~2/(w+1)
    assert 4 <= by_doc[4] <= 20
    pairs = {
        (r["a"], r["b"]): r["n_shared"]
        for r in dedup.winnow_pairs(docs, k=5, w=4, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2  # long shared run found
    assert all(4 not in p for p in pairs)  # unrelated doc pairs with nobody


def test_expr_builders_match_python_at_nondefault_params(spark, docs):
    """The minhash/simhash aggregates are built as single parsed SQL
    strings (not py4j Column trees); pin their arithmetic — permutation
    mins, per-bit ±1 sums, the OR fold — against an independent Python
    replica at NON-default parameters (num_perm=8/bands=4, bits=32) so
    literal-typing or operator-precedence drift in the generated text
    fails on values, not only on the default-path driver fixtures."""
    sample = docs.filter("doc_id < 40")

    # --- minhash: replicate from Spark-side shingle hashes ---
    sh = dedup.shingles(sample, n=2)
    hashed = sh.select(
        "doc_id",
        (F.abs(F.xxhash64("shingle")) % F.lit(dedup._MERSENNE)).alias("h"),
    ).collect()
    coeffs = dedup._perm_coeffs(8, seed=11)
    expect: dict[int, list[int]] = {}
    for r in hashed:
        sig = expect.setdefault(r.doc_id, [dedup._MERSENNE] * 8)
        for i, (a, b) in enumerate(coeffs):
            v = (r.h * a + b) % dedup._MERSENNE
            if v < sig[i]:
                sig[i] = v
    got = {
        r.doc_id: list(r.sig)
        for r in dedup._signatures_from_shingles(
            dedup.shingles(sample, n=2), num_perm=8, seed=11
        ).collect()
    }
    assert got == expect

    # --- simhash at bits=32: replicate sums and fold from token hashes ---
    tok_hashes = (
        sample.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
        )
        .select("doc_id", F.xxhash64("tok").alias("h"))
        .collect()
    )
    sums: dict[int, list[int]] = {}
    for r in tok_hashes:
        s = sums.setdefault(r.doc_id, [0] * 32)
        for i in range(32):
            s[i] += 1 if (r.h & (1 << i)) != 0 else -1
    expect_fp = {
        d: sum((1 << i) for i in range(32) if s[i] > 0) for d, s in sums.items()
    }
    got_fp = {
        r.doc_id: r.simhash for r in dedup.simhash(sample, bits=32).collect()
    }
    assert got_fp == expect_fp

    # --- hyperplane bucket expr: exact double fold vs Python sum ---
    emb_df = spark.read.parquet(f"{SF}/embeddings.parquet").filter("vec_id < 30")
    planes = similarity._planes(
        len(emb_df.first().embedding), n_planes=5, seed=3
    )
    got_b = {
        r.vec_id: r.b
        for r in emb_df.select(
            "vec_id", similarity._bucket_expr(planes).alias("b")
        ).collect()
    }
    for r in emb_df.collect():
        sig = 0
        for i, p in enumerate(planes):
            acc = 0.0
            for x, y in zip([float(v) for v in r.embedding], p):
                acc += x * y
            if acc >= 0:
                sig |= 1 << i
        assert got_b[r.vec_id] == sig


def test_asof_join_hand_cases(spark):
    """Backward inclusive as-of: equal-time right rows match (inclusive
    boundary), equal right times break toward max tie_col, keys with no
    earlier right row get NULLs, and later right rows never leak."""
    from kgw_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            ("u1", 10, "a"),   # right at 5 and 10 -> inclusive pick t=10
            ("u1", 4, "b"),    # only right t<=4 is none -> NULL
            ("u2", 7, "c"),    # rights at 7,7 (tie) -> max rid wins
            ("u3", 9, "d"),    # no right rows at all -> NULL
        ],
        "uid string, t long, tag string",
    )
    right = spark.createDataFrame(
        [
            ("u1", 5, 100, 1.0),
            ("u1", 10, 101, 2.0),
            ("u1", 11, 102, 3.0),  # future: never matched
            ("u2", 7, 200, 4.0),
            ("u2", 7, 201, 5.0),   # same ts: tie -> 201
        ],
        "uid string, t long, rid long, v double",
    )
    out = {
        (r.uid, r.t): (r.asof_rid, r.asof_v)
        for r in asof_join(
            left, right, ["uid"], "t", "t", ["rid", "v"], tie_col="rid"
        ).collect()
    }
    assert out[("u1", 10)] == (101, 2.0)
    assert out[("u1", 4)] == (None, None)
    assert out[("u2", 7)] == (201, 5.0)
    assert out[("u3", 9)] == (None, None)
    # left row count preserved (left-join semantics)
    assert len(out) == 4


def test_asof_join_matches_sql_window_oracle(spark, docs):
    """events self-as-of (error -> latest prior click per user) equals
    the quadratic row_number() SQL formulation on the driver testdata."""
    from kgw_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{SF}/events.parquet")
    errors = ev.filter("event_type = 'error'").select("event_id", "user_id", "ts")
    clicks = ev.filter("event_type = 'click'").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    got = asof_join(
        errors, clicks, ["user_id"], "ts", "cts", ["cid", "cts"], tie_col="cid"
    )
    import duckdb

    exp = duckdb.sql(
        f"""
        WITH e AS (SELECT * FROM '{SF}/events.parquet'),
        j AS (
          SELECT l.event_id, l.user_id, l.ts, c.event_id AS asof_cid,
                 c.ts AS asof_cts,
                 row_number() OVER (PARTITION BY l.event_id
                   ORDER BY c.ts DESC, c.event_id DESC) AS rn
          FROM e l LEFT JOIN e c
            ON c.user_id = l.user_id AND c.event_type = 'click'
               AND c.ts <= l.ts
          WHERE l.event_type = 'error')
        SELECT event_id, user_id, ts, asof_cid, asof_cts FROM j WHERE rn = 1
        """
    ).df()
    g = {
        r.event_id: (r.asof_cid, r.asof_cts) for r in got.collect()
    }
    assert len(g) == len(exp)
    for _, r in exp.iterrows():
        gc, gt = g[r.event_id]
        # NaN marks DuckDB's NULL for the no-prior-click rows
        assert gc == (None if r.asof_cid != r.asof_cid else int(r.asof_cid))
        if gc is not None:
            assert gt == r.asof_cts.to_pydatetime()


def test_range_join_hand_cases(spark):
    """Banded interval join: inclusive at both window ends, bucket-edge
    instants covered, no duplicate pairs when the two probe buckets
    coincide, negative lower bound."""
    from kgw_spark.operators.asof import range_join

    left = spark.createDataFrame(
        [("u1", 1000, "L1"), ("u2", 50, "L2")],
        "uid string, t long, tag string",
    )
    right = spark.createDataFrame(
        [
            ("u1", 900, "A"),    # in [t-100, t] exactly at lower edge
            ("u1", 1000, "B"),   # upper edge (equal time)
            ("u1", 899, "C"),    # one below the window
            ("u1", 1001, "D"),   # one above the window
            ("u2", 45, "E"),     # in window despite tiny instants
        ],
        "uid string, t long, r string",
    )
    out = sorted(
        (r.tag, r.r_r)
        for r in range_join(
            left, right, ["uid"], "t", "t", lower=-100, upper=0
        ).collect()
    )
    assert out == [("L1", "A"), ("L1", "B"), ("L2", "E")]
    # duplicate-probe guard: window exactly bucket-aligned, right row
    # qualifying via the shared bucket must appear once
    left2 = spark.createDataFrame([("u", 200, "L")], "uid string, t long, tag string")
    right2 = spark.createDataFrame([("u", 150, "X")], "uid string, t long, r string")
    rows = range_join(left2, right2, ["uid"], "t", "t", -100, 0).collect()
    assert len(rows) == 1
    with pytest.raises(ValueError):
        range_join(left, right, ["uid"], "t", "t", 5, 5)


def test_weighted_sample_properties(spark):
    """Weighted Bernoulli sampling: weight 0 keeps nothing, weight >= 1
    keeps everything, samples are NESTED in the weight (a row kept at w
    stays kept at any w' >= w), decisions are deterministic by key, and
    the Spark decision agrees with the generated SQL twin row-for-row."""
    from kgw_spark.operators.sampling import weighted_sample, weighted_sample_sql

    df = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("m")
    )
    assert weighted_sample(df, "k", F.lit(0.0)).count() == 0
    assert weighted_sample(df, "k", F.lit(1.0)).count() == 500
    assert weighted_sample(df, "k", F.lit(2.5)).count() == 500  # clamped
    kept_30 = {r.k for r in weighted_sample(df, "k", F.lit(0.3)).collect()}
    kept_60 = {r.k for r in weighted_sample(df, "k", F.lit(0.6)).collect()}
    assert kept_30 <= kept_60                      # nested
    assert kept_30 == {                            # deterministic
        r.k for r in weighted_sample(df, "k", F.lit(0.3)).collect()
    }
    assert 0 < len(kept_30) < len(kept_60) < 500   # non-degenerate
    # per-row weights, Spark vs the SQL twin on the identical frame
    w = F.col("m") / F.lit(5.0)
    got = {r.k for r in weighted_sample(df, "k", w).collect()}
    df.createOrReplaceTempView("wsrc")
    sql = spark.sql(
        f"SELECT k FROM wsrc WHERE {weighted_sample_sql('k', 'm / 5.0')}"
    )
    assert got == {r.k for r in sql.collect()}


@pytest.mark.parametrize(
    "lower,upper",
    [(-100, 0), (0, 100), (-50, 50), (10, 60), (-60, -10), (0, 1)],
)
def test_range_join_matches_bruteforce(spark, lower, upper):
    """range_join == brute-force quadratic filter on seeded random data
    with negative instants, duplicate timestamps, and windows entirely
    below / above / spanning zero (exercises the exact floor-division
    bucketing for negative times at every window placement)."""
    import random

    from kgw_spark.operators.asof import range_join

    rng = random.Random(42 + upper - lower)
    keys = ["a", "b", "c"]
    lrows = [
        (rng.choice(keys), rng.randint(-300, 300), i) for i in range(120)
    ]
    rrows = [
        (rng.choice(keys), rng.randint(-300, 300), i) for i in range(120)
    ]
    expected = sorted(
        (li, ri)
        for lk, lt, li in lrows
        for rk, rt, ri in rrows
        if lk == rk and lt + lower <= rt <= lt + upper
    )
    left = spark.createDataFrame(lrows, "k string, t long, lid int")
    right = spark.createDataFrame(rrows, "k string, t long, rid int")
    got = sorted(
        (r.lid, r.r_rid)
        for r in range_join(left, right, ["k"], "t", "t", lower, upper).collect()
    )
    assert got == expected


def test_stratified_topk_matches_window_spec(spark):
    """stratified_topk (pruned plan) == the unpruned SQL window spec,
    at the default margin, at margin 1 (forces the deficiency-rescue
    path on small strata), and with k larger than a stratum."""
    from kgw_spark.operators.sampling import lcg_u31_sql, stratified_topk

    df = spark.createDataFrame(
        [(i, "s%d" % (i % 4), i * 10) for i in range(400)] + [(1000, "tiny", 7)],
        "doc_id long, lang string, n_chars long",
    )
    df.createOrReplaceTempView("stratsrc")

    def oracle(k):
        return spark.sql(f"""
            SELECT doc_id, lang, n_chars, sample_rank FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY lang
                    ORDER BY {lcg_u31_sql("doc_id")}, doc_id) AS sample_rank
                FROM stratsrc) WHERE sample_rank <= {k}
        """)

    for k, margin in [(5, 8), (5, 1), (3, 2), (7, 8)]:
        got = sorted(
            map(tuple, stratified_topk(df, "doc_id", "lang", k, prune_margin=margin).collect())
        )
        exp = sorted(map(tuple, oracle(k).collect()))
        assert got == exp, (k, margin)
    # k exceeding the stratum size returns the whole stratum, ranked
    tiny = stratified_topk(df, "doc_id", "lang", 50).filter("lang = 'tiny'")
    assert [(r.doc_id, r.sample_rank) for r in tiny.collect()] == [(1000, 1)]
    with pytest.raises(ValueError):
        stratified_topk(df, "doc_id", "lang", 0)


def test_common_neighbors_matches_bruteforce(spark):
    """common_neighbors == a brute-force Python reference on a graph
    with a hub (deg > cap), an adjacent pair, reversed duplicates, and
    a self-loop — checked at several caps; also pins the deterministic
    (count DESC, u, v) cut and the ValueError guard."""
    from kgw_spark.operators.linkpred import common_neighbors, common_neighbors_py
    from kgw_spark.operators.pairs import canonical_pairs

    raw = [
        ("m1", "a"), ("m1", "b"), ("m1", "c"),
        ("a", "b"),
        ("b", "a"), ("a", "a"),
        ("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"), ("h", "e"),
    ]
    pairs = canonical_pairs(
        spark.createDataFrame(raw, "source_id string, target_id string")
    )
    for cap in (1, 2, 3, 5, 100):
        got = [
            (r.u, r.v, r.n_common)
            for r in common_neighbors(pairs, deg_cap=cap, top=10).collect()
        ]
        assert got == common_neighbors_py(raw, deg_cap=cap, top=10), cap
    with pytest.raises(ValueError):
        common_neighbors(pairs, deg_cap=0)


def test_pq_topk_matches_reference_at_nondefault_params(emb):
    """similarity.pq_topk == functions/ann_reference.ref_pq_topk at a
    NON-default configuration (m=8 subspaces, 8 codes, 1 Lloyd round)
    — certifies the parameterized codebook training + ADC scoring, not
    just the registered driver config (which the entry oracle pins at
    two SFs)."""
    from kgw_spark.functions.ann_reference import ref_pq_topk

    q = [float(x) for x in emb.filter("vec_id = 0").first().embedding]
    got = [
        (r.vec_id, r.adc)
        for r in similarity.pq_topk(
            emb, q, k=12, m=8, n_codes=8, kmeans_iters=1
        ).collect()
    ]
    exp = ref_pq_topk(
        f"{SF}/embeddings.parquet", query_id=0, k=12, m=8, n_codes=8,
        kmeans_iters=1,
    )
    assert got == exp
    with pytest.raises(ValueError):
        similarity.pq_topk(emb, q, m=7)  # 64 % 7 != 0
