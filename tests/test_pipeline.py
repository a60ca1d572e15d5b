"""End-to-end pipeline: exact triple P/R vs generator ground truth,
sha256 invariant enforcement, checkpoint resume."""

import pytest

from kgw_spark.model import triple_view
from kgw_spark.plans.pipeline import run_pipeline
from kgw_spark.sinks.store import TableStore
from kgw_spark.sources.corpus import corpus_df
from tests.conftest import alias_df_from_truth


def _pr(result_triples: set, truth_triples: set) -> tuple[float, float]:
    tp = len(result_triples & truth_triples)
    precision = tp / len(result_triples) if result_triples else 0.0
    recall = tp / len(truth_triples) if truth_triples else 0.0
    return precision, recall


@pytest.fixture(scope="module")
def pipeline_result(spark, small_corpus, tmp_path_factory):
    rows, truth = small_corpus
    store = TableStore(str(tmp_path_factory.mktemp("store")))
    res = run_pipeline(
        spark,
        corpus_df(spark, rows),
        alias_df_from_truth(spark, truth),
        store,
        input_fingerprint="t1",
    )
    return res, truth, store


def test_triples_exact_pr(pipeline_result):
    res, truth, _ = pipeline_result
    got = {
        (r.subj, r.pred, r.obj) for r in triple_view(res.edges).collect()
    }
    p, r = _pr(got, truth.triples)
    assert p >= 0.95 and r >= 0.95, (p, r, len(got), len(truth.triples))
    # with the synthetic corpus the rules are exact — require identity
    assert got == truth.triples


def test_node_types_from_prefix(pipeline_result):
    res, _, _ = pipeline_result
    types = {r.type for r in res.nodes.select("type").distinct().collect()}
    assert types <= {"file", "repo", "module", "class", "func"}
    ids = res.nodes.select("id", "type").collect()
    for row in ids:
        assert row.id.split(":", 1)[0] == row.type


def test_edges_have_lineage_properties(pipeline_result):
    import json

    res, _, _ = pipeline_result
    row = res.edges.first()
    props = json.loads(row.properties)
    assert {"n_mentions", "repo", "path", "commit", "content_sha256"} <= set(props)


def test_sha256_invariant_enforced(spark, small_corpus):
    from kgw_spark.operators.extract import extract_mentions

    rows, _ = small_corpus
    bad = [dict(rows[0])]
    bad[0]["content_sha256"] = "0" * 64
    df = corpus_df(spark, bad)
    with pytest.raises(Exception, match="content_sha256 invariant"):
        extract_mentions(df).count()


def test_resume_skips_completed_stages(spark, small_corpus, tmp_path):
    rows, truth = small_corpus
    store = TableStore(str(tmp_path / "store"))
    adf = alias_df_from_truth(spark, truth)
    cdf = corpus_df(spark, rows)

    first = run_pipeline(spark, cdf, adf, store, input_fingerprint="v1")
    assert first.stages_run == ["mentions", "canonical", "edges", "nodes"]

    second = run_pipeline(spark, cdf, adf, store, input_fingerprint="v1")
    assert second.stages_run == []
    assert second.stages_skipped == ["mentions", "canonical", "edges", "nodes"]
    assert second.edges.count() == first.edges.count()

    # new input fingerprint → full recompute
    third = run_pipeline(spark, cdf, adf, store, input_fingerprint="v2")
    assert third.stages_run == ["mentions", "canonical", "edges", "nodes"]


def test_salted_link_matches_broadcast(spark, small_corpus, tmp_path):
    rows, truth = small_corpus
    adf = alias_df_from_truth(spark, truth)
    cdf = corpus_df(spark, rows)
    s1 = TableStore(str(tmp_path / "s1"))
    s2 = TableStore(str(tmp_path / "s2"))
    a = run_pipeline(spark, cdf, adf, s1, input_fingerprint="x", salted=False)
    b = run_pipeline(spark, cdf, adf, s2, input_fingerprint="x", salted=True)
    ta = {(r.subj, r.pred, r.obj) for r in triple_view(a.edges).collect()}
    tb = {(r.subj, r.pred, r.obj) for r in triple_view(b.edges).collect()}
    assert ta == tb


def test_store_commit_is_crash_safe(spark, tmp_path):
    """The commit protocol must never leave is_complete()==True with the
    table gone: the stage manifest is invalidated before the old table
    is touched and rewritten only after the new table is in place (an
    rmtree-then-rename commit leaves a window where a kill strands a
    manifest pointing at nothing)."""
    import os

    store = TableStore(str(tmp_path / "cs"))
    df = spark.range(5).selectExpr("cast(id as string) AS id")
    store.write(df, "t", stage="s", input_fingerprint="f1")
    assert store.is_complete("s", "f1")

    # simulate the crash residue the old protocol could produce:
    # manifest present, table directory missing → must NOT be complete
    import shutil

    shutil.rmtree(store.table_path("t"))
    assert not store.is_complete("s", "f1")

    # recommit over the damage and then overwrite again: both fine
    store.write(df, "t", stage="s", input_fingerprint="f1")
    assert store.is_complete("s", "f1")
    store.write(df.limit(3), "t", stage="s", input_fingerprint="f2")
    assert store.is_complete("s", "f2") and not store.is_complete("s", "f1")
    assert store.read(spark, "t").count() == 3
    # no stranded .old_* copies after a clean overwrite
    leftovers = [f for f in os.listdir(store.tables_dir) if ".old_" in f]
    assert leftovers == []


def test_pipeline_handles_empty_alias_and_empty_corpus(spark, tmp_path):
    """Degenerate inputs must flow through, not crash: an empty alias
    dictionary leaves ids unlinked; an empty corpus produces empty (but
    readable, schema-correct) node/edge tables."""
    from kgw_spark.model import CORPUS_SCHEMA
    from kgw_spark.sources.corpus import corpus_df, generate_corpus

    empty_alias = spark.createDataFrame(
        [], schema="alias_id string, canonical_id string, score double"
    )
    rows, truth = generate_corpus(n_repos=2, files_per_repo=3, seed=5)
    res = run_pipeline(
        spark, corpus_df(spark, rows), empty_alias,
        TableStore(str(tmp_path / "ea")), input_fingerprint="ea",
    )
    got = {(r.subj, r.pred, r.obj) for r in triple_view(res.edges).collect()}
    assert got == truth.raw_mentions  # no linking → raw mentions survive

    empty_corpus = spark.createDataFrame([], schema=CORPUS_SCHEMA)
    res2 = run_pipeline(
        spark, empty_corpus, empty_alias,
        TableStore(str(tmp_path / "ec")), input_fingerprint="ec",
    )
    assert res2.edges.count() == 0 and res2.nodes.count() == 0
    # n_mentions rides as a first-class column besides the JSON bag so
    # numeric consumers scan a pruned 8-byte column (graph.py)
    assert [f.name for f in res2.edges.schema.fields] == [
        "source_id", "target_id", "type", "n_mentions", "properties"
    ]


def test_store_compaction_one_file_per_partition(spark, tmp_path):
    """compact() rewrites a fragmented table to one file per partition
    value, preserving rows, schema, manifest fingerprint, and
    per-partition metric counts."""
    import os

    from kgw_spark.sinks.store import TableStore

    store = TableStore(str(tmp_path / "store"))
    df = spark.range(1000).selectExpr(
        "id", "concat('t', cast(id % 3 as string)) AS type"
    ).repartition(16)  # 16 tasks x 3 partition values = many small files
    store.write(df, "frag", partition_by="type", input_fingerprint="fp1")

    def files_per_part(path):
        out = {}
        for root, _d, files in os.walk(path):
            n = sum(1 for f in files if f.endswith(".parquet"))
            if n and "type=" in root:
                out[root.rsplit("type=", 1)[1]] = n
        return out

    before = files_per_part(store.table_path("frag"))
    assert max(before.values()) > 1  # genuinely fragmented

    m_before = store.manifest("frag")
    m = store.compact(spark, "frag")
    after = files_per_part(store.table_path("frag"))
    assert set(after) == {"t0", "t1", "t2"} and all(v == 1 for v in after.values())
    assert m["rows"] == 1000 and m["partition_metrics"] == m_before["partition_metrics"]
    assert m["input_fingerprint"] == "fp1"
    got = store.read(spark, "frag")
    assert got.count() == 1000 and set(got.columns) == {"id", "type"}
    assert store.is_complete("frag", "fp1")


def test_store_compact_finds_manifest_by_table_field(spark, tmp_path):
    """write() allows stage != table name; compact() must locate the
    governing manifest via its 'table' field (keying by table name
    alone would silently compact with partition_by=None and destroy
    the layout), and must refuse when the stage hint doesn't govern
    the named table."""
    import pytest

    from kgw_spark.sinks.store import TableStore

    store = TableStore(str(tmp_path / "s"))
    df = spark.createDataFrame(
        [(i, f"t{i % 3}") for i in range(30)], "id int, type string"
    )
    store.write(df.repartition(6), "tbl", partition_by="type", stage="stage_x")
    m = store.compact(spark, "tbl")
    assert m["partition_by"] == "type"
    assert m["stage"] == "stage_x"  # recommitted under the governing stage
    assert store.read(spark, "tbl").count() == 30
    with pytest.raises(ValueError):
        store.compact(spark, "tbl", stage="nonexistent")


def test_fused_lineage_dict_matches_materialized(spark, small_corpus, tmp_path):
    """The fused pipeline's lineage-dictionary path (mentions shuffle an
    int rank; witness strings join back post-reduce) must produce the
    byte-identical edges table — including the min-witness property
    bag — as the materialized string-min path."""
    rows, truth = small_corpus
    adf = alias_df_from_truth(spark, truth)
    cdf = corpus_df(spark, rows)

    fused = run_pipeline(
        spark, cdf, adf, TableStore(str(tmp_path / "f")),
        input_fingerprint="x", materialize_intermediate=False,
    )
    mat = run_pipeline(
        spark, cdf, adf, TableStore(str(tmp_path / "m")),
        input_fingerprint="x",
    )
    cols = ["source_id", "type", "target_id", "n_mentions", "properties"]
    a = {tuple(r) for r in fused.edges.select(*cols).collect()}
    b = {tuple(r) for r in mat.edges.select(*cols).collect()}
    assert a == b and len(a) > 0


def test_fused_string_fallback_matches_dict(spark, small_corpus, tmp_path, monkeypatch):
    """Forcing the corpus past the dictionary size gate exercises the
    packed-string fallback; edges must be identical to the dictionary
    path (the 100 TB-corpus degradation is a pure plan change)."""
    import kgw_spark.plans.pipeline as P

    rows, truth = small_corpus
    adf = alias_df_from_truth(spark, truth)
    cdf = corpus_df(spark, rows)

    dict_res = run_pipeline(
        spark, cdf, adf, TableStore(str(tmp_path / "d")),
        input_fingerprint="x", materialize_intermediate=False,
    )
    monkeypatch.setattr(P, "LINEAGE_DICT_MAX_CORPUS_BYTES", 0)
    str_res = run_pipeline(
        spark, cdf, adf, TableStore(str(tmp_path / "s")),
        input_fingerprint="x", materialize_intermediate=False,
    )
    cols = ["source_id", "type", "target_id", "n_mentions", "properties"]
    a = {tuple(r) for r in dict_res.edges.select(*cols).collect()}
    b = {tuple(r) for r in str_res.edges.select(*cols).collect()}
    assert a == b and len(a) > 0


def test_lineage_dict_far_side_commits_same_triples(spark, small_corpus, tmp_path, monkeypatch):
    """Both sides of the lineage-dictionary gate commit the same triples
    digest, equal to the generator's ground truth. The corpus is read
    from parquet so Catalyst knows its size and the default fused run
    really takes the dictionary path (a ``createDataFrame`` corpus is
    stats-less and never does); the gate at -1 forces the string path."""
    import hashlib

    import kgw_spark.plans.pipeline as P
    from kgw_spark.model import CORPUS_SCHEMA

    rows, truth = small_corpus
    corpus_df(spark, rows).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.schema(CORPUS_SCHEMA).parquet(str(tmp_path / "corpus"))
    assert P.plan_size_bytes(corpus) <= P.LINEAGE_DICT_MAX_CORPUS_BYTES
    adf = alias_df_from_truth(spark, truth)

    def digest(triples) -> str:
        lines = "".join(f"{s}\t{p}\t{o}\n" for s, p, o in sorted(triples))
        return hashlib.sha256(lines.encode()).hexdigest()

    def committed_digest(name: str) -> str:
        store = TableStore(str(tmp_path / name))
        run_pipeline(
            spark, corpus, adf, store,
            input_fingerprint="x", materialize_intermediate=False,
        )
        edges = triple_view(store.read(spark, "edges")).collect()
        return digest((r.subj, r.pred, r.obj) for r in edges)

    default = committed_digest("dict")
    monkeypatch.setattr(P, "LINEAGE_DICT_MAX_CORPUS_BYTES", -1)
    assert committed_digest("string") == default == digest(truth.triples)
