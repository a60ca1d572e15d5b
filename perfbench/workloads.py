"""The two workloads: inputs, one measured pass, and its output check.

Every workload drives the engine only through public entry points —
``plans.pipeline.run_pipeline`` with a ``sinks.store.TableStore``, or the
``__spark_entry__.queries()`` callables — and checks every pass:

- build workloads compare the committed triples with the generator's
  ground truth (``sources.corpus.generate_corpus``), by node count and
  an order-independent digest of ``(subj, pred, obj)``;
- query workloads compare a digest of each query's rounded result with
  the reference in ``expected.json``.

A workload times each operation through ``meter(fn)`` and
labels Spark jobs through ``tag(label)`` so a traced run can fold the
event log per operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

import tables

HERE = os.path.dirname(os.path.abspath(__file__))

GRAPH_QUERIES = [
    "kg_label_prop",
    "kg_kcore",
    "kg_pagerank",
    "kg_common_neighbors",
    "kg_k_hop",
    "kg_schema_triples",
    "kg_triple_dedup",
    "kg_degree_histogram",
]
DOCS_QUERIES = [
    "docs_minhash_lsh",
    "docs_simhash_pairs",
    "docs_similarity_triangles",
    "docs_ngram_jaccard",
    "emb_near_pairs",
]

# corpus dimensions (repos, files per repo, call lines per file) and
# table scale factor per size; "tiny" is the self-check size
CORPUS = {"bench": (10, 50, 100), "tiny": (8, 12, 4)}
TABLE_SF = {"bench": 0.002, "tiny": 0.0005}
TABLE_SEED = 42


def result_digest(df) -> str:
    """Order-independent digest of a query result: row count plus the sum
    of a 64-bit hash of each row, with columns in name order and
    floating values rounded to 6 decimals. One Spark action."""
    cols = []
    for c in sorted(df.columns):
        e = F.col(f"`{c}`")
        if isinstance(df.schema[c].dataType, (T.DoubleType, T.FloatType)):
            e = F.round(e, 6)
        cols.append(F.coalesce(e.cast("string"), F.lit("\\N")))
    h = F.xxhash64(F.concat_ws("\x1f", *cols)).cast("decimal(38,0)")
    row = df.select(h.alias("h")).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return f"{row['n']}:{row['s'] or 0}"


def triples_digest(triples) -> str:
    h = hashlib.sha256()
    for s, p, o in sorted(triples):
        h.update(f"{s}\t{p}\t{o}\n".encode())
    return h.hexdigest()


class Build:
    """``kg_build``: per pass, the fused pipeline, then the staged and
    salted pipeline, then a resume after a simulated kill past
    ``canonical`` — all over one corpus generated from the seed."""

    def __init__(self, size: str, seed: int, work: str):
        self.seed = seed
        self.repos, self.files, self.calls = CORPUS[size]
        self.corpus_dir = os.path.join(work, "corpus")
        self.store_dir = os.path.join(work, "store")

    def inputs(self, spark) -> dict:
        """Generate the corpus from the seed and write it as parquet."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from kgw_spark.session import local_df
        from kgw_spark.sources.corpus import generate_corpus

        t0 = time.perf_counter()
        rows, truth = generate_corpus(
            n_repos=self.repos, files_per_repo=self.files, seed=self.seed, n_call_lines=self.calls
        )
        gen_s = time.perf_counter() - t0
        shutil.rmtree(self.corpus_dir, ignore_errors=True)
        os.makedirs(self.corpus_dir)
        # several files so the scan has one split per file, as a
        # partitioned corpus table would
        n_files = 4 * spark.sparkContext.defaultParallelism
        for i in range(n_files):
            pq.write_table(pa.Table.from_pylist(rows[i::n_files]), f"{self.corpus_dir}/part-{i:03d}.parquet")
        self.alias = [(a, c, float(s)) for a, (c, s) in sorted(truth.alias_dict.items())]
        self.alias_df = local_df(spark, self.alias, "alias_id string, canonical_id string, score double")
        self.digest = triples_digest(truth.triples)
        self.n_nodes = len({s for s, _, _ in truth.triples} | {o for _, _, o in truth.triples})
        self.n_triples = len(truth.triples)
        return {"corpus.gen_s": gen_s}

    def _run(self, spark, staged: bool):
        from kgw_spark.model import CORPUS_SCHEMA
        from kgw_spark.plans.pipeline import run_pipeline
        from kgw_spark.sinks.store import TableStore

        corpus = spark.read.schema(CORPUS_SCHEMA).parquet(self.corpus_dir)
        kw = {"salted": True} if staged else {"materialize_intermediate": False, "alias_local": self.alias}
        return run_pipeline(spark, corpus, self.alias_df, TableStore(self.store_dir), input_fingerprint="bench", **kw)

    def _check(self, spark, res) -> bool:
        from kgw_spark.model import triple_view

        got = [(r.subj, r.pred, r.obj) for r in triple_view(res.edges).collect()]
        return (
            len(got) == self.n_triples
            and triples_digest(got) == self.digest
            and res.manifests["nodes"]["rows"] == self.n_nodes
        )

    def _op(self, spark, op: str, i: int, meter, tag, staged: bool, expect=None) -> dict:
        tag(f"{op}:{i}")
        t0 = time.time()
        res, wall = meter(lambda: self._run(spark, staged))
        rec = {"op": op, "tag": f"{op}:{i}", "wall": wall, "t0": t0, "t1": time.time(),
               "manifests": res.manifests, "files": _count_files(self.store_dir)}
        tag(f"check:{i}")
        rec["ok"] = self._check(spark, res) and (expect is None or expect(res))
        return rec

    def run_pass(self, spark, i: int, meter, tag) -> list[dict]:
        def resumed(res) -> bool:
            return res.stages_skipped == ["mentions", "linked", "canonical"] and res.stages_run == ["edges", "nodes"]

        ops = []
        try:
            shutil.rmtree(self.store_dir, ignore_errors=True)
            ops.append(self._op(spark, "fused", i, meter, tag, staged=False))
            shutil.rmtree(self.store_dir, ignore_errors=True)
            ops.append(self._op(spark, "staged", i, meter, tag, staged=True))
            # kill after `canonical`: the edges and nodes commits are lost
            for stage in ("edges", "nodes"):
                os.remove(os.path.join(self.store_dir, "manifests", f"{stage}.json"))
            ops.append(self._op(spark, "resume", i, meter, tag, staged=True, expect=resumed))
        except Exception as exc:  # a failing run is counted, not fatal
            print(f"pass {i}: {type(exc).__name__}: {exc}".splitlines()[0])
            ops.append({"op": "error", "tag": f"error:{i}", "wall": 0.0, "ok": False})
        return ops


class Queries:
    """``kg_query``: one pass runs each graph and dedup query once, in an
    order drawn from the seed, over tables generated at a fixed seed."""

    names = GRAPH_QUERIES + DOCS_QUERIES

    def __init__(self, size: str, seed: int, work: str):
        self.size, self.seed = size, seed
        self.data_dir = os.path.join(work, f"tables_{size}")
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)[size]

    def inputs(self, spark) -> dict:
        from kgw_spark.sources import tpch_kg as KG

        t0 = time.perf_counter()
        tables.generate(self.data_dir, TABLE_SF[self.size], TABLE_SEED)
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for view in (KG.kg_nodes, KG.kg_edges, KG.kg_pairs, KG.kg_edges2):
            view(spark, self.data_dir).count()
        return {"tables.gen_s": gen_s, "tpch_kg.views_s": time.perf_counter() - t0}

    def run_pass(self, spark, i: int, meter, tag) -> list[dict]:
        import __spark_entry__ as E

        qs = E.queries()
        order = list(self.names)
        random.Random(self.seed * 1000 + i).shuffle(order)
        ops = []
        for name in order:
            tag(f"q:{name}:{i}")
            try:
                digest, wall = meter(lambda: result_digest(qs[name](spark, self.data_dir)))
                ok = digest == self.expected.get(name)
            except Exception as exc:  # a failing query is counted, not fatal
                print(f"{name}: {type(exc).__name__}: {exc}".splitlines()[0])
                wall, ok = 0.0, False
            ops.append({"op": name, "tag": f"q:{name}:{i}", "wall": wall, "ok": ok})
        return ops


def _count_files(store_dir: str) -> int:
    return sum(
        fn.endswith(".parquet")
        for _r, _d, files in os.walk(os.path.join(store_dir, "tables"))
        for fn in files
    )


WORKLOADS = {"kg_build": Build, "kg_query": Queries}
