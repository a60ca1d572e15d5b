"""Seeded TPC-H-ish input tables for the query workloads.

Writes the tables the graph and dedup queries of ``kg_query`` read
(``region nation customer supplier part orders lineitem documents
embeddings``) as one parquet file each, with the column names and types
of the engine's query contract (``__spark_entry__.queries()``).
Row counts follow TPC-H proportions of a scale factor ``sf``:
150k·sf customers, 10k·sf suppliers, 200k·sf parts, 1.5M·sf orders
with 1–7 line items each. A share of the documents are one-word edits
of earlier ones, so the near-duplicate queries have non-empty answers.
Pure function of ``(sf, seed)``; numpy only, no Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector"
).split()
LANGS = np.array(["en", "en", "en", "fr", "es", "zh", "de"])
EMB_DIM = 64


def sizes(sf: float) -> dict:
    return {
        "customer": max(20, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(500 + 15_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; ~12% are one-word edits of an earlier long
    document and ~4% a second edit of an already copied one (a triangle
    in the similarity graph). Edited pairs keep Jaccard >= 0.8 over word
    3-grams, so banded MinHash finds all of them and the candidate
    verify at 0.2 matches an exact all-pairs scan."""
    words = np.array(WORDS)
    texts: list[str] = []
    copies: dict[int, int] = {}  # copyable original -> copies made
    for i in range(n):
        r = rng.random()
        want = 0 if r < 0.12 else 1 if r < 0.16 else None
        pool = [j for j, c in copies.items() if c == want and (want == 0 or len(texts[j]) >= 300)]
        if want is not None and pool:
            j = pool[int(rng.integers(0, len(pool)))]
            copies[j] += 1
            toks = texts[j].split()
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), size=int(rng.integers(8, 90)))])
            if len(toks) >= 40:
                copies[i] = 0
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(LANGS[rng.integers(0, len(LANGS), size=n)], pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, size=n)
    centroids = rng.normal(size=(10, EMB_DIM))
    vecs = rng.normal(size=(n, EMB_DIM)) + 0.1 * centroids[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    day = np.datetime64("1992-01-01", "us")
    no = n["orders"]
    lines = rng.integers(1, 8, size=no)
    l_order = np.repeat(np.arange(no), lines)
    nl = len(l_order)
    t: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array([f"REGION_{i}" for i in range(5)]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
                "c_nationkey": pa.array(rng.integers(0, 25, size=n["customer"]), pa.int32()),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n["customer"]), 2)),
                "c_mktsegment": pa.array(
                    np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                        rng.integers(0, 5, size=n["customer"])
                    ]
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
                "s_nationkey": pa.array(rng.integers(0, 25, size=n["supplier"]), pa.int32()),
                "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n["supplier"]), 2)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
                "p_name": pa.array(
                    np.array(["cold widget", "small widget", "shiny gadget", "steel bolt"])[
                        rng.integers(0, 4, size=n["part"])
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, size=n["part"])]),
                "p_type": pa.array(
                    np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE"])[rng.integers(0, 4, size=n["part"])]
                ),
                "p_size": pa.array(rng.integers(1, 51, size=n["part"]), pa.int32()),
                "p_retailprice": pa.array(np.round(900 + np.arange(n["part"]) % 1000 * 0.1, 2)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], size=no), pa.int64()),
                "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=no)]),
                "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, no), 2)),
                "o_orderdate": pa.array(day + rng.integers(0, 2400, size=no) * 86_400_000_000),
                "o_orderpriority": pa.array(
                    np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                        rng.integers(0, 5, size=no)
                    ]
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], size=nl), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], size=nl), pa.int64()),
                "l_linenumber": pa.array(
                    np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1, pa.int32()
                ),
                "l_quantity": pa.array(rng.integers(1, 51, size=nl).astype(float)),
                "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, nl), 2)),
                "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=nl)]),
                "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=nl)]),
                "l_shipdate": pa.array(day + rng.integers(0, 2500, size=nl) * 86_400_000_000),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
