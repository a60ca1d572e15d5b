"""Raw-format readers: every input family the reference's adapters
parse, re-expressed for Spark. Each reader returns ``(nodes, edges)``
DataFrames in the unified schema (model.NODES_SCHEMA / EDGES_SCHEMA).

Semantics are exact ports of the per-adapter transforms (cited per
function); the execution shape is not: tabular formats stream through
``spark.read.csv`` + vectorized mapInPandas property assembly, and
single-document JSON dumps are parsed executor-side (one task per
file — such files are inherently unsplittable; at scale inputs arrive
as many files and parallelism is across files), then exploded into a
distributed record stream. Nothing is parsed on the driver.

Property JSON key ORDER follows the reference's dict construction
order; key SET and values are the contract tested against a verbatim
reference-logic oracle in tests/test_readers.py.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgw_spark.functions.informative import is_informative_value
from kgw_spark.model import EDGES_SCHEMA, NODES_SCHEMA


def _jdumps(d) -> str:
    return json.dumps(d, separators=(",", ":"), ensure_ascii=False)


# ---------------------------------------------------------------------------
# single-document JSON ingestion: file bytes → record JSON strings
# ---------------------------------------------------------------------------
def _json_records(spark: SparkSession, path: str, jsonpath: str) -> DataFrame:
    """Parse each (unsplittable) JSON file in one executor task and emit
    one row per record under ``jsonpath`` ("nodes" → doc["nodes"] list,
    "" → the document's top-level dict values, per HALD's layout)."""
    files = spark.read.format("binaryFile").load(path).select("content")

    def explode_records(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for blob in pdf["content"]:
                doc = json.loads(bytes(blob))
                part = doc[jsonpath] if jsonpath else doc
                records = part if isinstance(part, list) else list(part.values())
                yield pd.DataFrame({"record": [_jdumps(r) for r in records]})

    return files.mapInPandas(explode_records, schema="record string")


def _map_records(df: DataFrame, fn, schema):
    """Vectorized record-dict → row mapping."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [fn(json.loads(r)) for r in pdf["record"]]
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return df.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# hetionet-style JSON: {"nodes": [...], "edges": [...]}
# (kgw/biomedicine/_hetionet.py:104-155)
# ---------------------------------------------------------------------------
def read_hetionet_json(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    def node_fn(item):
        props = {"name": item["name"]}
        props.update(item["data"])
        return {
            "id": str(item["identifier"]),
            "type": str(item["kind"]),
            "properties": _jdumps(props),
        }

    def edge_fn(item):
        props = {"direction": item["direction"]}
        props.update(item["data"])
        return {
            "source_id": str(item["source_id"][1]),
            "target_id": str(item["target_id"][1]),
            "type": item["kind"],
            "properties": _jdumps(props),
        }

    nodes = _map_records(_json_records(spark, path, "nodes"), node_fn, NODES_SCHEMA)
    edges = _map_records(_json_records(spark, path, "edges"), edge_fn, EDGES_SCHEMA)
    return nodes, edges


# ---------------------------------------------------------------------------
# hald-style JSON pair: {key: [entry]} / {key: entry}
# (kgw/biomedicine/_hald.py:79-149)
# ---------------------------------------------------------------------------
def read_hald_json(
    spark: SparkSession, nodes_path: str, edges_path: str
) -> tuple[DataFrame, DataFrame]:
    node_skipped = ["entity", "type"]
    edge_skipped = [
        "source entity", "target entity", "relationship",
        "source", "target", "source type", "target type",
    ]

    def node_fn(entry):
        entry = entry[0] if isinstance(entry, list) else entry
        props = {
            k: v
            for k, v in entry.items()
            if k not in node_skipped and is_informative_value(v)
        }
        return {
            "id": entry["entity"],
            "type": entry["type"],
            "properties": _jdumps(props),
        }

    def edge_fn(entry):
        props = {
            k: v
            for k, v in entry.items()
            if k not in edge_skipped and is_informative_value(v)
        }
        return {
            "source_id": entry["source entity"],
            "target_id": entry["target entity"],
            "type": entry["relationship"],
            "properties": _jdumps(props),
        }

    nodes = _map_records(_json_records(spark, nodes_path, ""), node_fn, NODES_SCHEMA)
    edges = _map_records(_json_records(spark, edges_path, ""), edge_fn, EDGES_SCHEMA)
    return nodes, edges


# ---------------------------------------------------------------------------
# tabular helpers: header-driven property assembly with per-row
# informative filtering (column order = reference key order)
# ---------------------------------------------------------------------------
def _read_table(spark: SparkSession, path: str, sep: str) -> DataFrame:
    return (
        spark.read.option("header", True)
        .option("sep", sep)
        .option("maxCharsPerColumn", -1)
        # RFC4180 doubled-quote escaping, as written by python csv /
        # excel dialect (the reference's writers and fixtures)
        .option("escape", '"')
        .csv(path)
    )


def _assemble_props(df: DataFrame, keep_cols, out_names, schema) -> DataFrame:
    """(fixed columns renamed per out_names) + JSON of all other columns
    that pass the informative filter, per row, in column order."""
    prop_cols = [c for c in df.columns if c not in set(keep_cols)]
    fixed = list(keep_cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            props = [
                _jdumps(
                    {
                        k: v
                        for k, v in zip(prop_cols, vals)
                        if is_informative_value(v)
                    }
                )
                for vals in zip(*[pdf[c] for c in prop_cols])
            ] if prop_cols else ["{}"] * len(pdf)
            out = {name: pdf[src] for src, name in zip(fixed, out_names)}
            out["properties"] = props
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# monarch-style TSV pair (kgw/biomedicine/_monarchkg.py:118-186)
# ---------------------------------------------------------------------------
def read_monarch_tsv(
    spark: SparkSession, nodes_path: str, edges_path: str
) -> tuple[DataFrame, DataFrame]:
    nodes = _assemble_props(
        _read_table(spark, nodes_path, "\t"),
        ["id", "category"],
        ["id", "type"],
        NODES_SCHEMA,
    )
    edges = _assemble_props(
        _read_table(spark, edges_path, "\t"),
        ["subject", "object", "predicate"],
        ["source_id", "target_id", "type"],
        EDGES_SCHEMA,
    )
    return nodes, edges


# ---------------------------------------------------------------------------
# primekg-style edge-list CSV + annotation CSVs
# (kgw/biomedicine/_primekg.py:140-282)
# ---------------------------------------------------------------------------
def _annotation_map_df(spark: SparkSession, paths: list[str], sep: str) -> DataFrame:
    """Annotation CSVs → (ann_id, ann_json): first column is the node
    key, remaining columns become properties (informative only).
    Reference builds an in-driver dict (_primekg.py:155-172); here it
    is a DataFrame destined for a broadcast join (T7)."""
    parts = []
    for i, p in enumerate(paths):
        df = _read_table(spark, p, sep)
        key = df.columns[0]
        rest = df.columns[1:]

        def run(batches, key=key, rest=rest):
            for pdf in batches:
                anns = [
                    _jdumps(
                        {k: v for k, v in zip(rest, vals) if is_informative_value(v)}
                    )
                    for vals in zip(*[pdf[c] for c in rest])
                ] if rest else ["{}"] * len(pdf)
                yield pd.DataFrame({"ann_id": pdf[key], "ann_json": anns})

        parts.append(
            df.mapInPandas(run, schema="ann_id string, ann_json string").withColumn(
                "_part", F.lit(i)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    # later files win on duplicate ids (dict.update order in the
    # reference, _primekg.py:155-172); within-file duplicate keys are
    # assumed unique as in the reference data
    return out.groupBy("ann_id").agg(
        F.max_by("ann_json", F.col("_part")).alias("ann_json")
    )


def _merge_json(props_col: str, ann_col: str):
    """JSON-object merge with exact ``dict.update`` semantics
    (kgw/biomedicine/_primekg.py:218-219,238-239): an annotation key
    that already exists in the base object overwrites the value *in
    place* (keeping the base key's position); new keys are appended in
    annotation order. No duplicate keys are ever emitted. Valid for
    flat string-valued objects, which is what both merge call sites
    produce (CSV-sourced properties and annotations)."""
    a, b = F.col(props_col), F.col(ann_col)
    base = F.from_json(a, "map<string,string>")
    ann = F.from_json(b, "map<string,string>")
    updated = F.transform(
        F.map_entries(base),
        lambda e: F.struct(
            e["key"].alias("key"),
            F.coalesce(F.try_element_at(ann, e["key"]), e["value"]).alias("value"),
        ),
    )
    appended = F.filter(
        F.map_entries(ann), lambda e: ~F.map_contains_key(base, e["key"])
    )
    merged = F.to_json(F.map_from_entries(F.concat(updated, appended)))
    return (
        F.when(b.isNull() | (b == "{}"), a)
        .when(a == "{}", b)
        .otherwise(merged)
    )


def read_primekg_csv(
    spark: SparkSession, kg_path: str, annotation_paths: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    kg = _read_table(spark, kg_path, ",")

    def side(prefix: str, order: int) -> DataFrame:
        # the reference filters ONLY the y-side properties through
        # is_informative_value (_primekg.py:210-239): x-side nodes keep
        # empty identifier/name/source verbatim (csv empties are "")
        filtered = prefix == "y"

        def run(batches, prefix=prefix, filtered=filtered):
            for pdf in batches:
                props = []
                for ident, name, source in zip(
                    pdf[f"{prefix}_id"], pdf[f"{prefix}_name"], pdf[f"{prefix}_source"]
                ):
                    d = {"identifier": ident, "name": name, "source": source}
                    if filtered:
                        d = {k: v for k, v in d.items() if is_informative_value(v)}
                    else:
                        # Spark csv reads empty fields as null; the
                        # reference's csv.reader yields "" — restore it
                        d = {k: ("" if v is None else v) for k, v in d.items()}
                    props.append(_jdumps(d))
                yield pd.DataFrame(
                    {
                        "id": pdf[f"{prefix}_index"],
                        "type": pdf[f"{prefix}_type"],
                        "properties": props,
                    }
                )

        return kg.mapInPandas(run, schema=NODES_SCHEMA).withColumn(
            "_side", F.lit(order)
        )

    candidates = side("x", 0).union(side("y", 1))
    # deterministic replacement for the reference's first-seen set
    # (SURVEY §7.4): x-side wins, then min (type, properties)
    w = Window.partitionBy("id").orderBy("_side", "type", "properties")
    nodes = (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("id", "type", "properties")
    )
    if annotation_paths:
        # unhinted join (T7): annotation maps are usually small, but
        # nothing bounds them — Catalyst broadcasts while its size
        # estimate is under the broadcast threshold
        ann = _annotation_map_df(spark, annotation_paths, ",")
        nodes = (
            nodes.join(ann, nodes["id"] == ann["ann_id"], "left")
            .withColumn("properties", _merge_json("properties", "ann_json"))
            .select("id", "type", "properties")
        )

    def edge_fn(batches):
        for pdf in batches:
            props = [
                _jdumps(
                    {"display_relation": d}
                    if is_informative_value(d)
                    else {}
                )
                for d in pdf["display_relation"]
            ]
            yield pd.DataFrame(
                {
                    "source_id": pdf["x_index"],
                    "target_id": pdf["y_index"],
                    "type": pdf["relation"],
                    "properties": props,
                }
            )

    edges = kg.mapInPandas(edge_fn, schema=EDGES_SCHEMA)
    return nodes, edges


# ---------------------------------------------------------------------------
# oregano-style bare triples TSV + annotation TSVs
# (kgw/biomedicine/_oregano.py:140-245)
# ---------------------------------------------------------------------------
def read_oregano_tsv(
    spark: SparkSession, kg_path: str, annotation_paths: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    raw = (
        spark.read.option("sep", "\t")
        .csv(kg_path)
        .toDF("subject", "predicate", "object")
    )
    ids = (
        raw.select(F.col("subject").alias("id"))
        .union(raw.select(F.col("object").alias("id")))
        .distinct()
    )
    node_type = F.when(
        F.instr(F.col("id"), ":") > 0,
        F.lower(F.split(F.col("id"), ":", 2).getItem(0)),
    ).otherwise(F.lit("code"))
    nodes = ids.select("id", node_type.alias("type"), F.lit("{}").alias("properties"))
    if annotation_paths:
        # oregano strips whitespace on keys and values (_oregano.py:160-164);
        # unhinted join as in read_primekg_csv
        ann = _annotation_map_df_stripped(spark, annotation_paths)
        nodes = (
            nodes.join(ann, nodes["id"] == ann["ann_id"], "left")
            .withColumn(
                "properties",
                F.coalesce(F.col("ann_json"), F.lit("{}")),
            )
            .select("id", "type", "properties")
        )
    edges = raw.select(
        F.col("subject").alias("source_id"),
        F.col("object").alias("target_id"),
        F.col("predicate").alias("type"),
        F.lit("{}").alias("properties"),
    ).dropDuplicates(["source_id", "type", "target_id"])
    return nodes, edges


def _annotation_map_df_stripped(spark: SparkSession, paths: list[str]) -> DataFrame:
    parts = []
    for i, p in enumerate(paths):
        df = _read_table(spark, p, "\t")
        key = df.columns[0]
        rest = df.columns[1:]

        def run(batches, key=key, rest=rest):
            def s(v):
                return v.strip() if isinstance(v, str) else v

            for pdf in batches:
                anns = [
                    _jdumps(
                        {
                            s(k): s(v)
                            for k, v in zip(rest, vals)
                            if is_informative_value(s(v))
                        }
                    )
                    for vals in zip(*[pdf[c] for c in rest])
                ] if rest else ["{}"] * len(pdf)
                yield pd.DataFrame({"ann_id": pdf[key], "ann_json": anns})

        parts.append(
            df.mapInPandas(run, schema="ann_id string, ann_json string").withColumn(
                "_part", F.lit(i)
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out.groupBy("ann_id").agg(
        F.max_by("ann_json", F.col("_part")).alias("ann_json")
    )


# ---------------------------------------------------------------------------
# pharmebinet-style TSV pair with embedded JSON properties
# (kgw/biomedicine/_pharmebinet.py:142-225)
# ---------------------------------------------------------------------------
def read_pharmebinet_tsv(
    spark: SparkSession, nodes_path: str, edges_path: str
) -> tuple[DataFrame, DataFrame]:
    node_extra = ["name", "identifier", "resource", "license", "source", "url"]
    edge_extra = ["relationship_id", "resource", "license", "source", "url"]

    def node_fn(batches):
        for pdf in batches:
            props = []
            for p, extras in zip(
                pdf["properties"], zip(*[pdf[c] for c in node_extra])
            ):
                d = json.loads(p)
                # nodes: extras added unconditionally (_pharmebinet.py:171-175)
                for k, v in zip(node_extra, extras):
                    d[k] = v
                props.append(_jdumps(d))
            yield pd.DataFrame(
                {
                    "id": pdf["node_id"],
                    "type": pdf["labels"],
                    "properties": props,
                }
            )

    def edge_fn(batches):
        for pdf in batches:
            props = []
            for p, extras in zip(
                pdf["properties"], zip(*[pdf[c] for c in edge_extra])
            ):
                d = json.loads(p)
                # edges: extras only if informative (_pharmebinet.py:210-216)
                for k, v in zip(edge_extra, extras):
                    if is_informative_value(v):
                        d[k] = v
                props.append(_jdumps(d))
            yield pd.DataFrame(
                {
                    "source_id": pdf["start_id"],
                    "target_id": pdf["end_id"],
                    "type": pdf["type"],
                    "properties": props,
                }
            )

    nodes = _read_table(spark, nodes_path, "\t").mapInPandas(
        node_fn, schema=NODES_SCHEMA
    )
    edges = _read_table(spark, edges_path, "\t").mapInPandas(
        edge_fn, schema=EDGES_SCHEMA
    )
    return nodes, edges


# ---------------------------------------------------------------------------
# ckg-style CSV pair (positional columns, embedded JSON properties) —
# the shape produced by the reference's Neo4j→CSV export stage
# (kgw/biomedicine/_ckg.py:178-233; the Docker/APOC export itself,
# _ckg.py:300-368, is an external connector out of engine scope)
# ---------------------------------------------------------------------------
def read_ckg_csv(
    spark: SparkSession, nodes_path: str, edges_path: str
) -> tuple[DataFrame, DataFrame]:
    def node_fn(batches):
        for pdf in batches:
            c = pdf.columns
            props = [
                _jdumps(
                    {
                        str(k): v
                        for k, v in json.loads(p).items()
                        if is_informative_value(v)
                    }
                )
                for p in pdf[c[2]]
            ]
            yield pd.DataFrame(
                {
                    "id": pdf[c[0]].astype(str),
                    "type": pdf[c[1]].astype(str),
                    "properties": props,
                }
            )

    def edge_fn(batches):
        for pdf in batches:
            c = pdf.columns
            props = [
                _jdumps(
                    {
                        str(k): v
                        for k, v in json.loads(p).items()
                        if is_informative_value(v)
                    }
                )
                for p in pdf[c[3]]
            ]
            yield pd.DataFrame(
                {
                    "source_id": pdf[c[0]].astype(str),
                    "target_id": pdf[c[1]].astype(str),
                    "type": pdf[c[2]].astype(str),
                    "properties": props,
                }
            )

    nodes = _read_table(spark, nodes_path, ",").mapInPandas(
        node_fn, schema=NODES_SCHEMA
    )
    edges = _read_table(spark, edges_path, ",").mapInPandas(
        edge_fn, schema=EDGES_SCHEMA
    )
    return nodes, edges
