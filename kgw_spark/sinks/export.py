"""File exporters: unified store → sql/csv/jsonl/metta/graphml.

Semantics ported exactly from kgw/_shared/load.py (cited per function);
the architecture is not. Each format has one renderer, ``*_text``,
which returns an ordered single-column ``value`` DataFrame: one row per
record (ordering, dedup, JSON encode and the per-record render all run
distributed), plus header/footer rows. ``write_text`` is the one sink:
it streams that frame through the driver into a single file (bounded
memory), or writes it as a directory of part files whose concatenation
is the same bytes — the sharded layout for stores too big for one file.

Deterministic order convention (the reference inherits SQLite scan
order, which is insertion order; we must not depend on partitioning):
nodes by id ASC, edges by (source_id, type, target_id) ASC, distinct
types ASC. The P/R triple contract is set-based, so order conventions
do not affect scoring.
"""

from __future__ import annotations

import csv
import io
import json
import xml.sax.saxutils as saxutils

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# MeTTa atom quoting — exact port of kgw/_shared/load.py:538-545
# (golden cases: tests/test_shared.py:80-84 of the reference).
# Note bool is an int subclass in Python, so clean(True) == "True",
# matching the reference.
# --------------------------------------------------------------------------
def _jdumps(item) -> str:
    # orjson-compatible: compact separators, no ASCII escaping
    return json.dumps(item, separators=(",", ":"), ensure_ascii=False)


def clean(item) -> str:
    if isinstance(item, (int, float)):
        s = str(item)
    else:
        s = _jdumps(item)
        if not s.startswith('"'):
            s = _jdumps(s)
    return s


NODE_COLS = ["id", "type", "properties"]
EDGE_COLS = ["source_id", "target_id", "type", "properties"]


def _canon(df: DataFrame) -> DataFrame:
    """Restore canonical column order (reading a type-partitioned table
    puts the partition column last)."""
    cols = NODE_COLS if "id" in df.columns else EDGE_COLS
    return df.select(*cols)


def _ordered_nodes(nodes: DataFrame) -> DataFrame:
    return _canon(nodes).orderBy("id")


def _ordered_edges(edges: DataFrame) -> DataFrame:
    return _canon(edges).orderBy("source_id", "type", "target_id")


def _ordered(df: DataFrame) -> DataFrame:
    return _ordered_nodes(df) if "id" in df.columns else _ordered_edges(df)


def _types(df: DataFrame) -> list[str]:
    return sorted(r["type"] for r in df.select("type").distinct().collect())


def _record(row, empty: str = "{}") -> dict:
    """A node/edge row as a dict in column order, properties parsed."""
    rec = row.asDict()
    rec["properties"] = json.loads(rec["properties"] or empty)
    return rec


# --------------------------------------------------------------------------
# The text-frame contract and its one sink
# --------------------------------------------------------------------------
def _strip_nl(v: str) -> str:
    return v[:-1] if v.endswith("\n") else v


def _sectioned_text(spark, sections) -> DataFrame:
    """Build the ordered single-column export DataFrame from a list of
    (header_string | None, rdd_of_value_strings | None) sections; RDD
    union preserves per-section partition order. Rows carry NO trailing
    newline (the sink appends one per row). Multi-line blocks keep their
    INTERNAL newlines inside one row."""
    sc = spark.sparkContext
    parts = []
    for header, rdd in sections:
        if header is not None:
            parts.append(sc.parallelize([_strip_nl(header)], 1))
        if rdd is not None:
            parts.append(rdd.map(_strip_nl))
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return spark.createDataFrame(out.map(lambda v: (v,)), schema="value string")


def write_text(frame: DataFrame, path: str, distributed: bool = False) -> None:
    """Write a ``*_text`` frame, each row plus ``"\\n"``: one file at
    ``path`` streamed through ``toLocalIterator``, or (``distributed``)
    a directory of ``part-*`` files that concatenate to the same bytes."""
    if distributed:
        frame.write.mode("overwrite").text(path)
        return
    with open(path, "w", encoding="utf-8", newline="") as f:
        for row in frame.toLocalIterator():
            f.write(row.value + "\n")


# --------------------------------------------------------------------------
# L6 — MeTTa "spo": the canonical triple serialization
# (kgw/_shared/load.py:548-607)
# --------------------------------------------------------------------------
def _spo_node(row) -> str:
    return f"(: {clean(row['id'])} {clean(row['type'])})"


def _spo_edge(row) -> str:
    return (
        f"({clean(row['source_id'])} {clean(row['type'])} "
        f"{clean(row['target_id'])})"
    )


def metta_spo_text(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    types = "".join(f"(: {clean(t)} NodeType)\n" for t in _types(nodes))
    return _sectioned_text(
        nodes.sparkSession,
        [
            ("; Types\n(: NodeType Type)\n" + types + "; Nodes\n",
             _ordered_nodes(nodes).rdd.map(_spo_node)),
            ("; Edges\n", _ordered_edges(edges).rdd.map(_spo_edge)),
        ],
    )


# --------------------------------------------------------------------------
# L7 — MeTTa "properties_aggregated" (kgw/_shared/load.py:610-716).
# Deliberate deviation (SURVEY §7.4): the reference's edge ids e{i}
# restart every 10k-row fetch batch (load.py:688-694) and are thus
# non-unique above 10k edges; we use a global sequential id, identical
# to the reference's output whenever the store has ≤ 10k edges.
# --------------------------------------------------------------------------
def _repr2_block(subject: str, lines: list[str], properties) -> str:
    for key, val in json.loads(properties or "{}").items():
        lines.append(f'("has_property" {subject} ({clean(key)} {clean(val)}))')
    return "".join(line + "\n" for line in lines)


def _repr2_node_block(row) -> str:
    nid = clean(row["id"])
    return _repr2_block(nid, [f"(: {nid} {clean(row['type'])})"], row["properties"])


def _repr2_edge_block(row, i: int) -> str:
    eid, etype = f'"e{i}"', clean(row["type"])
    sid, tid = clean(row["source_id"]), clean(row["target_id"])
    lines = [f"(: {eid} {etype})", f"({eid} ({etype} {sid} {tid}))"]
    return _repr2_block(eid, lines, row["properties"])


def _repr2_types_header(nodes: DataFrame, edges: DataFrame) -> str:
    out = ["; Types", "(: NodeType Type)", "(: EdgeType Type)"]
    for t in _types(nodes):
        out.append(f"(: {clean(t)} NodeType)")
    for t in _types(edges):
        out.append(f"(: {clean(t)} EdgeType)")
    return "".join(line + "\n" for line in out)


def metta_properties_aggregated_text(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """L7: one text block per node/edge, global sequential
    edge ids assigned with ``zipWithIndex`` over the export order (a
    per-partition-offset pass — no single-partition shuffle). The e{i}
    global-id deviation from the reference's per-10k-batch reset
    applies (SURVEY §7.4)."""
    spark = nodes.sparkSession
    node_rdd = _ordered_nodes(nodes).rdd.map(_repr2_node_block)
    edge_rdd = (
        _ordered_edges(edges)
        .rdd.zipWithIndex()
        .map(lambda pair: _repr2_edge_block(pair[0], pair[1]))
    )
    return _sectioned_text(
        spark,
        [
            (_repr2_types_header(nodes, edges) + "; Nodes\n", node_rdd),
            ("; Edges\n", edge_rdd),
        ],
    )


# --------------------------------------------------------------------------
# L8 — MeTTa "properties_expanded" (kgw/_shared/load.py:719-843):
# flatten every node/edge record (nested dicts/lists, list depth ≤ 5)
# into one nested-path s-expression per leaf, global running counter.
# --------------------------------------------------------------------------
def _walk(d, pre):
    if isinstance(d, dict):
        for key, value in d.items():
            if isinstance(value, dict):
                yield from _walk(value, pre + [key])
            elif isinstance(value, (list, tuple)):
                yield from _walk_list(value, key, (), pre, 0)
            else:
                yield pre + [key, value]
    else:
        yield pre + [d]


def _walk_list(value, key, idx, pre, depth):
    if depth >= 5:
        raise NotImplementedError("list nesting deeper than 5 not supported")
    for k, v in enumerate(value):
        if isinstance(v, (list, tuple)):
            yield from _walk_list(v, key, idx + (k,), pre, depth + 1)
        else:
            yield from _walk(v, pre + [(key, *idx, k)])


def _record_to_metta(record: dict) -> list[str]:
    out = []
    for path in _walk(record, []):
        s = path[-1]
        if isinstance(s, str):
            s = clean(s)
        for item in reversed(path[:-1]):
            if isinstance(item, tuple):
                item_str = " ".join(clean(x) for x in item)
                s = f"({item_str} {s})"
            else:
                s = f"({clean(item)} {s})"
        out.append(s)
    return out


def _repr3_block(payload: dict, cnt: int) -> str:
    return "".join(line + "\n" for line in _record_to_metta({cnt: payload}))


def metta_properties_expanded_text(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """L8: the global monotone record counter spans nodes
    then edges, assigned by one ``zipWithIndex`` over the unified
    ordered record stream (per-partition offsets, no global shuffle)."""
    spark = nodes.sparkSession
    records = (
        _ordered_nodes(nodes)
        .rdd.map(_record)
        .union(_ordered_edges(edges).rdd.map(_record))
        .zipWithIndex()
        .map(lambda pair: _repr3_block(pair[0], pair[1]))
    )
    return _sectioned_text(spark, [(None, records)])


# --------------------------------------------------------------------------
# L3 — CSV (kgw/_shared/load.py:294-315): excel dialect, QUOTE_ALL,
# header row, one file per table.
# --------------------------------------------------------------------------
def _csv_line(values) -> str:
    buf = io.StringIO()
    csv.writer(buf, dialect="excel", quoting=csv.QUOTE_ALL).writerow(values)
    return buf.getvalue()  # ends "\r\n"; _strip_nl keeps the "\r"


def csv_text(df: DataFrame) -> DataFrame:
    ordered = _ordered(df)
    return _sectioned_text(
        df.sparkSession,
        [(_csv_line(ordered.columns), ordered.rdd.map(_csv_line))],
    )


# --------------------------------------------------------------------------
# L4 — JSONL (kgw/_shared/load.py:318-364): nested properties object,
# keys in their stored order.
# --------------------------------------------------------------------------
def jsonl_text(df: DataFrame) -> DataFrame:
    lines = _ordered(df).rdd.map(lambda r: _jdumps(_record(r, "null")))
    return _sectioned_text(df.sparkSession, [(None, lines)])


# --------------------------------------------------------------------------
# L2 — SQL dump (kgw/_shared/load.py:286-291): sqlite iterdump format.
# --------------------------------------------------------------------------
def _sq(s: str | None) -> str:
    if s is None:
        return "NULL"
    return "'" + s.replace("'", "''") + "'"


_SQL_DUMP_NODES_DDL = (
    "BEGIN TRANSACTION;\n"
    "CREATE TABLE nodes (\n"
    "        id TEXT PRIMARY KEY,\n"
    "        type TEXT NOT NULL,\n"
    "        properties TEXT\n"
    "    );\n"
)
_SQL_DUMP_EDGES_DDL = (
    "CREATE TABLE edges (\n"
    "        source_id TEXT NOT NULL,\n"
    "        target_id TEXT NOT NULL,\n"
    "        type TEXT NOT NULL,\n"
    "        properties TEXT,\n"
    "        FOREIGN KEY (source_id) REFERENCES nodes (id),\n"
    "        FOREIGN KEY (target_id) REFERENCES nodes (id)\n"
    "    );\n"
)
_SQL_DUMP_FOOTER = (
    "CREATE INDEX idx_edges_source ON edges (source_id);\n"
    "CREATE INDEX idx_edges_target ON edges (target_id);\n"
    "COMMIT;\n"
)


def _insert(table: str, row) -> str:
    return f'INSERT INTO "{table}" VALUES({",".join(map(_sq, row))});\n'


def sql_dump_text(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """L2: sqlite-iterdump-format INSERT statements rendered
    executor-side, DDL/footer as single-row sections."""
    spark = nodes.sparkSession
    return _sectioned_text(
        spark,
        [
            (_SQL_DUMP_NODES_DDL,
             _ordered_nodes(nodes).rdd.map(lambda r: _insert("nodes", r))),
            (_SQL_DUMP_EDGES_DDL,
             _ordered_edges(edges).rdd.map(lambda r: _insert("edges", r))),
            (_SQL_DUMP_FOOTER, None),
        ],
    )


def to_sqlite(nodes: DataFrame, edges: DataFrame, db_filepath: str) -> None:
    """L1 small-scale parity artifact: materialize the store as the
    reference's SQLite schema (kgw/_shared/transform.py:10-30) so
    reference-style tooling can replay it. Test scale only."""
    import sqlite3

    conn = sqlite3.connect(db_filepath)
    cur = conn.cursor()
    cur.executescript(
        """
        CREATE TABLE IF NOT EXISTS nodes (
            id TEXT PRIMARY KEY, type TEXT NOT NULL, properties TEXT);
        CREATE TABLE IF NOT EXISTS edges (
            source_id TEXT NOT NULL, target_id TEXT NOT NULL,
            type TEXT NOT NULL, properties TEXT,
            FOREIGN KEY (source_id) REFERENCES nodes (id),
            FOREIGN KEY (target_id) REFERENCES nodes (id));
        CREATE INDEX IF NOT EXISTS idx_edges_source ON edges (source_id);
        CREATE INDEX IF NOT EXISTS idx_edges_target ON edges (target_id);
        """
    )
    # executemany consumes the row iterator lazily: bounded memory
    cur.executemany(
        "INSERT INTO nodes VALUES (?,?,?)", _ordered_nodes(nodes).toLocalIterator()
    )
    cur.executemany(
        "INSERT INTO edges VALUES (?,?,?,?)", _ordered_edges(edges).toLocalIterator()
    )
    conn.commit()
    conn.close()


# --------------------------------------------------------------------------
# L5 — GraphML (kgw/_shared/load.py:367-535): pass 1 discovers the
# global property-key set + infers attr types from the first value
# seen; pass 2 streams nodes then edges. Key discovery here runs
# distributed (explode of parsed JSON keys, first value by export
# order) before the sequential render.
# --------------------------------------------------------------------------
def _attr_type(val) -> str:
    if isinstance(val, bool):
        return "boolean"
    if isinstance(val, int):
        return "long"
    if isinstance(val, float):
        return "double"
    return "string"


def _clean_id(item: str) -> str:
    # Deliberate deviation from the reference's clean_id
    # (load.py:369-370), which backslash-escapes quotes — that yields
    # ill-formed XML whenever an id contains a double quote (the
    # reference never hits this because its dataset ids are quote-free;
    # on such ids the two implementations are byte-identical). We use
    # proper XML attribute escaping so the output always re-parses.
    return saxutils.escape(item, {'"': "&quot;"})


def _clean_val(item) -> str:
    if isinstance(item, (bool, int, float)):
        return item
    return saxutils.escape(_jdumps(item))


def _discover_attrs(df: DataFrame, kind: str, start: int) -> dict:
    """Distributed pass 1: first (by export order) value per property
    key, with the GraphML type inferred from the parsed value — a
    mapInPandas probe so typing is exact (the reference infers from
    the Python value, load.py:394-402)."""
    order_cols = ["id"] if kind == "node" else ["source_id", "type", "target_id"]

    def probe(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            order = pdf[order_cols].astype(str).agg("\x00".join, axis=1)
            for okey, props in zip(order, pdf["properties"]):
                try:
                    parsed = json.loads(props) if props else {}
                except ValueError:
                    parsed = {}
                for k, v in parsed.items():
                    recs.append((okey, k, _attr_type(v)))
            yield pd.DataFrame(recs, columns=["o", "k", "t"])

    probed = df.select(*order_cols, "properties").mapInPandas(
        probe, schema="o string, k string, t string"
    )
    firsts = (
        probed.groupBy("k")
        .agg(F.min(F.struct("o", "t")).alias("w"))
        .select("k", F.col("w.t").alias("t"))
        .collect()
    )
    attrs = {}
    cnt = start
    for r in sorted(firsts, key=lambda r: r["k"]):
        attrs[f"{kind}_{r['k']}"] = {
            "id": f"d{cnt}",
            "for": kind,
            "name": r["k"],
            "type": r["t"],
        }
        cnt += 1
    return attrs


def _graphml_attributes(nodes: DataFrame, edges: DataFrame) -> dict:
    attributes = {
        "_node_type": {"id": "d0", "for": "node", "name": "node_type", "type": "string"}
    }
    attributes.update(_discover_attrs(nodes, "node", 1))
    nxt = len(attributes)
    attributes["_edge_type"] = {
        "id": f"d{nxt}",
        "for": "edge",
        "name": "edge_type",
        "type": "string",
    }
    attributes.update(_discover_attrs(edges, "edge", nxt + 1))
    return attributes


def _graphml_header(attributes: dict) -> str:
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<graphml xmlns="http://graphml.graphdrawing.org/xmlns"\n'
        '         xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"\n'
        '         xsi:schemaLocation="http://graphml.graphdrawing.org/xmlns\n'
        "                             http://graphml.graphdrawing.org/xmlns/1.0/graphml.xsd\">\n"
        + "\n".join(
            f'<key id="{a["id"]}" for="{a["for"]}" '
            f'attr.name="{a["name"]}" attr.type="{a["type"]}"/>'
            for a in attributes.values()
        )
        + '\n<graph id="knowledge_graph" edgedefault="directed">\n'
    )


def _graphml_element(kind: str, row, attributes: dict, open_tag: str, close_tag: str) -> str:
    attr = {f"_{kind}_type": row["type"]}
    for k, v in json.loads(row["properties"] or "{}").items():
        attr[f"{kind}_{k}"] = v
    data = "".join(
        f' <data key="{attributes[key]["id"]}">{_clean_val(val)}</data>\n'
        for key, val in attr.items()
    )
    return open_tag + data + close_tag


def _graphml_node_block(row, attributes: dict) -> str:
    open_tag = f'<node id="{_clean_id(row["id"])}">\n'
    return _graphml_element("node", row, attributes, open_tag, " </node>\n")


def _graphml_edge_block(row, edge_id: int, attributes: dict) -> str:
    open_tag = (
        f'<edge id="{edge_id}" source="{_clean_id(row["source_id"])}" '
        f'target="{_clean_id(row["target_id"])}">\n'
    )
    return _graphml_element("edge", row, attributes, open_tag, "</edge>\n")


_GRAPHML_FOOTER = "\n</graph>\n</graphml>\n"


def graphml_text(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """L5: key discovery is a distributed pass
    (_discover_attrs); element rendering runs executor-side with the
    small attribute map shipped in the closure; sequential edge ids via
    ``zipWithIndex`` over the export order."""
    spark = nodes.sparkSession
    attributes = _graphml_attributes(nodes, edges)
    node_rdd = _ordered_nodes(nodes).rdd.map(
        lambda row: _graphml_node_block(row, attributes)
    )
    edge_rdd = (
        _ordered_edges(edges)
        .rdd.zipWithIndex()
        .map(lambda pair: _graphml_edge_block(pair[0], pair[1], attributes))
    )
    return _sectioned_text(
        spark,
        [
            (_graphml_header(attributes), node_rdd),
            (None, edge_rdd),
            (_GRAPHML_FOOTER, None),
        ],
    )
