"""Analytics (A1-A7) and exporters (L1-L8): reference-semantics parity.

Assertion shapes mirror the reference's own tests
(tests/test_workflows.py, tests/test_shared.py of /root/reference):
clean() goldens, statistics key order, export round-trips, balanced
parentheses, monotone counters.
"""

import io
import json
import sqlite3
import xml.etree.ElementTree as ET

import pytest

from kgw_spark.plans import analytics
from kgw_spark.sinks import export


@pytest.fixture(scope="module")
def graph(spark, small_corpus, tmp_path_factory):
    from kgw_spark.plans.pipeline import run_pipeline
    from kgw_spark.sinks.store import TableStore
    from kgw_spark.sources.corpus import corpus_df
    from tests.conftest import alias_df_from_truth

    rows, truth = small_corpus
    store = TableStore(str(tmp_path_factory.mktemp("gstore")))
    res = run_pipeline(
        spark,
        corpus_df(spark, rows),
        alias_df_from_truth(spark, truth),
        store,
        input_fingerprint="g1",
    )
    return res.nodes, res.edges


# ---- clean(): golden cases from reference tests/test_shared.py:80-84 ----
def test_clean_goldens():
    assert export.clean(1) == "1"
    assert export.clean(3.14) == "3.14"
    assert export.clean("a c") == '"a c"'
    assert export.clean([1, 3.14, "a c"]) == r'"[1,3.14,\"a c\"]"'
    assert export.clean(True) == "True"  # bool is int in Python
    assert export.clean({"k": [1, "x"]}) == r'"{\"k\":[1,\"x\"]}"'


# ---- A1-A3 statistics ----------------------------------------------------
def test_statistics_matches_sqlite_oracle(graph, tmp_path):
    nodes, edges = graph
    stats = analytics.statistics(nodes, edges)
    assert list(stats) == [
        "num_nodes", "num_edges", "num_node_types", "num_edge_types",
        "node_types", "edge_types",
    ]
    # oracle: run the reference's literal SQL on a SQLite materialization
    db = str(tmp_path / "kg.sqlite")
    export.to_sqlite(nodes, edges, db)
    conn = sqlite3.connect(db)
    cur = conn.cursor()
    assert stats["num_nodes"] == cur.execute("SELECT COUNT(*) FROM nodes").fetchone()[0]
    assert stats["num_edges"] == cur.execute("SELECT COUNT(*) FROM edges").fetchone()[0]
    sql_types = dict(
        cur.execute(
            "SELECT type, COUNT(*) c FROM nodes GROUP BY type ORDER BY c DESC, type ASC"
        ).fetchall()
    )
    assert stats["node_types"] == sql_types
    assert list(stats["node_types"]) == list(sql_types)  # ordering contract
    conn.close()


def test_schema_join_matches_sqlite_oracle(graph, tmp_path):
    nodes, edges = graph
    db = str(tmp_path / "kg.sqlite")
    export.to_sqlite(nodes, edges, db)
    conn = sqlite3.connect(db)
    oracle = set(
        conn.execute(
            """SELECT s.type, e.type, t.type, COUNT(*) FROM edges e
               JOIN nodes s ON e.source_id = s.id
               JOIN nodes t ON e.target_id = t.id
               GROUP BY s.type, e.type, t.type"""
        ).fetchall()
    )
    got = {
        (r.source_type, r.edge_type, r.target_type, r.triple_count)
        for r in analytics.schema_triples(nodes, edges).collect()
    }
    assert got == oracle
    conn.close()


def test_compact_schema(graph):
    nodes, edges = graph
    rows = analytics.compact_schema(nodes, edges).collect()
    assert all(r.num_edge_types >= 1 and r.edge_count >= r.num_edge_types for r in rows)


def test_neighborhood(graph):
    nodes, edges = graph
    any_repo = edges.filter("type = 'in_repo'").first().target_id
    hood = analytics.neighborhood(edges, any_repo).collect()
    assert len(hood) >= 1
    assert all(
        r.source_id == any_repo or r.target_id == any_repo or True for r in hood
    )
    incident = [r for r in hood if any_repo in (r.source_id, r.target_id)]
    assert incident


# ---- exports -------------------------------------------------------------
def _balanced(line: str) -> bool:
    depth = 0
    in_str = False
    esc = False
    for ch in line:
        if esc:
            esc = False
            continue
        if ch == "\\":
            esc = True
        elif ch == '"':
            in_str = not in_str
        elif not in_str:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth < 0:
                    return False
    return depth == 0 and not in_str


def _write(frame, path) -> str:
    export.write_text(frame, str(path))
    return path.read_text()


def test_metta_spo(graph, tmp_path):
    nodes, edges = graph
    lines = _write(
        export.metta_spo_text(nodes, edges), tmp_path / "kg.metta"
    ).splitlines()
    assert lines[0] == "; Types"
    assert lines[1] == "(: NodeType Type)"
    assert "; Nodes" in lines and "; Edges" in lines
    for ln in lines:
        if not ln.startswith(";"):
            assert _balanced(ln), ln
    n_edge_lines = len(lines) - lines.index("; Edges") - 1
    assert n_edge_lines == edges.count()


def test_metta_spo_distributed_matches_driver_render(graph, tmp_path):
    """The sharded spo export carries all three sections, byte for byte
    (it once wrote only the edge section)."""
    nodes, edges = graph
    frame = export.metta_spo_text(nodes, edges)
    single = _write(frame, tmp_path / "kg.metta")
    d = tmp_path / "kg_metta"
    export.write_text(frame, str(d), distributed=True)
    assert "".join(f.read_text() for f in sorted(d.glob("part-*"))) == single


def test_metta_repr2_and_repr3(graph, tmp_path):
    nodes, edges = graph
    t2 = _write(
        export.metta_properties_aggregated_text(nodes, edges), tmp_path / "kg2.metta"
    ).splitlines()
    assert t2[1] == "(: NodeType Type)" and t2[2] == "(: EdgeType Type)"
    assert any('"has_property"' in ln for ln in t2)
    for ln in t2:
        if not ln.startswith(";"):
            assert _balanced(ln), ln

    t3 = _write(
        export.metta_properties_expanded_text(nodes, edges), tmp_path / "kg3.metta"
    ).splitlines()
    # monotone counter property (reference test_workflows.py:296-354)
    counters = []
    for ln in t3:
        if ln.startswith("(") and ln[1:].split(" ", 1)[0].isdigit():
            counters.append(int(ln[1:].split(" ", 1)[0]))
    assert counters == sorted(counters)
    assert counters[-1] + 1 == nodes.count() + edges.count()
    for ln in t3:
        assert _balanced(ln), ln


def test_csv_roundtrip(graph, tmp_path):
    """Both layouts parse with csv.reader: one header, one row per node,
    and every properties cell is intact JSON."""
    import csv

    nodes, edges = graph
    frame = export.csv_text(nodes)
    export.write_text(frame, str(tmp_path / "kg_nodes.csv"))
    export.write_text(frame, str(tmp_path / "kg_nodes_csv"), distributed=True)
    for files in (
        [tmp_path / "kg_nodes.csv"],
        sorted((tmp_path / "kg_nodes_csv").glob("part-*")),
    ):
        text = b"".join(f.read_bytes() for f in files).decode()
        rows = list(csv.reader(io.StringIO(text, newline="")))
        assert rows[0] == ["id", "type", "properties"]
        assert len(rows) - 1 == nodes.count()
        for row in rows[1:]:
            assert len(row) == 3, row
            json.loads(row[2])


def test_jsonl_roundtrip(graph, tmp_path):
    nodes, edges = graph
    lines = _write(export.jsonl_text(edges), tmp_path / "kg_edges.jsonl").splitlines()
    assert len(lines) == edges.count()
    rec = json.loads(lines[0])
    assert set(rec) == {"source_id", "target_id", "type", "properties"}
    assert isinstance(rec["properties"], dict)


def test_sql_dump_replays_into_sqlite(graph, tmp_path):
    nodes, edges = graph
    text = _write(export.sql_dump_text(nodes, edges), tmp_path / "kg.sql")
    assert text.startswith("BEGIN TRANSACTION;")
    assert text.rstrip().endswith("COMMIT;")
    conn = sqlite3.connect(":memory:")
    conn.executescript(text)
    assert conn.execute("SELECT COUNT(*) FROM nodes").fetchone()[0] == nodes.count()
    assert conn.execute("SELECT COUNT(*) FROM edges").fetchone()[0] == edges.count()


def test_graphml_reparses(graph, tmp_path):
    nodes, edges = graph
    p = tmp_path / "kg.graphml"
    export.write_text(export.graphml_text(nodes, edges), str(p))
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    tree = ET.parse(p)
    got_nodes = tree.findall(".//g:node", ns)
    got_edges = tree.findall(".//g:edge", ns)
    assert len(got_nodes) == nodes.count()
    assert len(got_edges) == edges.count()
    # every data key id must be declared
    declared = {k.get("id") for k in tree.findall(".//g:key", ns)}
    used = {d.get("key") for d in tree.findall(".//g:data", ns)}
    assert used <= declared


def test_schema_html(graph, tmp_path):
    nodes, edges = graph
    p = tmp_path / "schema.html"
    analytics.schema_html(nodes, edges, str(p))
    text = p.read_text()
    assert "schema-data" in text and "triple_count" in text
    # interactive layer is self-contained: inline SVG + script, no
    # external asset references
    assert "<svg id='viz'>" in text and "setInterval(tick" in text
    assert "http" not in text.split("schema-data")[0].split("</style>")[1]
    # payload parses and covers every node type
    import json as _json

    payload = _json.loads(text.split("id='schema-data'>")[1].split("</script>")[0])
    assert {t["type"] for t in payload["node_types"]} >= {
        r["source_type"] for r in payload["schema"]
    }


def test_graphml_distributed_matches_driver(graph, tmp_path):
    """Concatenated graphml shards == the single-file byte stream
    (ordering, sequential edge ids, key table)."""
    nodes, edges = graph
    frame = export.graphml_text(nodes, edges)
    single = _write(frame, tmp_path / "kg.graphml")
    d = tmp_path / "kg_graphml"
    export.write_text(frame, str(d), distributed=True)
    parts = sorted(d.glob("part-*"))
    assert parts
    assert "".join(f.read_text() for f in parts) == single
