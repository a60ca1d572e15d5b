"""Project/run workflow API: output generation, memoized resume,
arg-matrix validation (reference tests/test_workflows.py shapes)."""

import json
import os
import pathlib
import sqlite3

import pytest

from kgw_spark.api import VALID_METTA, RawGraphProject, run
from kgw_spark.sources import readers


@pytest.fixture()
def hald_project(spark, tmp_path):
    nodes_doc = {
        "k1": [{"entity": "E1", "type": "Gene", "d": 1}],
        "k2": [{"entity": "E2", "type": "Drug"}],
    }
    edges_doc = {
        "r": {"source entity": "E1", "target entity": "E2", "relationship": "binds"}
    }
    (tmp_path / "n.json").write_text(json.dumps(nodes_doc))
    (tmp_path / "e.json").write_text(json.dumps(edges_doc))
    return RawGraphProject(
        "hald_fixture",
        load=lambda s: readers.read_hald_json(
            s, str(tmp_path / "n.json"), str(tmp_path / "e.json")
        ),
        version="1",
        workdir=str(tmp_path / "work"),
    )


def test_full_workflow(spark, hald_project):
    p = hald_project
    p.to_sqlite()
    p.to_statistics()
    p.to_schema()
    p.to_sql()
    p.to_csv()
    p.to_jsonl()
    p.to_metta("spo")
    p.to_metta("properties_aggregated")
    p.to_metta("properties_expanded")
    p.to_graphml()
    assert run(spark, [p])

    r = p.results_dir
    expected = [
        "kg.sqlite", "statistics.json", "schema.html", "kg.sql",
        "kg_nodes.csv", "kg_edges.csv", "kg_nodes.jsonl", "kg_edges.jsonl",
        "kg_spo.metta", "kg_properties_aggregated.metta",
        "kg_properties_expanded.metta", "kg.graphml",
    ]
    for f in expected:
        assert os.path.exists(os.path.join(r, f)), f

    stats = json.load(open(os.path.join(r, "statistics.json")))
    assert stats["num_nodes"] == 2 and stats["num_edges"] == 1
    conn = sqlite3.connect(os.path.join(r, "kg.sqlite"))
    assert conn.execute("SELECT COUNT(*) FROM nodes").fetchone()[0] == 2

    # memoized resume: rerun touches nothing (mtimes unchanged)
    mtimes = {f: os.path.getmtime(os.path.join(r, f)) for f in expected}
    assert run(spark, p)  # single project accepted too
    assert mtimes == {f: os.path.getmtime(os.path.join(r, f)) for f in expected}


def test_run_arg_validation(spark):
    with pytest.raises(ValueError, match="Invalid workflow"):
        run(spark, "nonsense")
    with pytest.raises(ValueError, match="Invalid workflow item"):
        run(spark, [42])
    assert run(spark, [])  # empty workflow is a no-op success
    assert run(spark, set())


def test_invalid_metta_representation(hald_project):
    with pytest.raises(ValueError, match="Unknown representation"):
        hald_project.to_metta("bogus")


def test_distributed_outputs_match_driver_renders(spark, hald_project):
    """distributed=True exporters write sharded directories whose
    concatenated lines equal the single-file renders."""
    proj = hald_project
    proj.to_graphml().to_graphml(distributed=True)
    proj.to_sql().to_sql(distributed=True)
    proj.to_metta("properties_expanded").to_metta(
        "properties_expanded", distributed=True
    )
    assert run(spark, proj)
    results = pathlib.Path(proj.results_dir)
    for single, sharded in (
        ("kg.graphml", "kg_graphml"),
        ("kg.sql", "kg_sql"),
        ("kg_properties_expanded.metta", "kg_properties_expanded_metta"),
    ):
        parts = sorted((results / sharded).glob("part-*"))
        assert parts, sharded
        assert "".join(f.read_text() for f in parts) == (results / single).read_text()


def _adversarial_graph(spark):
    """Values that trip CSV/JSON/SQL quoting (quotes, commas, newlines,
    apostrophes, non-ASCII), property keys out of sorted order, nested
    values and null properties, spread over several partitions."""
    props = [
        None,
        "{}",
        json.dumps({"z": 1, "a": 'say "hi", it\'s', "m": [1, {"y": None, "b": 2.5}]}),
        json.dumps({"name": "line\nbreak", "ok": True, "é": "ü"}, ensure_ascii=False),
    ]
    nodes = [
        (f'n{i:02d} "q",{"é" * (i % 2)}', ("Gene", "Drug", "Gène")[i % 3], props[i % 4])
        for i in range(40)
    ]
    edges = [
        (nodes[i % 40][0], nodes[(i + 1 + i // 40 * 5) % 40][0],
         ("binds", "treats")[i % 2], props[(i + 1) % 4])
        for i in range(60)
    ]
    return (
        spark.createDataFrame(nodes, "id string, type string, properties string")
        .repartition(3),
        spark.createDataFrame(
            edges, "source_id string, target_id string, type string, properties string"
        ).repartition(3),
    )


SINGLE_FILES = [
    "kg.sql", "kg_nodes.csv", "kg_edges.csv", "kg_nodes.jsonl", "kg_edges.jsonl",
    "kg_spo.metta", "kg_properties_aggregated.metta",
    "kg_properties_expanded.metta", "kg.graphml",
]


@pytest.fixture(scope="module")
def both_layouts(spark, tmp_path_factory):
    """Every text export of the adversarial graph, as a single file and
    as a sharded directory, from one run."""
    proj = RawGraphProject(
        "adversarial", load=_adversarial_graph, workdir=str(tmp_path_factory.mktemp("w"))
    )
    for d in (False, True):
        proj.to_sql(d).to_csv(d).to_jsonl(d).to_graphml(d)
        for representation in VALID_METTA:
            proj.to_metta(representation, d)
    assert run(spark, proj)
    return pathlib.Path(proj.results_dir)


@pytest.mark.parametrize("filename", SINGLE_FILES)
def test_sharded_export_equals_single_file(both_layouts, filename):
    """distributed=True writes a directory (dots → underscores) whose
    concatenated part files are byte-identical to the single file."""
    single = (both_layouts / filename).read_bytes()
    parts = sorted((both_layouts / filename.replace(".", "_")).glob("part-*"))
    assert parts, filename
    assert b"".join(f.read_bytes() for f in parts) == single


def test_verbose_run_prints_json_task_events(spark, hald_project, capsys):
    p = hald_project.to_statistics().to_sql()
    paths = [path for path, _ in p._outputs]

    def events():
        return [json.loads(line) for line in capsys.readouterr().out.splitlines()]

    assert run(spark, p, verbose=True)
    assert events() == [
        {"event": e, "path": path} for path in paths for e in ("Started", "Finished")
    ]
    assert run(spark, p, verbose=True)
    assert events() == [{"event": "Skipped", "path": path} for path in paths]
