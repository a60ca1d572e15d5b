"""Every public top-level def and class in ``kgw_spark/`` has a caller
outside the tests: the library itself, ``__spark_entry__.py``,
``bench.py``, ``perfbench/`` or ``scripts/``. A subsystem that only its
own tests exercise is surface nothing uses.

Exempt: the user-facing workflow API (``api.py``: ``Project``,
``RawGraphProject``, ``run``) and the kgw adapter modules it reaches
(dataset readers, metadata fetchers, downloads), which a user calls,
and the pure-Python ``*_py`` references that tests compare the Spark
operators against."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EXEMPT_MODULES = {"api.py", "sources/readers.py", "sources/metadata.py", "sources/fetch.py"}


def _non_test_sources() -> list[Path]:
    return [
        *sorted((ROOT / "kgw_spark").rglob("*.py")),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted((ROOT / "scripts").glob("*.py")),
    ]


def _references(tree: ast.AST):
    """``(name, lineno)`` of every name, attribute and imported name."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            yield node.name.rsplit(".", 1)[-1], node.lineno


def test_every_public_def_has_a_non_test_caller():
    trees = {p: ast.parse(p.read_text()) for p in _non_test_sources()}
    refs = [(p, name, line) for p, t in trees.items() for name, line in _references(t)]
    unused = []
    for path in sorted((ROOT / "kgw_spark").rglob("*.py")):
        rel = path.relative_to(ROOT / "kgw_spark").as_posix()
        if rel in EXEMPT_MODULES:
            continue
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                continue
            if node.name.startswith("_") or node.name.endswith("_py"):
                continue
            own = range(node.lineno, node.end_lineno + 1)
            if not any(
                name == node.name and not (p == path and line in own)
                for p, name, line in refs
            ):
                unused.append(f"{rel}:{node.name}")
    assert not unused, f"public defs with no caller outside tests: {unused}"
