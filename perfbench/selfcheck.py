"""Tiny-input self-check of the benchmark, on the code path of a real run.

    python3 perfbench/selfcheck.py

For every workload, at ``--size tiny`` (an 8 × 12 corpus; tables at
sf 0.0005), it runs ``run.py`` untraced and traced and asserts that

- the last stdout line is the result object with exactly the keys
  ``correct attempted failed metrics``, with ``failed == 0``;
- the untraced run emits every ``end_to_end`` metric of BENCHMARK.json
  with its unit, and the traced run every ``per_layer`` metric;
- every end-to-end value is positive.

It also runs the benchmark in a directory holding only BENCHMARK.json and
this directory, where it must exit non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

# per-layer metrics each workload must report as non-zero (its own layers)
LIVE = {
    "kg_build": ("extract.", "link.", "canon.", "graph.", "store.", "pipeline.", "corpus."),
    "kg_query": tuple(f"q.{q}." for q in workloads.Queries.names) + ("tpch_kg.", "tables."),
}


def _run(cwd: str, *args: str) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", *args]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def check_workload(name: str, spec: dict) -> list[str]:
    errors = []
    for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
        code, lines = _run(ROOT, "--workload", name, "--seed", "3", "--seconds", "1", "--trace", trace,
                           "--size", "tiny")
        where = f"{name} --trace {trace}"
        if code or not lines:
            errors.append(f"{where}: exit {code}")
            continue
        res = json.loads(lines[-1])
        if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
            errors.append(f"{where}: result keys {sorted(res)}")
            continue
        if res["failed"] or not res["correct"] or res["attempted"] < 1:
            errors.append(f"{where}: attempted={res['attempted']} failed={res['failed']}")
        want = {m["name"]: m["unit"] for m in spec[kind]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            errors.append(f"{where}: metrics differ: {sorted(set(got) ^ set(want))}")
        if kind == "end_to_end":
            errors += [f"{where}: {k} = {v['value']}" for k, v in res["metrics"].items() if not v["value"] > 0]
        else:
            errors += [
                f"{where}: {k} = 0"
                for k, v in res["metrics"].items()
                if k.startswith(LIVE[name]) and k.endswith("s") and not v["value"] > 0
            ]
        print(f"{where}: ok={not errors} attempted={res['attempted']}", flush=True)
    return errors


def check_bare_directory() -> list[str]:
    """Without the engine sources the benchmark must fail, printing no result."""
    bare = os.path.join(ROOT, ".perfbench_bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = _run(bare, "--workload", "kg_build", "--seed", "1", "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or any(line.startswith("{") for line in lines):
        return [f"bare directory: exit {code}, output {lines[-1:]}"]
    print("bare directory: fails as required", flush=True)
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    errors = check_bare_directory()
    for name in workloads.WORKLOADS:
        errors += check_workload(name, spec)
    for e in errors:
        print("FAIL", e)
    print("selfcheck", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
