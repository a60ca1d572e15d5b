#!/usr/bin/env python
"""Benchmark report: query seconds and KG-pipeline throughput on this host.

    python bench.py              # full report
    python bench.py q1 q2 ...    # time only the named queries

The full report has four sections, each number the median and min–max of
K = 3 trials after a warm-up:

- queries: every ``__spark_entry__.queries()`` entry except
  ``kg_pipeline_triples``, at ``$SPARK_GRAFT_SF_DIR`` (default: the
  sf0.1 test data) and at the sf0.01 directory beside it, in K
  interleaved passes over the suite;
- kg: the fused pipeline's triples/s at ``local[session.DEFAULT_CPUS]``;
- scaling: the same pipeline at ``(n, 4n)`` cores with ``n = nproc // 4``,
  run only when the host has at least 4 cores;
- scale_up: the pipeline on a 10x corpus at the session's core count,
  one leg in each of the K rounds of the 1x legs; its ratio is the
  median over the rounds of 10x over 1x triples/s at the session's cores.

Every pipeline leg runs in a fresh session pinned to its cores, warms the
Python workers and the JIT on a small same-shape corpus, then times one
run. Consumed CPU-seconds and peak RSS of the JVM tree (Python workers
included) come from ``perfbench/probe.py``. The report is one JSON line
on stdout; trial arrays go to ``bench_detail.json``. Scratch (cached
corpora, Spark local dir, pipeline stores) lives in ``.bench_work/``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# python workers (separate processes in local mode) import kgw_spark via env
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF_SMALL = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
NPROC = len(os.sched_getaffinity(0))
K = 3
SCALEUP_MULT = 10
DETAIL_PATH = os.path.join(_REPO, "bench_detail.json")
WORK = os.path.join(_REPO, ".bench_work")

# pipeline corpus: big enough that the 1-core leg runs for minutes
KG_REPOS, KG_FILES, KG_CALL_LINES, KG_FUNCS = 150, 200, 600, 400

# workers run this interpreter, which is how the RSS sampler recognises them
os.environ["PYSPARK_PYTHON"] = sys.executable

from kgw_spark.session import DEFAULT_CPUS as CPUS  # noqa: E402
from perfbench.probe import TreeSampler  # noqa: E402


def _pin_cpus(spark, cores: int) -> None:
    """Pin the Spark JVM (all threads; Python workers inherit at fork) to
    the first ``cores`` CPUs this process may use. local[N] limits task
    slots, not CPUs: unpinned, JVM helper threads and Python workers
    spill onto idle cores, and the small leg of the scaling pair
    consumes more than N cores."""
    pid = spark.sparkContext._gateway.proc.pid
    cpus = ",".join(map(str, sorted(os.sched_getaffinity(0))[:cores]))
    subprocess.run(["taskset", "-a", "-p", "-c", cpus, str(pid)], capture_output=True, check=True)


def _fresh_spark(cores: int, extra_conf: dict | None = None):
    """A new session at local[cores] in the same JVM, re-pinned (the JVM
    keeps the previous session's CPU mask otherwise)."""
    from kgw_spark.session import get_spark, stop_spark

    stop_spark()
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        **(extra_conf or {}),
    }
    spark = get_spark(cores=cores, app_name=f"kgw_bench_{cores}", shuffle_partitions=cores, extra_conf=conf)
    _pin_cpus(spark, cores)
    return spark


def _warm_python_workers(spark, cores: int) -> None:
    """Fork one Python worker per task slot before a timed run: worker
    start-up is a per-executor cost, not a per-job one."""

    def ident(batches):
        yield from batches

    spark.range(cores).repartition(cores).mapInPandas(ident, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


def _stats(xs: list[float]) -> dict:
    return {"median": round(statistics.median(xs), 3), "min": min(xs), "max": max(xs)}


def run_queries(spark, sf_dir: str, names: list[str]) -> dict[str, list[float]]:
    """One warm-up query, then K interleaved passes over ``names`` (pass 1
    of every query, then pass 2, ...). Returns the trial walls per query."""
    import __spark_entry__ as E

    qs = E.queries()
    qs["kg_statistics"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    trials: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(K):
        for name in names:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            trials[name].append(round(time.perf_counter() - t0, 3))
    return trials


def ensure_corpus(spark, mult: int = 1, repos: int = KG_REPOS) -> tuple[str, int]:
    """Generate a bench corpus once and cache it as parquet. ``mult``
    unions that many seed-distinct copies with disjoint repo names. A
    marker is written only after the last copy, so a partial corpus is
    regenerated instead of reused."""
    path = os.path.join(WORK, f"corpus_{repos}x{KG_FILES}x{KG_CALL_LINES}m{mult}")
    marker = os.path.join(path, "_KGW_CORPUS_COMPLETE")
    if not os.path.exists(marker):
        from kgw_spark.sources.corpus import corpus_df, generate_corpus

        shutil.rmtree(path, ignore_errors=True)
        for s in range(mult):
            rows, _ = generate_corpus(
                n_repos=repos,
                files_per_repo=KG_FILES,
                seed=42 + s,
                n_funcs=KG_FUNCS,
                n_call_lines=KG_CALL_LINES,
                track_truth=False,
            )
            if mult > 1:
                rows = [dict(r, repo=f"{r['repo']}_s{s}") for r in rows]
            corpus_df(spark, rows).repartition(64).write.mode("overwrite" if s == 0 else "append").parquet(path)
        with open(marker, "w") as f:
            f.write("complete\n")
    return path, repos * KG_FILES * mult


def run_kg_pipeline(spark, corpus_path: str, alias_rows: list[tuple]) -> dict:
    """One fused extract→link→canonicalize→build run that writes the final
    tables; returns wall, triple count and triples/s."""
    from kgw_spark.model import CORPUS_SCHEMA
    from kgw_spark.plans.pipeline import run_pipeline
    from kgw_spark.session import local_df
    from kgw_spark.sinks.store import TableStore

    workdir = tempfile.mkdtemp(prefix="kgbench_", dir=WORK)
    try:
        src = spark.read.schema(CORPUS_SCHEMA).parquet(corpus_path)
        adf = local_df(spark, alias_rows, "alias_id string, canonical_id string, score double")
        t0 = time.perf_counter()
        res = run_pipeline(
            spark,
            src,
            adf,
            TableStore(f"{workdir}/store"),
            input_fingerprint="bench",
            materialize_intermediate=False,
            alias_local=alias_rows,
        )
        wall = time.perf_counter() - t0
        triples = res.manifests["edges"]["rows"]
        return {"wall_s": round(wall, 3), "triples": triples, "triples_per_s": round(triples / wall, 1)}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def pipeline_leg(sampler: TreeSampler, cores: int, conf: dict, corpus: str, warm_corpus: str, alias_rows) -> dict:
    """Fresh pinned session, worker and JIT warm-up, then one timed run
    with the JVM tree's consumed CPU-seconds and peak RSS."""
    spark = _fresh_spark(cores, conf)
    _warm_python_workers(spark, cores)
    run_kg_pipeline(spark, warm_corpus, alias_rows)
    cpu0 = sampler.mark()
    r = run_kg_pipeline(spark, corpus, alias_rows)
    r["cpu_s"] = round(sampler.sample()[0] - cpu0, 1)
    r["peak_rss_mb"] = round(sampler.peak / 1e6)
    return r


def _leg_summary(legs: list[dict]) -> dict:
    return {
        "triples_per_s": _stats([r["triples_per_s"] for r in legs]),
        "wall_s": _stats([r["wall_s"] for r in legs]),
        "cpu_s": _stats([r["cpu_s"] for r in legs]),
        "peak_rss_mb": _stats([r["peak_rss_mb"] for r in legs]),
        "triples": legs[0]["triples"],
    }


def main(names: list[str]) -> None:
    import __spark_entry__ as E
    from kgw_spark.plans.partitioning import byte_driven_conf, dir_bytes
    from kgw_spark.session import stop_spark
    from kgw_spark.sources.corpus import build_alias_dict

    t_start = time.perf_counter()
    os.makedirs(WORK, exist_ok=True)
    known = [q for q in E.queries() if q != "kg_pipeline_triples"]
    unknown = sorted(set(names) - set(known))
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = _fresh_spark(CPUS)
    sampler = TreeSampler(spark.sparkContext._gateway.proc.pid, os.path.realpath(sys.executable))
    detail: dict = {"sf": SF_DIR, "cpus": CPUS, "nproc": NPROC, "trials": K}
    try:
        trials = run_queries(spark, SF_DIR, names or known)
        queries = {q: _stats(ts) for q, ts in trials.items()}
        detail["queries"] = {q: {**s, "trials": trials[q]} for q, s in queries.items()}
        line = {"sf": SF_DIR, "cpus": CPUS, "queries": {q: s["median"] for q, s in queries.items()}}
        if names:
            print(json.dumps(line), flush=True)
            return

        small = run_queries(spark, SF_SMALL, known)
        detail["sf_small"] = SF_SMALL
        detail["queries_small_sf"] = {q: {**_stats(ts), "trials": ts} for q, ts in small.items()}

        alias_rows = [(a, c, float(s)) for a, (c, s) in build_alias_dict(12).items()]
        corpus, n_files = ensure_corpus(spark)
        warm_corpus, _ = ensure_corpus(spark, repos=KG_REPOS // 12)
        big_corpus, big_files = ensure_corpus(spark, mult=SCALEUP_MULT)
        # byte-driven partitioning: the physical plan depends on the input
        # size only, so legs at different core counts do identical work
        conf = byte_driven_conf(dir_bytes(corpus))
        big_conf = byte_driven_conf(dir_bytes(big_corpus))

        pair = (NPROC // 4, NPROC // 4 * 4) if NPROC >= 4 else None
        sizes = sorted({CPUS, *(pair or ())})
        legs: dict[int, list[dict]] = {c: [] for c in sizes}
        big: list[dict] = []
        # interleaved: round t runs every size once, then the 10x leg
        for _ in range(K):
            for c in sizes:
                legs[c].append(pipeline_leg(sampler, c, conf, corpus, warm_corpus, alias_rows))
            big.append(pipeline_leg(sampler, CPUS, big_conf, big_corpus, warm_corpus, alias_rows))
        kg = {"cores": CPUS, "files": n_files, **_leg_summary(legs[CPUS])}
        detail["kg"] = {**kg, "trials": legs[CPUS]}

        scaling = None
        if pair:
            n, n4 = pair
            # paired per round: both legs ran minutes apart, in the same round
            ratios = [b["triples_per_s"] / a["triples_per_s"] for a, b in zip(legs[n], legs[n4])]
            scaling = {
                "pair": [n, n4],
                "ratio": _stats([round(r, 3) for r in ratios]),
                "efficiency": _stats([round(r / 4, 3) for r in ratios]),
                "tps_small": _stats([r["triples_per_s"] for r in legs[n]]),
                "tps_big": _stats([r["triples_per_s"] for r in legs[n4]]),
            }
            detail["scaling"] = {**scaling, "legs": {str(c): legs[c] for c in pair}}

        scale_up = {
            "mult": SCALEUP_MULT,
            "files": big_files,
            # paired per round, as the scaling ratio is
            "ratio": round(
                statistics.median(b["triples_per_s"] / a["triples_per_s"] for a, b in zip(legs[CPUS], big)), 3
            ),
            **_leg_summary(big),
        }
        detail["scale_up"] = {**scale_up, "trials": big}

        line = {
            "metric": "triples_per_sec_end_to_end",
            "value": kg["triples_per_s"]["median"],
            "unit": "triples/sec",
            **line,
            "kg": {"tps": kg["triples_per_s"], "wall_s": kg["wall_s"]["median"], "cores": CPUS, "files": n_files},
            "scaling": scaling and {"pair": scaling["pair"], "ratio": scaling["ratio"]["median"]},
            "scale_up": {"mult": SCALEUP_MULT, "ratio": scale_up["ratio"]},
            "detail": os.path.basename(DETAIL_PATH),
        }
        detail["total_wall_s"] = round(time.perf_counter() - t_start, 1)
        with open(DETAIL_PATH, "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        print(json.dumps(line), flush=True)
    finally:
        sampler.close()
        stop_spark()


if __name__ == "__main__":
    main(sys.argv[1:])
