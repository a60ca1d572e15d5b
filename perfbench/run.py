"""kgw_spark benchmark: one closed-loop client, one Spark session at
local[nproc], one operation in flight at a time.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all          # every workload, one table

A run sets up twice (fresh SparkContext in the same JVM, Python-worker
warm-up, input generation, ``tpch_kg`` views), then measures passes until
``--seconds`` have elapsed, at least one. With ``--trace 0`` the last
stdout line carries the end-to-end metrics. With ``--trace 1`` the run
first makes the same run untraced in a child process, then repeats it
with the Spark event log on and every call tagged by ``setJobGroup``,
and reports the per-layer metrics folded from the log. Metric
definitions and the layer → end-to-end map are in README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, HERE)

import probe  # noqa: E402
import workloads  # noqa: E402

END_TO_END = {"wall_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "worker_daemon.warm_s": "s",
    "corpus.gen_s": "s",
    "tables.gen_s": "s",
    "tpch_kg.views_s": "s",
    "extract.s": "s",
    "extract.rows": "count",
    "extract.python_s": "s",
    "extract.arrow_to_py_mb": "MB",
    "extract.arrow_from_py_mb": "MB",
    "link.s": "s",
    "link.rows": "count",
    "link.shuffle_mb": "MB",
    "canon.s": "s",
    "canon.rows": "count",
    "graph.edges_s": "s",
    "graph.edges_rows": "count",
    "graph.edges_shuffle_mb": "MB",
    "graph.nodes_s": "s",
    "store.write_mb": "MB",
    "store.files": "count",
    "store.commit_s": "s",
    "pipeline.jobs": "count",
    "pipeline.serial_s": "s",
    "pipeline.triples_per_s": "1/s",
    "pipeline.fused_s": "s",
    "pipeline.staged_s": "s",
    "pipeline.resume_s": "s",
    **{
        f"q.{q}.{k}": u
        for q in workloads.GRAPH_QUERIES + workloads.DOCS_QUERIES
        for k, u in (("s", "s"), ("jobs", "count"), ("shuffle_mb", "MB"), ("exec_cpu_s", "s"))
    },
    "q.emb_near_pairs.python_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.sched_delay_s": "s",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}
ROUNDS = 2  # set-up rounds per run; setup_s takes their median
# pipeline stage -> (wall, rows, shuffle) per-layer metric names
STAGE_LAYERS = {
    "linked": ("link.s", "link.rows", "link.shuffle_mb"),
    "canonical": ("canon.s", "canon.rows", None),
    "edges": ("graph.edges_s", "graph.edges_rows", "graph.edges_shuffle_mb"),
    "nodes": ("graph.nodes_s", None, None),
}


def heap_mb() -> int:
    """Driver heap for this host: an eighth of MemTotal, 1–4 GiB (the
    inputs are small; the rest of RAM stays free)."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return int(min(max(mem_kb / 1024 / 8, 1024), 4096))


def session_conf(event_dir: str | None = None) -> dict:
    """Session sized for this host; scratch and warehouse on disk inside
    the work dir, not on tmpfs."""
    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        # a fixed-size heap (initial = max), so resident memory does not
        # depend on when the JVM decides to grow it
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb()}m",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _prepare_env() -> None:
    """Keep every file the run writes inside the work dir and make the
    package importable by the driver and its Python workers."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None


def _warm_workers(spark, cores: int) -> None:
    """Fork one Python worker per task slot through the worker daemon."""

    def ident(batches):
        yield from batches

    spark.range(cores).repartition(cores).mapInPandas(ident, "id long").write.format("noop").mode(
        "overwrite"
    ).save()


class Meter:
    """Times one operation and charges the JVM tree's CPU and peak RSS
    over it to the current pass."""

    def __init__(self, sampler: probe.TreeSampler):
        self.sampler = sampler
        self.reset()

    def reset(self) -> None:
        self.cpu, self.peak = 0.0, 0

    def __call__(self, fn):
        cpu0 = self.sampler.mark()
        t0 = time.perf_counter()
        value = fn()
        wall = time.perf_counter() - t0
        cpu1, _rss = self.sampler.sample()
        self.cpu += cpu1 - cpu0
        self.peak = max(self.peak, self.sampler.peak)
        return value, wall


class Bench:
    def __init__(self, args):
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.wl = workloads.WORKLOADS[args.workload](args.size, args.seed, WORK)
        self.spark = None
        self.ops: list[dict] = []

    def tag(self, label: str) -> None:
        self.spark.sparkContext.setJobGroup(label, label)

    def start(self, event_dir: str | None = None) -> dict:
        """One set-up round: session, workers, inputs (and views)."""
        from kgw_spark.session import get_spark, stop_spark

        t0 = time.perf_counter()
        stop_spark()
        self.spark = get_spark(
            cores=self.cores, shuffle_partitions=self.cores, extra_conf=session_conf(event_dir)
        )
        t1 = time.perf_counter()
        _warm_workers(self.spark, self.cores)
        t2 = time.perf_counter()
        layer = self.wl.inputs(self.spark)
        layer.update({"session.start_s": t1 - t0, "worker_daemon.warm_s": t2 - t1})
        layer["total"] = time.perf_counter() - t0
        return layer

    def measure(self, seconds: float) -> list[dict]:
        """Passes until ``seconds`` have elapsed (at least one)."""
        passes = []
        end = time.perf_counter() + seconds
        while True:
            self.meter.reset()
            ops = self.wl.run_pass(self.spark, len(passes), self.meter, self.tag)
            self.ops += ops
            passes.append(
                {"wall": sum(o["wall"] for o in ops), "cpu": self.meter.cpu, "peak": self.meter.peak, "ops": ops}
            )
            if time.perf_counter() >= end:
                return passes

    def run(self, untraced: dict | None = None) -> dict:
        """Set up, measure, and return the result object. With
        ``untraced`` (the result of the same run with tracing off) the
        session of the last set-up round logs Spark events, and the
        result carries the per-layer metrics instead."""
        a = self.args
        event_dir = os.path.join(WORK, "events") if untraced else None
        if event_dir:
            os.makedirs(event_dir)
        rounds = [self.start()]
        jvm = self.spark.sparkContext._gateway.proc
        self.meter = Meter(probe.TreeSampler(jvm.pid, os.path.realpath(os.environ["PYSPARK_PYTHON"])))
        try:
            for i in range(1, ROUNDS):
                # one event log, of the session the passes run in
                rounds.append(self.start(event_dir if i == ROUNDS - 1 else None))
            print("session:", json.dumps({"cores": self.cores, **session_conf()}))
            passes = self.measure(a.seconds)
            self.stop()  # flushes the event log
        finally:
            self.stop()
            self.meter.sampler.close()
            jvm.stdin.close()  # the gateway JVM exits on stdin EOF
            jvm.wait(timeout=60)

        attempted, failed = len(self.ops), sum(not o["ok"] for o in self.ops)
        if untraced:
            fold = probe.fold(probe.load_events(event_dir))
            metrics, units = layers(rounds, passes, untraced["metrics"]["wall_s"]["value"], *fold), PER_LAYER
            attempted += untraced["attempted"]
            failed += untraced["failed"]
        else:
            metrics = {
                "wall_s": statistics.median(p["wall"] for p in passes),
                "cpu_s": statistics.median(p["cpu"] for p in passes),
                "peak_rss_mb": statistics.median(p["peak"] for p in passes) / 1e6,
                "setup_s": statistics.median(r["total"] for r in rounds),
            }
            units = END_TO_END
        ops = [o for p in passes for o in p["ops"]]
        summary = {
            "failed_frac": failed / attempted,
            "pass_s": [round(p["wall"], 3) for p in passes],
            "setup_rounds_s": [round(r["total"], 3) for r in rounds],
            "first_pass_op_s": {o["op"]: round(o["wall"], 3) for o in passes[0]["ops"]},
            **{f"{op}_s": statistics.median(o["wall"] for o in ops if o["op"] == op)
               for op in ("fused", "staged", "resume") if any(o["op"] == op for o in ops)},
        }
        if "fused_s" in summary:
            summary["triples_per_s"] = statistics.median(
                o["manifests"]["edges"]["rows"] / o["wall"] for o in ops if o["op"] == "fused"
            )
        print("summary:", json.dumps(summary))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def stop(self) -> None:
        from kgw_spark.session import stop_spark

        stop_spark()


def layers(rounds, traced, untraced_wall, folded, jobs, stages) -> dict:
    """Per-layer metrics of a traced run: set-up medians over the rounds,
    everything else per traced pass; ``untraced_wall`` is the ``wall_s``
    of the same run untraced. Layers a workload does not run report 0."""
    m = {k: 0.0 for k in PER_LAYER}
    for k in ("session.start_s", "worker_daemon.warm_s", "corpus.gen_s", "tables.gen_s", "tpch_kg.views_s"):
        vals = [r[k] for r in rounds if k in r]
        if vals:
            m[k] = statistics.median(vals)
    n = len(traced)
    ops = [o for p in traced for o in p["ops"]]

    def tags(*names):
        return {o["tag"] for o in ops if o["op"] in names}

    def per_pass(key: str, tag_set) -> float:
        return sum(folded[t].get(key, 0.0) for t in tag_set if t in folded) / n

    def wall(op: str) -> float:
        return statistics.median(o["wall"] for o in ops if o["op"] == op)

    every = {o["tag"] for o in ops}
    m["spark.gc_s"] = per_pass("gc_s", every)
    m["spark.spill_mb"] = per_pass("spill_b", every) / 1e6
    m["spark.sched_delay_s"] = per_pass("sched_delay_s", every)
    m["spark.tasks"] = per_pass("tasks", every)
    m["spark.task_failures"] = per_pass("task_failures", every)
    m["trace.wall_s"] = statistics.median(p["wall"] for p in traced)
    m["trace.overhead_s"] = m["trace.wall_s"] - untraced_wall

    for q in workloads.GRAPH_QUERIES + workloads.DOCS_QUERIES:
        if not tags(q):
            continue
        m[f"q.{q}.s"] = wall(q)
        m[f"q.{q}.jobs"] = per_pass("jobs", tags(q))
        m[f"q.{q}.shuffle_mb"] = per_pass("shuffle_write_b", tags(q)) / 1e6
        m[f"q.{q}.exec_cpu_s"] = per_pass("exec_cpu_s", tags(q))
    m["q.emb_near_pairs.python_s"] = per_pass("py_run_s", tags("emb_near_pairs"))
    if not tags("fused"):
        return m

    # fused pipeline: extraction, job count and serial driver time
    fused = tags("fused")
    m["extract.s"] = sum(
        probe.busy_seconds([(s["start"], s["end"]) for s in stages if s["tag"] == t and s["py"]], 0, float("inf"))
        for t in fused
    ) / n
    m["extract.rows"] = per_pass("py_rows", fused)
    m["extract.python_s"] = per_pass("py_run_s", fused)
    m["extract.arrow_to_py_mb"] = per_pass("py_sent_b", fused) / 1e6
    m["extract.arrow_from_py_mb"] = per_pass("py_returned_b", fused) / 1e6
    m["pipeline.jobs"] = per_pass("jobs", fused)
    for o in ops:
        if o["op"] == "fused":
            spans = [(j["submit"], j["end"]) for j in jobs if j["tag"] == o["tag"]]
            m["pipeline.serial_s"] += (o["wall"] - probe.busy_seconds(spans, o["t0"] * 1e3, o["t1"] * 1e3)) / n
    m["pipeline.fused_s"] = wall("fused")
    m["pipeline.triples_per_s"] = statistics.median(
        o["manifests"]["edges"]["rows"] / o["wall"] for o in ops if o["op"] == "fused"
    )
    m["pipeline.staged_s"] = wall("staged")
    m["pipeline.resume_s"] = wall("resume")

    # staged pipeline and its resume: one TableStore commit per stage
    for o in ops:
        if o["op"] not in ("staged", "resume"):
            continue
        bjobs = [j for j in jobs if j["tag"] == o["tag"]]
        for stage, man in o["manifests"].items():
            if stage not in o["manifests"] or man["committed_at_epoch"] < o["t0"]:
                continue  # skipped on resume: committed by the staged run
            # the stage's window is its TableStore.write call, which
            # also runs the stage's lazy compute
            w1 = man["committed_at_epoch"] * 1e3
            w0 = w1 - man["wall_sec"] * 1e3
            sj = [j for j in bjobs if w0 <= j["submit"] <= w1]
            m["store.commit_s"] += (man["wall_sec"] - probe.busy_seconds([(j["submit"], j["end"]) for j in sj], w0, w1)) / n
            if o["op"] == "resume":
                continue
            s_key, rows_key, shuffle_key = STAGE_LAYERS.get(stage, (None, None, None))
            if s_key:
                m[s_key] += man["wall_sec"] / n
            if rows_key:
                m[rows_key] += man["rows"] / n
            if shuffle_key:
                m[shuffle_key] += sum(j["shuffle_write_b"] for j in sj) / 1e6 / n
    m["store.write_mb"] = per_pass("output_b", tags("staged", "resume")) / 1e6
    m["store.files"] = statistics.mean(o["files"] for o in ops if o["op"] == "staged")
    return m


def child_run(args, workload: str, trace: int) -> tuple[dict | None, list[str]]:
    """Run one workload in a fresh process: (result or None, its stdout lines)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace), "--size", args.size]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
    lines = out.stdout.strip().splitlines()
    if out.returncode or not lines:
        print(f"{workload}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
        return None, lines
    return json.loads(lines[-1]), lines


def run_all(args) -> int:
    """Run every workload in its own process and print one table."""
    ok = True
    for name in workloads.WORKLOADS:
        res, lines = child_run(args, name, args.trace)
        if res is None:
            ok = False
            continue
        summary = next((ln for ln in lines if ln.startswith("summary:")), "summary: {}")
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} {summary}")
        for k, v in res["metrics"].items():
            print(f"  {k:32s} {v['value']:14.4f} {v['unit']}")
        ok &= res["correct"]
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[*workloads.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "kgw_spark")) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"kgw_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    untraced = None
    if args.trace:
        # the untraced twin runs first, in its own JVM, so both measure
        # the same first pass after set-up
        untraced, _ = child_run(args, args.workload, 0)
        if untraced is None:
            return 1
    _prepare_env()
    try:
        result = Bench(args).run(untraced)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
