"""Measurement probes: a /proc sampler over the Spark JVM process tree and
a fold of the Spark event log by job group.

The sampler gives consumed CPU-seconds and peak resident memory of the
JVM plus every process below it — the ``kgw_spark.worker_daemon`` and
the Python workers it forks. CPU of exited workers is counted through
their parent's ``cutime``/``cstime`` once the daemon reaps them.

The event-log fold turns task-end metrics and SQL metrics into per-tag
sums, where a tag is the ``setJobGroup`` id the caller set around each
call into a layer.
"""

from __future__ import annotations

import glob
import json
import os
import threading
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (stat field 3): ppid=4, utime..cstime=14..17, rss=24
        cpu = sum(int(x) for x in fields[11:15]) / _TICK
        out[int(d)] = (int(fields[1]), cpu, int(fields[21]) * _PAGE)
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_usage(root: int, rss_exe: str) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over ``root`` and its descendants.

    RSS counts the root and the descendants running ``rss_exe`` (the
    Python workers) only. A JVM spawns helper processes through a
    vfork-style clone that reports the JVM's whole resident set until it
    execs; such a child can exec between the read of its ``stat`` and of
    its ``exe``, so it is excluded by what it becomes, not by what it was.
    The helpers' own memory is a few MB."""
    table = _proc_table()
    children = defaultdict(list)
    for pid, (ppid, _c, _r) in table.items():
        children[ppid].append(pid)
    cpu, rss, stack = 0.0, 0, [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            cpu += table[pid][1]
            if pid == root or _exe(pid) == rss_exe:
                rss += table[pid][2]
        stack.extend(children.get(pid, ()))
    return cpu, rss


class TreeSampler:
    """Samples ``tree_usage(root, rss_exe)`` every ``interval`` seconds on
    a daemon thread and keeps the peak RSS since the last ``mark()``."""

    def __init__(self, root: int, rss_exe: str, interval: float = 0.05):
        self.root, self.rss_exe, self.interval = root, rss_exe, interval
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self.peak = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> tuple[float, int]:
        cpu, rss = tree_usage(self.root, self.rss_exe)
        with self._lock:
            self.peak = max(self.peak, rss)
        return cpu, rss

    def mark(self) -> float:
        """Reset the peak; return the tree's CPU-seconds so far."""
        cpu, rss = tree_usage(self.root, self.rss_exe)
        with self._lock:
            self.peak = rss
        return cpu

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# -- event log ---------------------------------------------------------------

PY_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")
PY_METRICS = {
    "time to run Python workers": "py_run_s",  # ms
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
    "number of output rows": "py_rows",
}


def load_events(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isfile(path) and not path.endswith(".inprogress"):
            with open(path) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def _walk_plan(plan: dict, acc: dict) -> None:
    for m in plan.get("metrics", ()):
        acc[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", ()):
        _walk_plan(child, acc)


def fold(events: list[dict]) -> tuple[dict[str, dict], list[dict], list[dict]]:
    """Fold an event log by job group.

    Returns ``(per_tag, jobs, stages)``. ``per_tag[tag]`` sums ``jobs``,
    ``tasks``, ``task_failures``, ``run_s``, ``exec_cpu_s``, ``gc_s``,
    ``sched_delay_s``, ``shuffle_write_b``, ``spill_b``, ``output_b`` and
    the Python-node SQL metrics ``py_run_s``, ``py_sent_b``,
    ``py_returned_b``, ``py_rows``. ``jobs`` holds one record per job
    (``tag``, ``submit``/``end`` epoch ms, ``shuffle_write_b``);
    ``stages`` one per stage (``tag``, ``start``/``end`` epoch ms of its
    tasks, ``py``: whether it ran a Python node)."""
    acc: dict[int, tuple[str, str]] = {}
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], acc)
        elif kind == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[e["Job ID"]] = {"tag": tag, "submit": e["Submission Time"], "end": None, "shuffle_write_b": 0}
            for sid in e.get("Stage IDs", ()):
                stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            job = jobs[e["Job ID"]]
            job["end"] = e["Completion Time"]
            out[job["tag"]]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            job = jobs[stage_job[e["Stage ID"]]]
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            st = stages.setdefault(e["Stage ID"], {"tag": job["tag"], "start": info["Launch Time"], "end": 0, "py": False})
            st["start"] = min(st["start"], info["Launch Time"])
            st["end"] = max(st["end"], info["Finish Time"])
            t = out[job["tag"]]
            t["tasks"] += 1
            if info.get("Failed") or (e.get("Task End Reason") or {}).get("Reason") != "Success":
                t["task_failures"] += 1
            run_ms = m.get("Executor Run Time", 0)
            t["run_s"] += run_ms / 1e3
            t["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            busy = run_ms + m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
            span = info["Finish Time"] - info["Launch Time"] - info.get("Getting Result Time", 0)
            t["sched_delay_s"] += max(0, span - busy) / 1e3
            shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t["shuffle_write_b"] += shuffle
            job["shuffle_write_b"] += shuffle
            t["spill_b"] += m.get("Disk Bytes Spilled", 0)
            t["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for a in info.get("Accumulables", ()):
                node, name = acc.get(a.get("ID"), ("", ""))
                if not node.startswith(PY_NODES):
                    continue
                st["py"] = True
                key = PY_METRICS.get(name)
                if key:
                    t[key] += float(a.get("Update") or 0) / (1e3 if key == "py_run_s" else 1)
    done = [j for j in jobs.values() if j["end"] is not None]
    return out, done, list(stages.values())


def busy_seconds(spans: list[tuple[int, int]], t0_ms: float, t1_ms: float) -> float:
    """Length of the union of job spans clipped to [t0, t1], in seconds."""
    total, end = 0.0, t0_ms
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1_ms)
        if b > a:
            total += b - a
            end = b
    return total / 1e3
