"""Tracing from outside the engine, host facts and memory sampling.

`Tracer.span(name)` times a call into one engine module and runs the
Spark jobs it submits under the job group `name`. After the run,
`Tracer.stage_metrics(group)` reads the local status REST API
(`/api/v1` of the driver UI on localhost) and sums, over the stages of
the jobs in the group and the groups nested under it: executor run
time vs executor CPU time, shuffle write bytes and spill, and the
max/median task-time ratio of the largest stage. Executor run time
minus CPU time is the time tasks spent off the JVM CPU, mostly waiting
on Python workers (`py_gap_s`).
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
import urllib.request

PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "MapInPandas", "MapInArrow",
    "AggregateInPandas", "WindowInPandas", "PythonMapInArrow",
    "FlatMapGroupsInArrow", "ArrowWindowPython", "ArrowAggregatePython",
    "FlatMapGroupsInPandasWithState",
)


def plan_counts(df) -> tuple[int, int]:
    """(Exchange nodes, Python nodes) in a frame's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = python = 0
    for line in plan.splitlines():
        op = re.sub(r"^[\s:+\-*()\d]*", "", line)
        if op.startswith(("Exchange", "ShuffleExchange", "BroadcastExchange")):
            exchanges += 1
        if op.startswith(PYTHON_NODES):
            python += 1
    return exchanges, python


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.walls: dict[str, list[float]] = {}
        self._group = None
        self._jobs = None
        self._stages = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Time a block and tag the Spark jobs it submits with group `name`."""
        prev, self._group = self._group, name
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.walls.setdefault(name, []).append(time.perf_counter() - t0)
            if prev is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(prev, prev)
            self._group = prev

    def wall(self, name: str) -> float:
        return sum(self.walls.get(name, []))

    # -- status REST API ---------------------------------------------------
    def _get(self, path: str):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        app = self.sc.applicationId
        url = f"http://localhost:{port}/api/v1/applications/{app}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.load(r)

    def _load(self) -> None:
        if self._jobs is None:
            # the listener bus is asynchronous: wait until it has drained
            for _ in range(50):
                jobs = self._get("jobs")
                if all(j["status"] != "RUNNING" for j in jobs):
                    break
                time.sleep(0.1)
            self._jobs = jobs
            self._stages = {
                (s["stageId"], s["attemptId"]): s
                for s in self._get("stages?status=complete")
            }

    def jobs(self, group: str) -> list[dict]:
        """Jobs whose group is `group` or nested under it (`group.`...)."""
        self._load()
        return [
            j for j in self._jobs
            if (j.get("jobGroup") or "") == group
            or (j.get("jobGroup") or "").startswith(group + ".")
        ]

    def job_seconds(self, group: str) -> float:
        """Summed duration of the jobs in exactly group `group`."""
        return sum(
            _ts(j["completionTime"]) - _ts(j["submissionTime"])
            for j in self.jobs(group)
            if j.get("jobGroup") == group and "completionTime" in j
        )

    def stage_metrics(self, group: str) -> dict:
        stage_ids = {sid for j in self.jobs(group) for sid in j.get("stageIds", [])}
        stages = [s for (sid, _), s in self._stages.items() if sid in stage_ids]
        run_ms = sum(s.get("executorRunTime", 0) for s in stages)
        cpu_ns = sum(s.get("executorCpuTime", 0) for s in stages)
        out = {
            "py_gap_s": max(0.0, run_ms / 1e3 - cpu_ns / 1e9),
            "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
            ),
            "task_skew": 0.0,
        }
        if stages:
            big = max(stages, key=lambda s: s.get("executorRunTime", 0))
            q = self._get(
                f"stages/{big['stageId']}/{big['attemptId']}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["task_skew"] = q[1] / q[0] if q[0] else 1.0
        return out


def _ts(s: str) -> float:
    """Seconds of a status-API timestamp such as 2026-01-01T10:00:00.123GMT."""
    import datetime

    d = datetime.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp()


# -- memory ---------------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def tree_rss_bytes(root: int) -> tuple[int, int]:
    """(RSS of `root`, RSS of `root` and all of its descendants)."""
    kids, todo, total = _children(), [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        total += _rss_bytes(pid)
    return _rss_bytes(root), total


class RssSampler:
    """Samples the RSS of a process tree every `period` seconds; keeps
    the peak of the root alone and of the whole tree."""

    def __init__(self, root: int, period: float = 0.2):
        self.root, self.period = root, period
        self.peak_root = self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        root, tree = tree_rss_bytes(self.root)
        self.peak_root, self.peak = max(self.peak_root, root), max(self.peak, tree)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


def _cpu_seconds(pid: int) -> float:
    """utime + stime of `pid` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0.0
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds used so far by `root` and all of its descendants."""
    kids, todo, total = _children(), [root], 0.0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        total += _cpu_seconds(pid)
    return total


# -- host -----------------------------------------------------------------
def cpu_counts() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_mib": mem_kb // 1024,
        "loadavg": os.getloadavg()[0],
    }
