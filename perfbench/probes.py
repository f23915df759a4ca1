"""Outside-in measurement for the benchmark: spans, counters and host readings.

Nothing here edits the package. Layers are timed by wrapping calls into
their public functions from the benchmark process, and Spark's own
counters are read from its REST API and QueryExecution objects.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans for one traced run; a disabled tracer records nothing.

    A span is (id, name, start, end, parent, query). Spans opened while a
    query is current carry that query's id, so all spans of one query
    share it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.query: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "query": self.query,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    def self_times(self, root_id: int) -> tuple[dict[str, float], float]:
        """Self time per span name under ``root_id`` and the root's own
        duration. Self time is a span's duration minus its children's."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)

        def visit(s: dict) -> float:
            dur = s["end"] - s["start"]
            kids = sum(visit(c) for c in children[s["id"]])
            if s["id"] != root_id:
                out[s["name"]] += dur - kids
            return dur

        root = self.spans[root_id]
        visit(root)
        return dict(out), root["end"] - root["start"]


class Py4jCounter:
    """Counts commands sent over the py4j gateway while ``active``; with
    no client it counts nothing and leaves the gateway untouched."""

    def __init__(self, gateway_client):
        self.calls = 0
        self.active = False
        if gateway_client is None:
            return
        orig = gateway_client.send_command

        def counted(*args, **kwargs):
            if self.active:
                self.calls += 1
            return orig(*args, **kwargs)

        gateway_client.send_command = counted

    @contextmanager
    def counting(self):
        self.active = True
        try:
            yield
        finally:
            self.active = False


# -- Spark's own counters ----------------------------------------------------


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:  # noqa: S310 (local UI)
        return json.load(r)


class SparkRest:
    """Stage and job totals since the previous ``delta`` call, from the
    application's REST API (local UI)."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.last_job = -1
        self.last_stage = -1

    def delta(self) -> dict[str, float]:
        jobs = [j for j in _get_json(f"{self.base}/jobs") if j["jobId"] > self.last_job]
        stages = [
            s
            for s in _get_json(f"{self.base}/stages?status=complete")
            if s["stageId"] > self.last_stage
        ]
        if jobs:
            self.last_job = max(j["jobId"] for j in jobs)
        if stages:
            self.last_stage = max(s["stageId"] for s in stages)
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "spark.executor_run_s": sum(s.get("executorRunTime", 0) for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
            "spark.gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "spark.input_bytes": sum(s.get("inputBytes", 0) for s in stages),
            "spark.shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "spark.shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "spark.spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
            ),
        }


_PLAN_SHAPES = {
    "spark.exchanges": re.compile(r"\bExchange\b"),
    "spark.python_nodes": re.compile(
        r"\b(?:MapInPandas|MapInArrow|ArrowEvalPython|BatchEvalPython|"
        r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
        r"WindowInPandas|ArrowWindowPython|ArrowAggregatePython)"
    ),
    "spark.broadcast_joins": re.compile(r"\bBroadcastHashJoin\b|\bBroadcastNestedLoopJoin\b"),
    "spark.sort_merge_joins": re.compile(r"\bSortMergeJoin\b"),
}


def plan_probe(df) -> dict[str, float]:
    """Catalyst phase times and plan-shape counts of ``df``'s own
    QueryExecution. The noop write plans a QueryExecution of its own, so
    ``executedPlan()`` is forced here to time optimization and planning."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)  # a Scala Option
        out[f"spark.{phase}_ms"] = summary.get().durationMs() if summary.isDefined() else 0
    for name, rx in _PLAN_SHAPES.items():
        out[name] = len(rx.findall(plan))
    return out


# -- host readings from /proc -------------------------------------------------


def _read(path: str) -> str:
    with open(path) as fh:
        return fh.read()


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    return [int(x) for x in _read("/proc/stat").split("\n", 1)[0].split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total > 0 else 0.0


def host_diagnostics() -> dict:
    load = _read("/proc/loadavg").split()[:3]
    return {
        "loadavg": [float(x) for x in load],
        "nproc": len(os.sched_getaffinity(0)),
    }


def vm_hwm_mb(pid: int) -> float:
    m = re.search(r"^VmHWM:\s+(\d+) kB", _read(f"/proc/{pid}/status"), re.M)
    return int(m.group(1)) / 1024.0


def _stat(pid: str) -> list[str] | None:
    try:
        raw = _read(f"/proc/{pid}/stat")
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def _procs() -> dict[int, list[str]]:
    out = {}
    for pid in os.listdir("/proc"):
        st = _stat(pid) if pid.isdigit() else None
        if st is not None:
            out[int(pid)] = st
    return out


def children(pid: int) -> list[int]:
    return [p for p, st in _procs().items() if int(st[1]) == pid]


def wait_gone(pids: list[int], timeout: float) -> bool:
    """Wait until no process of ``pids`` exists any more."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in pids):
            return True
        time.sleep(0.05)
    return False


def python_worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the ``pyspark.daemon`` tree under the JVM: the
    daemon's own and reaped-children time plus every live worker's."""
    procs = _procs()
    daemons = {p for p, st in procs.items() if int(st[1]) == jvm_pid}
    total = 0
    for pid, st in procs.items():
        ppid = int(st[1])
        if pid in daemons:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
        elif ppid in daemons:
            total += int(st[11]) + int(st[12])
    return total / CLK_TCK
