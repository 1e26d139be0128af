"""Spans, Spark event-log counters and process-tree memory for the
benchmark.

Spans are recorded only from the benchmark's own calls into the
library's public functions: each span sets a Spark job group naming
it, so every job the call runs can be attributed to it from the event
log. Spans stay in memory and are written out once, at the end of the
run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench"


class Tracer:
    """Span recorder. Disabled, ``span`` is a no-op context manager,
    so untraced runs set no job groups and keep nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"{GROUP_PREFIX}:{self.run_id}:{self._next}",
            "attrs": {},
        }
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover
        (children of one span never overlap: calls are sequential)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
        return {s["id"]: (s["end"] - s["start"]) - child.get(s["id"], 0.0) for s in self.spans}

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s, sort_keys=True) + "\n")


# ------------------------------------------------------------ memory


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants: the Python
    process, the JVM it launched, and the Python workers."""
    kids = _children_map()
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


def tree_cpu_seconds(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants, living
    or reaped (a reaped child's time is in its parent's cutime/cstime).
    Time the hypervisor steals from the host is not counted."""
    kids = _children_map()
    tick = os.sysconf("SC_CLK_TCK")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / tick


def wait_for_children(timeout: float) -> bool:
    """Wait until this process has no child processes left."""
    me = os.getpid()
    deadline = time.time() + timeout
    while _children_map().get(me):
        if time.time() > deadline:
            return False
        time.sleep(0.1)
    return True


class RssSampler(threading.Thread):
    """Samples the process tree's resident memory every ``period_s``
    and keeps the peak."""

    def __init__(self, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        root = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak


# --------------------------------------------------------- event log

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _walk_plan(info: dict, names: dict) -> None:
    node = info.get("nodeName", "")
    for m in info.get("metrics", ()):
        names[m["accumulatorId"]] = (node, m["name"])
    for c in info.get("children", ()):
        _walk_plan(c, names)


class EventLog:
    """The parts of one uncompressed Spark event log the benchmark
    counts: jobs (with their job group), stage/task metrics, and the
    SQL metrics scans report for files and rows read."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict] = {}
        self.accum_names: dict[int, tuple[str, str]] = {}
        self.exec_files: dict[int, float] = {}
        self.job_rows: dict[int, float] = {}
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "group": props.get("spark.jobGroup.id"),
                "exec": props.get("spark.sql.execution.id"),
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "stages": list(e.get("Stage IDs", ())),
            }
            for sid in e.get("Stage IDs", ()):
                self.stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _walk_plan(e.get("sparkPlanInfo") or {}, self.accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = e.get("executionId")
            for acc_id, value in e.get("accumUpdates", ()):
                if self.accum_names.get(acc_id, ("", ""))[1] == "number of files read":
                    self.exec_files[ex] = self.exec_files.get(ex, 0.0) + float(value)

    def _task(self, e: dict) -> None:
        sid = e["Stage ID"]
        st = self.stage_tasks.setdefault(sid, _zero())
        m = e.get("Task Metrics") or {}
        st["tasks"] += 1
        st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        st["run_s"] += m.get("Executor Run Time", 0) / 1e3
        st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        jid = self.stage_job.get(sid)
        for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
            node, name = self.accum_names.get(acc.get("ID"), ("", ""))
            if name == "number of output rows" and node.startswith("Scan"):
                try:
                    rows = float(acc.get("Update", 0))
                except (TypeError, ValueError):
                    continue
                self.job_rows[jid] = self.job_rows.get(jid, 0.0) + rows

    def jobs_in(self, t0: float, t1: float) -> list[int]:
        return [j for j, v in self.jobs.items() if t0 <= v["start"] <= t1]

    def totals(self, jids: list[int]) -> dict:
        """Counters summed over a set of jobs."""
        out = _zero()
        stages = set()
        for j in jids:
            stages.update(self.jobs[j]["stages"])
        out["jobs"] = len(jids)
        out["stages"] = sum(1 for s in stages if s in self.stage_tasks)
        for s in stages:
            st = self.stage_tasks.get(s)
            if st is None:
                continue
            for k in ("tasks", "cpu_s", "run_s", "gc_s", "shuffle_read", "shuffle_write", "spill"):
                out[k] += st[k]
        out["unattributed"] = sum(1 for j in jids if not self.jobs[j]["group"])
        execs = {self.jobs[j]["exec"] for j in jids if self.jobs[j]["exec"] is not None}
        out["files_read"] = sum(self.exec_files.get(int(x), 0.0) for x in execs)
        out["scan_rows"] = sum(self.job_rows.get(j, 0.0) for j in jids)
        return out

    def busy_seconds(self, t0: float, t1: float) -> float:
        """Wall time inside [t0, t1] during which at least one job ran."""
        ivs = sorted(
            (max(v["start"], t0), min(v["end"] or t1, t1))
            for v in self.jobs.values()
            if v["start"] <= t1 and (v["end"] or t1) >= t0
        )
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy


def _zero() -> dict:
    return {
        "tasks": 0,
        "cpu_s": 0.0,
        "run_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read": 0.0,
        "shuffle_write": 0.0,
        "spill": 0.0,
    }


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of the query
    behind ``df``'s last action, from its QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += float(opt.get().durationMs())
    return total
