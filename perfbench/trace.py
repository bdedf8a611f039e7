"""In-memory span recorder, per-call Spark job groups, and the event-log
reader that attributes jobs, stages, tasks, shuffle bytes and executor CPU
to each call. Tracing is off (spans only, no job groups, no event log) in
the runs that report end-to-end metrics."""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of this process and every descendant (the
    JVM and its Python workers), reaped children included. Unlike a wall
    time it leaves out time the host gave the CPU to other tenants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        kids.setdefault(int(fields[1]), []).append(int(pid))
        cpu[int(pid)] = sum(int(x) for x in fields[11:15]) / _TICK
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(kids.get(pid, ()))
    return total


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; `on`
    additionally tags every call's Spark jobs with a job group named after
    its span id."""

    def __init__(self, run_id: str, on: bool):
        self.run_id, self.on = run_id, on
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.sc = None  # set once the session exists

    @contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        """A span; with cpu=True it also records the process tree's CPU
        seconds over its extent as "cpu_s"."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        tagged = self.on and self.sc is not None
        if tagged:
            self.sc.setJobGroup(f"span-{sid}", name)
        cpu0 = tree_cpu_s() if cpu else None
        try:
            yield rec
        finally:
            if cpu:
                rec["cpu_s"] = tree_cpu_s() - cpu0
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if tagged:
                if self._stack:
                    self.sc.setJobGroup(f"span-{self._stack[-1]}", self.spans[self._stack[-1]]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover (children
        of one span never overlap: calls are serial)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans if s["end"] is not None}

    def dump(self, path: str, spark_stats: dict) -> None:
        selft = self.self_times()
        t0 = min((s["start"] for s in self.spans), default=0.0)
        with open(path, "w") as f:
            for s in self.spans:
                if s["end"] is None:
                    continue
                rec = dict(s, start=s["start"] - t0, end=s["end"] - t0,
                           self_s=selft[s["id"]], **spark_stats.get(s["id"], {}))
                f.write(json.dumps(rec) + "\n")


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def event_files(log_dir: str) -> list[str]:
    """The event-log files in write order: one file, or (Spark 4's v2
    layout) a directory of events_<n>_<app> parts."""
    paths = []
    for d, _, fs in os.walk(log_dir):
        for f in fs:
            if f.startswith("events_") or d == log_dir:
                paths.append(os.path.join(d, f))

    def order(p):
        name = os.path.basename(p)
        part = name.split("_")[1] if name.startswith("events_") else ""
        return (int(part) if part.isdigit() else 0, name)

    return sorted(paths, key=order)


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per span id: jobs, stages, tasks, shuffle read/write bytes and
    executor CPU seconds of the jobs its job group ran. Read after the
    session stopped, when the log is complete."""
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}

    def acc(sid):
        return out.setdefault(sid, {"jobs": 0, "stages": 0, "tasks": 0,
                                    "shuffle_read_b": 0, "shuffle_write_b": 0,
                                    "executor_cpu_s": 0.0})

    stages_seen: set = set()
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    if not group.startswith("span-"):
                        continue
                    sid = int(group[5:])
                    acc(sid)["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    a = acc(sid)
                    a["tasks"] += 1
                    key = (ev.get("Stage ID"), ev.get("Stage Attempt ID", 0))
                    if key not in stages_seen:
                        stages_seen.add(key)
                        a["stages"] += 1
                    m = ev.get("Task Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_b"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
                    a["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    return out
