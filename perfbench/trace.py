"""Tracing from outside the program: spans, a py4j call counter, the
Spark event log reader and the provenance record.

Nothing here reaches inside the package. Spans are recorded by the
benchmark around its own calls into each layer; the py4j counter wraps
the py4j gateway client PySpark already holds; job/stage/task figures come
from Spark's own event log, switched on through the session's
``extra_conf``.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import threading
import time
from contextlib import contextmanager
from typing import Dict, Iterable, List, Optional, Tuple


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """In-memory spans: name, start, end, parent and operation id.

    Disabled tracers record nothing, so untraced runs pay one attribute
    check per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: Optional[int] = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "op": op if op is not None else (stack[-1]["op"] if stack else None),
            "parent": stack[-1]["id"] if stack else None,
            "start_ms": now_ms(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end_ms"] = now_ms()
            stack.pop()

    def windows(self, name: str) -> List[Tuple[float, float]]:
        return [(s["start_ms"], s["end_ms"]) for s in self.spans if s["name"] == name]

    def self_ms(self) -> Dict[str, float]:
        """Per span name: duration minus the part covered by child spans."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            covered = _union_ms(
                (c["start_ms"], c["end_ms"]) for c in children.get(s["id"], ())
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end_ms"] - s["start_ms"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_ms()}, f)


def _union_ms(intervals: Iterable[Tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def in_windows(t_ms: float, windows: List[Tuple[float, float]]) -> bool:
    return any(a <= t_ms <= b for a, b in windows)


class Py4JCounter:
    """Counts Python→JVM py4j round trips by wrapping ``send_command`` on
    the gateway client every ``JavaObject`` holds a reference to."""

    def __init__(self) -> None:
        self.calls = 0
        self._lock = threading.Lock()
        self._client = None

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        if self._client is client:
            return
        inner = client.send_command

        def send_command(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return inner(*args, **kwargs)

        client.send_command = send_command
        self._client = client


def event_log_conf(log_dir: str) -> Dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        # one flat file per application (Spark 4 rolls by default)
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> List[dict]:
    """Every event of every application log under ``log_dir`` (the logs
    are complete once their SparkContext has stopped)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


#: the scan's SQL metric that counts files opened
FILES_READ = "number of files read"


def engine_layers(events: List[dict], windows: List[Tuple[float, float]]) -> Dict[str, float]:
    """Scheduling, execution and I/O sums over jobs submitted, stages
    submitted and tasks launched inside ``windows`` (epoch ms)."""
    out = dict.fromkeys(
        (
            "sched.jobs", "sched.stages", "sched.tasks", "exec.run_ms",
            "exec.task_cpu_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
            "exec.shuffle_write_bytes", "exec.spill_bytes", "io.bytes_read",
            "io.files_read",
        ),
        0.0,
    )
    files_acc = set()
    sql_in_window = set()
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart" and in_windows(e["Submission Time"], windows):
            out["sched.jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            t = e["Stage Info"].get("Submission Time")
            if t is not None and in_windows(t, windows):
                out["sched.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if not in_windows(e["Task Info"]["Launch Time"], windows):
                continue
            m = e.get("Task Metrics") or {}
            out["sched.tasks"] += 1
            out["exec.run_ms"] += m.get("Executor Run Time", 0)
            out["exec.task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            out["exec.gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            out["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            out["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            out["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            out["io.bytes_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            if in_windows(e["time"], windows):
                sql_in_window.add(e["executionId"])
                _collect_accumulators(e.get("sparkPlanInfo") or {}, FILES_READ, files_acc)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            if e["executionId"] in sql_in_window:
                _collect_accumulators(e.get("sparkPlanInfo") or {}, FILES_READ, files_acc)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            if e["executionId"] in sql_in_window:
                for acc_id, value in e.get("accumUpdates", ()):
                    if acc_id in files_acc:
                        out["io.files_read"] += value
    return out


def _collect_accumulators(plan: dict, metric: str, into: set) -> None:
    for m in plan.get("metrics", ()):
        if m.get("name") == metric:
            into.add(m["accumulatorId"])
    for child in plan.get("children", ()):
        _collect_accumulators(child, metric, into)


class HostSampler:
    """Load average and hypervisor steal over a measurement window."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()[0]
        self._stat = _cpu_jiffies()

    def finish(self) -> dict:
        end = _cpu_jiffies()
        out = {"load_avg_1m_start": self.load_start, "load_avg_1m_end": os.getloadavg()[0]}
        if self._stat and end:
            total = sum(end) - sum(self._stat)
            steal = end[7] - self._stat[7] if len(end) > 7 else 0
            out["steal_pct"] = round(100.0 * steal / total, 3) if total > 0 else 0.0
        return out


def _cpu_jiffies() -> Optional[List[int]]:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def provenance(root: str, seed: int, spark) -> dict:
    """What produced this record: source identity, host and versions."""
    import pyarrow
    import pyspark

    rec = {
        "seed": seed,
        "nproc": os.cpu_count(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }
    rec.update(_git_state(root))
    return rec


def _git_state(root: str) -> dict:
    def git(*args):
        return subprocess.run(
            ["git", "-C", root, *args], capture_output=True, text=True, timeout=10
        )

    try:
        top = git("rev-parse", "--show-toplevel")
        if top.returncode != 0 or os.path.realpath(top.stdout.strip()) != os.path.realpath(root):
            return {"git_sha": None, "git_dirty": None}
        sha = git("rev-parse", "HEAD").stdout.strip()
        dirty = bool(git("status", "--porcelain", "--untracked-files=no").stdout.strip())
        return {"git_sha": sha, "git_dirty": dirty}
    except (OSError, subprocess.TimeoutExpired):
        return {"git_sha": None, "git_dirty": None}
