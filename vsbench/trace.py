"""Tracing from outside the program.

A ``Tracer`` wraps each call the benchmark makes into a layer's public
function in an ``op`` with ``build`` / ``plan`` / ``exec`` spans.  With
tracing on, each op also

* runs its Spark jobs under a job group named after the op, so the JSON
  event log attributes jobs, stages and task metrics to it (jobs started
  from threads the library spawns carry no group and are attributed by
  submission time instead);
* takes the executed plan as its own ``plan`` span;
* records CPU time of the Python worker processes and the number of
  persisted RDDs afterwards.

Spans stay in memory; ``attribute`` joins them with the event log after
the session stops.  With tracing off an op only measures its wall time.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import time
from collections import defaultdict


class Op:
    def __init__(self, tracer: "Tracer", layer: str, op_id: str):
        self.tracer = tracer
        self.layer = layer
        self.op_id = op_id
        self.spans: dict[str, float] = defaultdict(float)
        self.extra: dict[str, float] = {}
        self.t0 = self.t1 = 0.0
        # ``wall``: the call itself; ``cost``: the call plus the tracer's
        # bookkeeping around it, which is what tracing adds to a loop
        self.wall = self.cost = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] += time.perf_counter() - t

    def plan(self, df) -> None:
        """Traced runs plan the query as its own span; the action reuses
        the cached executed plan, so untraced runs do the same work
        inside ``exec``."""
        if self.tracer.enabled:
            with self.span("plan"):
                df._jdf.queryExecution().executedPlan()


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.ops: list[Op] = []
        self.max_pinned = 0
        self._ids = itertools.count()

    @contextlib.contextmanager
    def op(self, layer: str, probe: bool = False):
        """A call into ``layer``.  ``probe`` marks extra measuring work a
        traced run adds; it is left out of the pinned-RDD maximum."""
        c0 = time.perf_counter()
        op = Op(self, layer, f"vsbench-{next(self._ids)}")
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(op.op_id, layer)
            cpu0 = python_worker_cpu_s()
        op.t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield op
        finally:
            op.wall = time.perf_counter() - p0
            op.t1 = time.time()
            if self.enabled:
                op.extra["py_cpu_s"] = python_worker_cpu_s() - cpu0
                sc.setJobGroup("", "")
                if not probe:
                    self.max_pinned = max(self.max_pinned, pinned_rdds(self.spark))
                self.ops.append(op)
            op.cost = time.perf_counter() - c0


def pinned_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def descendants() -> set[int]:
    """PIDs of every live process this process started, directly or not."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    me = os.getpid()

    def mine(pid: int) -> bool:
        for _ in range(16):
            pid = parent.get(pid, 0)
            if pid == me:
                return True
            if pid <= 1:
                return False
        return False

    return {pid for pid in parent if mine(pid)}


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by this process's PySpark worker
    processes (daemon and forked workers), read from /proc."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


# --- directories -------------------------------------------------------------


def snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def delta(before: dict, after: dict) -> dict:
    """Files written between two snapshots (data, checksum and marker
    files alike): count, bytes, the distinct directories they landed in,
    and their paths."""
    new = [p for p, st in after.items() if before.get(p) != st]
    return {
        "files": len(new),
        "bytes": sum(after[p][0] for p in new),
        "dirs": len({os.path.dirname(p) for p in new}),
        "paths": new,
    }


# --- event log ---------------------------------------------------------------


def _event_lines(log_dir: str):
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        files = (
            sorted(
                (os.path.join(path, f) for f in os.listdir(path) if f.startswith("events_")),
                key=lambda f: int(os.path.basename(f).split("_")[1]),
            )
            if os.path.isdir(path)
            else [path]
        )
        for f in files:
            with open(f) as fh:
                yield from fh


def _python_scope(rdd_infos) -> bool:
    for r in rdd_infos or []:
        scope = r.get("Scope") or ""
        if any(t in scope for t in ("Pandas", "Python", "ArrowEval")):
            return True
    return False


def parse_event_log(log_dir: str) -> tuple[dict, dict, list[float]]:
    """``(jobs, stages, sql_starts)``: jobs by id with group, submission
    time (epoch s) and stage ids; stages by id with summed task metrics;
    the start time of every SQL execution."""
    jobs: dict[int, dict] = {}
    sql_starts: list[float] = []
    stages: dict[int, dict] = defaultdict(
        lambda: defaultdict(float) | {"tasks": 0, "python": False}
    )
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id") or "",
                "submitted": ev.get("Submission Time", 0) / 1000.0,
                "stages": ev.get("Stage IDs", []),
            }
            for info in ev.get("Stage Infos", []):
                if _python_scope(info.get("RDD Info")):
                    stages[info["Stage ID"]]["python"] = True
        elif kind and kind.endswith("SparkListenerSQLExecutionStart"):
            sql_starts.append(ev["time"] / 1000.0)
        elif kind == "SparkListenerTaskEnd":
            s = stages[ev["Stage ID"]]
            m = ev.get("Task Metrics") or {}
            s["tasks"] += 1
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages, sql_starts


def attribute(ops: list[Op], jobs: dict, stages: dict) -> None:
    """Add event-log metrics to each op's ``extra``: its jobs are those
    in its job group, plus ungrouped jobs submitted inside its wall-time
    window.  ``score_stage_*`` describe the op's most CPU-heavy stage."""
    by_group = {op.op_id: op for op in ops}
    assigned: dict[str, list[dict]] = defaultdict(list)
    for job in jobs.values():
        op = by_group.get(job["group"])
        if op is None and not job["group"]:
            op = next((o for o in ops if o.t0 <= job["submitted"] <= o.t1), None)
        if op is not None:
            assigned[op.op_id].append(job)
    for op in ops:
        mine = [stages[s] for j in assigned[op.op_id] for s in j["stages"] if s in stages and stages[s]["tasks"]]
        x = op.extra
        x["jobs"] = len(assigned[op.op_id])
        x["tasks"] = sum(s["tasks"] for s in mine)
        for k in ("cpu_s", "input_bytes", "shuffle_write_bytes", "spill_bytes"):
            x[k] = sum(s[k] for s in mine)
        x["python_stage_cpu_s"] = sum(s["cpu_s"] for s in mine if s["python"]) + x.get("py_cpu_s", 0.0)
        top = max(mine, key=lambda s: s["cpu_s"], default=None)
        x["score_stage_cpu_s"] = top["cpu_s"] if top else 0.0
        x["score_stage_tasks"] = top["tasks"] if top else 0
