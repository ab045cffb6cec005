"""Spans recorded around calls into the engine, and the per-layer metrics
attributed to them.

A span has a name (module and public function it wraps), start, end,
parent and the op id it belongs to. Spans stay in memory; the run writes
them out once, when it ends.

In a traced run every span also

* sets a Spark job group named after its id, so each job launched inside
  it is attributed to the innermost open span and to no other;
* samples the CPU time of the Python workers from ``/proc`` at its start
  and end.

After the session stops, the Spark event log is read back and every job,
stage and task is charged to the span whose job group it carries.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

GROUP_PREFIX = "perfbench-span-"


# --------------------------------------------------------------------- /proc

def _proc_stats() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process exited while we listed
            continue
        lp, rp = raw.find("("), raw.rfind(")")
        comm = raw[lp + 1:rp]
        rest = raw[rp + 2:].split()
        # fields 4 (ppid), 14-17 (utime stime cutime cstime), 24 (rss)
        ticks = sum(int(x) for x in rest[11:15])
        out[int(name)] = (int(rest[1]), comm, ticks, int(rest[21]))
    return out


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def python_worker_cpu_s(root: int | None = None) -> float:
    """CPU seconds of every Python process below this driver (the PySpark
    daemon and its workers). A worker that exits is reaped by the daemon,
    whose cutime/cstime then hold its time, so a delta of this counter
    includes workers that exit between the two samples."""
    table = _proc_stats()
    root = os.getpid() if root is None else root
    ticks = sum(
        table[p][2] for p in _descendants(table, root)
        if table[p][1].startswith("python")
    )
    return ticks / _CLK_TCK


def engine_cpu_s(root: int | None = None) -> float:
    """CPU seconds of this process and every process below it (the JVM,
    the PySpark daemon and its workers), reaped children included. Time
    the hypervisor steals from the machine is not in it."""
    table = _proc_stats()
    root = os.getpid() if root is None else root
    ticks = sum(table[p][2] for p in [root, *_descendants(table, root)])
    return ticks / _CLK_TCK


def engine_rss_mb(root: int | None = None) -> float:
    """Resident memory of the JVM plus the Python workers below it."""
    table = _proc_stats()
    root = os.getpid() if root is None else root
    pages = sum(table[p][3] for p in _descendants(table, root))
    return pages * _PAGE / (1 << 20)


# --------------------------------------------------------------------- spans

@dataclass
class Span:
    id: int
    name: str
    op_id: int | None
    parent: int | None
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float | None = None
    role: str | None = None
    metrics: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """Collects spans. ``sc`` is the SparkContext whose job group the spans
    set; with ``traced=False`` spans only keep their times."""

    def __init__(self, sc=None, traced: bool = False):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    def _set_group(self, span: Span | None) -> None:
        if not (self.traced and self.sc is not None):
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + str(span.id), span.name)

    @contextmanager
    def span(self, name: str, op_id: int | None = None,
             role: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = parent.op_id
        s = Span(len(self.spans), name, op_id,
                 parent.id if parent else None, time.time(), role=role)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        py0 = python_worker_cpu_s() if self.traced else 0.0
        try:
            yield s
        finally:
            s.end = time.time()
            if self.traced:
                s.metrics["python_cpu_s"] = python_worker_cpu_s() - py0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's wall time minus the part of it its children cover
    (children's intervals are merged and clipped to the parent)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = [(max(c.start, s.start), min(c.end, s.end))
               for c in kids.get(s.id, [])]
        out[s.id] = s.wall_s - _covered(ivs)
    return out


def _covered(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ----------------------------------------------------------------- event log

@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)     # job id -> record
    stages: dict = field(default_factory=dict)   # stage id -> record


def read_event_log(log_dir: str) -> EventLog:
    """Jobs (group, submit/complete ms, stage ids) and per-stage task
    totals from every Spark event log file in ``log_dir``."""
    ev = EventLog()
    stage_group: dict[int, str | None] = {}
    paths = sorted(os.path.join(d, n) for d, _dirs, names in os.walk(log_dir)
                   for n in names)
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    ev.jobs[e["Job ID"]] = {
                        "group": group,
                        "submit_ms": e.get("Submission Time"),
                        "end_ms": None,
                        "stages": list(e.get("Stage IDs", [])),
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in ev.jobs:
                        ev.jobs[e["Job ID"]]["end_ms"] = e.get("Completion Time")
                elif kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    st = ev.stages.setdefault(e["Stage ID"], {
                        "tasks": 0, "run_ms": 0, "cpu_ns": 0,
                        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
                    })
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["cpu_ns"] += m.get("Executor CPU Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    for sid, st in ev.stages.items():
        st["group"] = stage_group.get(sid)
    return ev


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith(GROUP_PREFIX):
        return int(group[len(GROUP_PREFIX):])
    return None


def attribute(spans: list[Span], ev: EventLog) -> dict:
    """Charge every job and stage of the event log to the span named by its
    job group. Sets the event-log metrics on each span and returns
    ``{"jobs_attributed", "jobs_unattributed", "jobs_in_ops_unattributed"}``
    — the last counts jobs submitted while an op span was open that carry
    no span's group (it must be 0)."""
    by_id = {s.id: s for s in spans}
    for s in spans:
        s.metrics.update(jobs=0, tasks=0, executor_run_s=0.0,
                         executor_cpu_s=0.0, shuffle_read_bytes=0,
                         shuffle_write_bytes=0)
        s.metrics["_job_ivs"] = []
    attributed = unattributed = in_ops = 0
    ops = [s for s in spans if s.parent is None and s.role != "setup"]
    for job in ev.jobs.values():
        sid = span_of_group(job["group"])
        if sid in by_id:
            attributed += 1
            s = by_id[sid]
            s.metrics["jobs"] += 1
            if job["submit_ms"] is not None and job["end_ms"] is not None:
                s.metrics["_job_ivs"].append(
                    (job["submit_ms"] / 1000.0, job["end_ms"] / 1000.0)
                )
            continue
        unattributed += 1
        t = (job["submit_ms"] or 0) / 1000.0
        if any(o.start <= t <= (o.end or o.start) for o in ops):
            in_ops += 1
    for st in ev.stages.values():
        sid = span_of_group(st["group"])
        if sid not in by_id:
            continue
        m = by_id[sid].metrics
        m["tasks"] += st["tasks"]
        m["executor_run_s"] += st["run_ms"] / 1000.0
        m["executor_cpu_s"] += st["cpu_ns"] / 1e9
        m["shuffle_read_bytes"] += st["shuffle_read_bytes"]
        m["shuffle_write_bytes"] += st["shuffle_write_bytes"]
    return {
        "jobs_attributed": attributed,
        "jobs_unattributed": unattributed,
        "jobs_in_ops_unattributed": in_ops,
    }


def subtree(spans: list[Span], root: Span) -> list[Span]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def job_time_s(spans: list[Span], root: Span) -> float:
    """Wall time inside ``root`` during which at least one Spark job of its
    subtree was running."""
    ivs = [
        (max(lo, root.start), min(hi, root.end))
        for s in subtree(spans, root)
        for lo, hi in s.metrics.get("_job_ivs", [])
    ]
    return _covered(ivs)


def span_records(spans: list[Span]) -> list[dict]:
    """JSON-ready span records: identity, times, self time and every
    metric, dropping metrics that are zero."""
    selfs = self_times(spans)
    out = []
    for s in spans:
        rec = {
            "id": s.id, "name": s.name, "op_id": s.op_id,
            "parent": s.parent, "role": s.role,
            "start": s.start, "end": s.end,
            "wall_s": s.wall_s, "self_s": selfs[s.id],
        }
        for k, v in s.metrics.items():
            if not k.startswith("_") and v:
                rec[k] = v
        out.append(rec)
    return out
