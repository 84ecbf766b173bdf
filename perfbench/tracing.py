"""Instruments the benchmark applies from outside the engine.

- :class:`Tracer` keeps spans (name, start, end, parent, run id) in memory
  and writes them once, when the run ends.
- :func:`parse_event_log` reads a Spark JSON event log and groups jobs,
  stages and tasks by job group (``setJobGroup`` id).
- :func:`sample_tree` reads ``/proc`` for this process's tree (the JVM and
  its Python workers included): CPU time of the whole tree and of the
  Python workers, and the workers' peak ``VmHWM``.

Nothing here imports pyspark, so the instruments are testable without a JVM.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder; ``span()`` nests through a parent stack."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "run_id": self.run_id, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def around(self, owner, attr: str, name: str):
        """While active, every call of ``owner.attr`` runs inside a span
        called ``name`` (a patch from outside the traced code)."""
        orig = getattr(owner, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def duration(self, name: str) -> float:
        """Total seconds of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.

    Children may overlap each other and may run past the parent's end; only
    the union of their intervals clipped to the parent is subtracted.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_end = 0.0, lo
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, hi)
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (hi - lo) - covered
    return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

@dataclass
class Task:
    stage: int
    run_ms: float          # Executor Run Time
    cpu_ns: int            # Executor CPU Time
    shuffle_write: int
    spill_disk: int
    peak_exec_mem: int


@dataclass
class GroupProfile:
    """Everything the event log says about one job group."""
    jobs: list[dict] = field(default_factory=list)   # id, start_ms, end_ms
    stages: set = field(default_factory=set)
    tasks: list[Task] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        """Sum of job walls (jobs of one group run one after another)."""
        return sum(j["end_ms"] - j["start_ms"] for j in self.jobs) / 1e3

    def task_ms(self) -> list[float]:
        return [t.run_ms for t in self.tasks]

    def stage_skew_max(self) -> float:
        """max over stages with >= 2 tasks of (max task / median task)."""
        by_stage: dict[int, list[float]] = {}
        for t in self.tasks:
            by_stage.setdefault(t.stage, []).append(t.run_ms)
        skews = [max(v) / max(statistics.median(v), 1.0)
                 for v in by_stage.values() if len(v) >= 2]
        return max(skews, default=1.0)


def parse_event_log(path: str) -> dict[str, GroupProfile]:
    """Job group id -> profile. Jobs without a group fall under ``""``."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    groups: dict[str, GroupProfile] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                prof = groups.setdefault(g, GroupProfile())
                jid = ev["Job ID"]
                job_group[jid] = g
                prof.jobs.append({"id": jid, "start_ms": ev["Submission Time"],
                                  "end_ms": ev["Submission Time"]})
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
                    prof.stages.add(sid)
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"])
                if g is not None:
                    for j in groups[g].jobs:
                        if j["id"] == ev["Job ID"]:
                            j["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or m is None:
                    continue
                sw = m.get("Shuffle Write Metrics") or {}
                groups[g].tasks.append(Task(
                    stage=ev["Stage ID"],
                    run_ms=float(m.get("Executor Run Time", 0)),
                    cpu_ns=int(m.get("Executor CPU Time", 0)),
                    shuffle_write=int(sw.get("Shuffle Bytes Written", 0)),
                    spill_disk=int(m.get("Disk Bytes Spilled", 0)),
                    peak_exec_mem=int(m.get("Peak Execution Memory", 0)),
                ))
    return groups


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Proc:
    pid: int
    ppid: int
    cmdline: str
    cpu_s: float      # utime + stime + reaped children's cutime + cstime
    hwm_mb: float     # VmHWM


def _read_proc(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode(errors="replace")
        hwm = 0.0
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm = int(line.split()[1]) / 1024
                    break
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None  # exited while we read it
    # the command name may hold spaces and parens: split after its last ")"
    rest = stat[stat.rindex(")") + 2:].split()
    ticks = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
    return Proc(pid, int(rest[1]), cmdline, ticks / _TICK, hwm)


def proc_tree(root: int | None = None) -> list[Proc]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_proc(int(name))
            if p is not None:
                procs[p.pid] = p
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(procs[pid])
            todo += kids.get(pid, [])
    return out


def is_python_worker(p: Proc) -> bool:
    return "pyspark.daemon" in p.cmdline or "pyspark.worker" in p.cmdline


@dataclass
class TreeSample:
    total_cpu_s: float
    python_cpu_s: float
    worker_hwm_mb: float


def sample_tree() -> TreeSample:
    procs = proc_tree()
    py = [p for p in procs if is_python_worker(p)]
    return TreeSample(
        total_cpu_s=sum(p.cpu_s for p in procs),
        python_cpu_s=sum(p.cpu_s for p in py),
        worker_hwm_mb=max((p.hwm_mb for p in py), default=0.0),
    )
