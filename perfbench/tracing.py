"""Outside-in tracing for the benchmark: spans, a process-tree RSS sampler,
a Spark event-log parser and job-to-window attribution.

Nothing here reaches into the program.  Spans wrap the benchmark's own calls
into public functions; stage windows come from ledgers the program already
writes; task metrics come from a Spark event log the traced run enables
through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass

MIB = 1 << 20


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out once at
    the end of the run.  Disabled, ``span`` costs one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: str = ""):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()


# -- process tree -------------------------------------------------------------


def _stat(pid: int) -> tuple[int, str] | None:
    """(ppid, comm) of a live process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces or parens; the fields after its closing paren are
    # space separated, ppid being the second
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return int(raw[raw.rindex(")") + 2 :].split()[1]), comm


def descendants(root: int) -> dict[int, str]:
    """pid -> comm of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    comms: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        children.setdefault(st[0], []).append(int(name))
        comms[int(name)] = st[1]
    out: dict[int, str] = {}
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = comms[pid]
        todo.extend(children.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """One thread polling ``/proc``: summed RSS of this process (the driver),
    the JVM and the Python workers.  Peaks are kept only while ``active``
    (the timed ops), split by role for the traced output."""

    ROLES = ("driver", "jvm", "workers")

    def __init__(self, interval_s: float = 0.2):
        self.interval = interval_s
        self.active = False
        self.peak = {r: 0 for r in (*self.ROLES, "total")}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> dict[str, int]:
        me = os.getpid()
        by_role = {"driver": _rss_bytes(me), "jvm": 0, "workers": 0}
        for pid, comm in descendants(me).items():
            by_role["jvm" if comm == "java" else "workers"] += _rss_bytes(pid)
        by_role["total"] = sum(by_role.values())
        return by_role

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if not self.active:
                continue
            cur = self.sample()
            for k, v in cur.items():
                self.peak[k] = max(self.peak[k], v)

    def peak_mb(self, role: str = "total") -> float:
        return self.peak[role] / MIB


def wait_for_descendants(timeout_s: float = 60.0) -> None:
    """Wait until every process this one started has ended; SIGKILL what is
    left after ``timeout_s``."""
    deadline = time.time() + timeout_s
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                with contextlib.suppress(OSError):
                    os.kill(pid, 9)
            deadline = time.time() + 10
        time.sleep(0.1)


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(root, f))
    return total / MIB


# -- Spark event log ----------------------------------------------------------


@dataclass
class JobStats:
    job_id: int
    submit_s: float
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0  # shuffle bytes written
    spill_bytes: int = 0  # disk bytes spilled


# commands in the physical plan of a SQL execution that writes files
# (under adaptive execution they sit below an AdaptiveSparkPlan node)
_WRITE_COMMANDS = ("InsertIntoHadoopFsRelationCommand", "SaveAsV1TableCommand")


def parse_event_log(path: str) -> tuple[list[JobStats], list[tuple[float, float]]]:
    """From a plain JSON-lines Spark event log: the jobs with their summed
    task metrics (a task belongs to the first job that listed its stage),
    and the (start, end) of every root SQL execution that writes files."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    write_start: dict[int, float] = {}
    writes: list[tuple[float, float]] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                job = JobStats(ev["Job ID"], ev["Submission Time"] / 1000.0)
                jobs[job.job_id] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.task_s += m.get("Executor Run Time", 0) / 1000.0
                job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                job.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                eid = ev["executionId"]
                plan = ev.get("physicalPlanDescription", "")
                # nested executions (a table write's insert) count once,
                # through their root
                if ev.get("rootExecutionId", eid) == eid and any(
                    c in plan for c in _WRITE_COMMANDS
                ):
                    write_start[eid] = ev["time"] / 1000.0
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                start = write_start.pop(ev["executionId"], None)
                if start is not None:
                    writes.append((start, ev["time"] / 1000.0))
    return sorted(jobs.values(), key=lambda j: j.job_id), writes


def event_log_file(log_dir: str) -> str:
    """The one finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


@dataclass
class WindowStats:
    jobs: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0


def attribute(jobs: list[JobStats], windows: list[tuple[str, float, float]]) -> dict[str, WindowStats]:
    """Sum each job into the named window ``[start, end)`` in which it was
    submitted; windows sharing a name add up.  Jobs outside every window
    are left out."""
    out = {name: WindowStats() for name, _, _ in windows}
    for job in jobs:
        for name, start, end in windows:
            if start <= job.submit_s < end:
                w = out[name]
                w.jobs += 1
                w.tasks += job.tasks
                w.task_s += job.task_s
                w.cpu_s += job.cpu_s
                w.gc_s += job.gc_s
                w.shuffle_mb += job.shuffle_bytes / MIB
                w.spill_mb += job.spill_bytes / MIB
                break
    return out
