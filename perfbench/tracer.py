"""Benchmark-side instruments: spans, worker RSS sampling, event-log parse.

All three observe the program from outside: spans wrap the benchmark's
calls into the program's public functions, RSS comes from ``/proc``, and
the Spark-layer numbers come from Spark's own event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
import uuid
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at the end.

    Disabled tracers still time their spans (the timings feed the
    end-to-end metrics) but keep nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id, **attrs}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def _children(pid: int) -> list[int]:
    kids = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                kids.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


def _cmd_has(pid: int, needle: bytes) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return needle in f.read()
    except OSError:
        return False


def _python_daemons(pid: int) -> list[int]:
    """pyspark.daemon processes below ``pid`` (walks the whole tree)."""
    found, stack = [], [pid]
    while stack:
        p = stack.pop()
        for c in _children(p):
            (found if _cmd_has(c, b"pyspark.daemon") else stack).append(c)
    return found


def worker_rss_mb(daemons: list[int]) -> float:
    """Summed RSS of the Spark Python worker daemons and every worker
    forked from them."""
    total = 0
    for d in daemons:
        total += _rss_kb(d) + sum(_rss_kb(w) for w in _children(d))
    return total / 1024.0


def steal_ticks() -> int:
    """Clock ticks the hypervisor gave other guests instead of this one,
    summed over all CPUs (the ``steal`` column of ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class RssSampler:
    """Background sampler of ``worker_rss_mb``; ``peak_mb`` after ``stop``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        # the daemons live as long as the Spark context; re-discover them
        # (a walk over every JVM thread) only when one has gone
        daemons = self._daemons
        while not self._stop.is_set():
            if not daemons or not all(os.path.exists(f"/proc/{d}") for d in daemons):
                daemons = _python_daemons(os.getpid())
            self.peak_mb = max(self.peak_mb, worker_rss_mb(daemons))
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        # first discovery before the window opens, so it does not slow the
        # window's first call
        self._daemons = _python_daemons(os.getpid())
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


class EventLog:
    """Jobs, stages, tasks and SQL plans of one application's event log,
    attributable to benchmark spans by wall-clock window."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, float] = {}  # job id -> submission time
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.sql_starts: list[dict] = []
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                self.jobs[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    self.stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                self.tasks.append({
                    "stage": ev["Stage ID"],
                    "failed": bool(info.get("Failed")) or bool(info.get("Killed")),
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
                })
            elif kind == "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
                self.sql_starts.append({"time": ev["time"] / 1000.0, "plan": ev.get("physicalPlanDescription", "")})

    def _in(self, t: float, span: dict) -> bool:
        return span["start"] <= t <= span["end"]

    def jobs_in(self, span: dict) -> list[int]:
        return [j for j, start in self.jobs.items() if self._in(start, span)]

    def tasks_in(self, span: dict) -> list[dict]:
        jobs = set(self.jobs_in(span))
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in jobs]

    def scans_in(self, span: dict, path: str) -> int:
        """Scans of the directory ``path`` in the SQL plans started inside
        ``span`` (one ``Location:`` line per scan node)."""
        tail = f"{path.rstrip('/')}]"
        return sum(
            sum(1 for ln in s["plan"].splitlines() if ln.startswith("Location: ") and ln.endswith(tail))
            for s in self.sql_starts if self._in(s["time"], span)
        )

    def stage_profile(self, span: dict) -> dict:
        """Executor run time, skew and shuffle volume of the tasks in ``span``;
        the skew is that of the stage with the most run time."""
        tasks = self.tasks_in(span)
        ok = [t for t in tasks if not t["failed"]]
        by_stage: dict[int, list[float]] = {}
        for t in ok:
            by_stage.setdefault(t["stage"], []).append(t["run_s"])
        skew = 0.0
        if by_stage:
            heavy = max(by_stage.values(), key=sum)
            med = statistics.median(heavy)
            skew = max(heavy) / med if med > 0 else 0.0
        return {
            "run_s": sum(t["run_s"] for t in ok),
            "skew": skew,
            "shuffle_write_bytes": sum(t["shuffle_write_bytes"] for t in ok),
            "fetch_wait_s": sum(t["fetch_wait_s"] for t in ok),
            "failed": sum(1 for t in tasks if t["failed"]),
        }
