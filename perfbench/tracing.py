"""Run trace for the benchmark: spans, streaming progress and Spark event-log
attribution.

Spans are recorded only here, around the benchmark's calls into the
engine's public functions; nothing inside the engine is instrumented.
Spark work is attributed to spans afterwards from an uncompressed event
log: a job belongs to the innermost span open at its submission time, a
stage to the innermost span open at its submission time, and a task to its
stage. Submission time is used rather than job-group tags because the
DAG runner and the check suite submit jobs from their own worker threads,
which never see a tag set on the calling thread.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append(Span(sid, name, time.time(), 0.0, self._stack[-1] if self._stack else None))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


class ProgressRecorder(StreamingQueryListener):
    """Per-batch streaming progress, read through the public listener API.

    Events arrive on the listener bus asynchronously, so readers call
    ``wait_for`` before using the batches of a query that just ended.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        with self._lock:
            self.batches.append(
                {
                    "query_id": str(p.id),
                    "sink": p.sink.description,
                    "rows": p.numInputRows or 0,
                    "duration_ms": dict(p.durationMs or {}),
                }
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def main_batches(self) -> list[dict]:
        """Batches of the foreachBatch (bronze + silver) query."""
        with self._lock:
            return [b for b in self.batches if "ForeachBatch" in b["sink"] and b["rows"] > 0]

    def wait_for(self, n_main: int, timeout_s: float = 10.0) -> None:
        """Wait until ``n_main`` main batches have arrived or the timeout
        passes; callers check the count they get."""
        deadline = time.time() + timeout_s
        while len(self.main_batches()) < n_main and time.time() < deadline:
            time.sleep(0.05)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class StageStats:
    submit_ms: int = 0
    job: int | None = None
    tasks: int = 0
    tasks_failed: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    read_bytes: int = 0
    write_bytes: int = 0
    first_launch_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict[int, int] = field(default_factory=dict)  # job id -> submission ms
    stages: dict[int, StageStats] = field(default_factory=dict)


def _log_files(log_dir: str) -> list[str]:
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [os.path.join(root, f) for f in files if not f.startswith(".") and not f.startswith("appstatus")]
    return sorted(out)


def parse_event_log(log_dir: str) -> EventLog:
    """Read every uncompressed event-log file under ``log_dir``."""
    log = EventLog()
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    log.jobs[jid] = ev["Submission Time"]
                    for sid in ev.get("Stage IDs", []):
                        st = log.stages.setdefault(sid, StageStats())
                        if st.job is None:
                            st.job = jid
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    st = log.stages.setdefault(info["Stage ID"], StageStats())
                    st.submit_ms = st.submit_ms or info.get("Submission Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    st = log.stages.setdefault(ev["Stage ID"], StageStats())
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.tasks_failed += bool(info.get("Failed"))
                    launch = info.get("Launch Time")
                    if launch and (st.first_launch_ms is None or launch < st.first_launch_ms):
                        st.first_launch_ms = launch
                    st.run_ms += m.get("Executor Run Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.read_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    st.write_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return log


def _innermost(spans: list[Span], t_ms: int) -> Span | None:
    best = None
    for s in spans:
        if s.start * 1000 <= t_ms <= s.end * 1000 and (best is None or s.start >= best.start):
            best = s
    return best


@dataclass
class SpanWork:
    """Spark work attributed to one span instance."""

    jobs: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    read_bytes: int = 0
    write_bytes: int = 0
    sched_wait_ms: int = 0


def attribute(log: EventLog, spans: list[Span]) -> dict[int, SpanWork]:
    """Spark work per span id (innermost span at submission time)."""
    work: dict[int, SpanWork] = {}
    job_first_launch: dict[int, int] = {}
    for st in log.stages.values():
        if st.job is not None and st.first_launch_ms is not None:
            prev = job_first_launch.get(st.job)
            job_first_launch[st.job] = st.first_launch_ms if prev is None else min(prev, st.first_launch_ms)
        if not st.submit_ms:
            continue  # skipped stage: never ran
        s = _innermost(spans, st.submit_ms)
        if s is None:
            continue
        w = work.setdefault(s.id, SpanWork())
        w.tasks += st.tasks
        w.tasks_failed += st.tasks_failed
        w.run_ms += st.run_ms
        w.gc_ms += st.gc_ms
        w.shuffle_write_bytes += st.shuffle_write_bytes
        w.spill_bytes += st.spill_bytes
        w.read_bytes += st.read_bytes
        w.write_bytes += st.write_bytes
    for jid, submit in log.jobs.items():
        s = _innermost(spans, submit)
        if s is None:
            continue
        w = work.setdefault(s.id, SpanWork())
        w.jobs += 1
        if jid in job_first_launch:
            w.sched_wait_ms += max(0, job_first_launch[jid] - submit)
    return work


def covered(spans: list[Span], root: Span) -> list[Span]:
    """``root`` and every span nested under it."""
    ids = {root.id}
    out = [root]
    for s in spans:  # children are recorded after their parent
        if s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def work_under(work: dict[int, SpanWork], spans: list[Span], roots: list[Span]) -> SpanWork:
    """Sum of the work attributed to ``roots`` and their descendants."""
    total = SpanWork()
    for r in roots:
        for s in covered(spans, r):
            w = work.get(s.id)
            if w is None:
                continue
            for k in total.__dict__:
                setattr(total, k, getattr(total, k) + getattr(w, k))
    return total
