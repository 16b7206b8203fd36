"""Tracing for the traced benchmark run: spans, Spark's event log and
streaming progress, folded into per-layer numbers.

Spans are recorded only from benchmark code. ``Tracer.instrument``
swaps a module attribute for a wrapper that opens a span around each
call into a layer's public function and puts the original back on
exit, so the untraced run executes the package unchanged.

One span stack serves the whole process. The loop is closed with one
client, so while an operation runs, its only other Python thread is
the one Spark uses to call ``foreachBatch`` functions, and that runs
while the main thread waits in ``awaitTermination``.

Spark actions are lazy, so the time a plan takes to run lands in the
span of the call that forces it. A sink's ``atomic_overwrite`` forces
its input through ``DataFrameWriter.parquet``. That write is timed as
its own span and counted to the layer that built the plan (the nearest
enclosing span that is not a ``sinks.swap``), which leaves
``sinks.swap`` with the swap itself: the symlink commit and the
clean-up of old versions.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict

HARNESS = "bench"  # the root span of each operation
SWAP = "sinks.swap"
WRITE = "write"


class Span:
    __slots__ = ("name", "t0", "t1", "parent", "op")

    def __init__(self, name: str, parent: int | None, op: int) -> None:
        self.name = name
        self.t0 = time.perf_counter()
        self.t1: float | None = None
        self.parent = parent
        self.op = op

    def as_dict(self) -> dict:
        return {
            "name": self.name, "t0": self.t0, "t1": self.t1,
            "parent": self.parent, "op": self.op,
        }


class Tracer:
    """Span recorder for one benchmark process."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ops: list[dict] = []  # id, kind, wall clock bounds
        self.bytes_written: dict[int, int] = defaultdict(int)
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------
    @property
    def op(self) -> int | None:
        return len(self.ops) - 1 if self._stack else None

    def _open(self, name: str) -> int:
        with self._lock:
            span = Span(name, self._stack[-1] if self._stack else None,
                        len(self.ops) - 1)
            self.spans.append(span)
            self._stack.append(len(self.spans) - 1)
            return len(self.spans) - 1

    def _close(self, idx: int) -> None:
        with self._lock:
            self.spans[idx].t1 = time.perf_counter()
            self._stack.remove(idx)

    @contextlib.contextmanager
    def span(self, name: str):
        if self.op is None:
            yield
            return
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    @contextlib.contextmanager
    def operation(self, kind: str):
        """Root span of one timed operation (a tick or a query)."""
        self.ops.append({"id": len(self.ops), "kind": kind,
                         "epoch0": time.time()})
        idx = self._open(HARNESS)
        try:
            yield
        finally:
            self._close(idx)
            self.ops[-1]["epoch1"] = time.time()
            self.ops[-1]["wall"] = self.spans[idx].t1 - self.spans[idx].t0

    # -- instrumentation -----------------------------------------------
    def patch(self, owner: object, attr: str, wrapper) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, wrapper(original))

    def spanned(self, name: str):
        """Wrapper factory: run the original inside span ``name``."""
        def wrap(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
            return inner
        return wrap

    def swap(self):
        """Wrapper for ``atomic_overwrite(df, path, ...)``: a
        ``sinks.swap`` span, plus the bytes of the version it commits."""
        def wrap(fn):
            @functools.wraps(fn)
            def inner(df, path, *args, **kwargs):
                op = len(self.ops) - 1
                with self.span(SWAP):
                    out = fn(df, path, *args, **kwargs)
                with self.span(HARNESS):  # measuring is the benchmark's time
                    self.bytes_written[op] += dir_bytes(
                        os.path.realpath(path))
                return out
            return inner
        return wrap

    @contextlib.contextmanager
    def instrument(self, plan: list[tuple[object, str, object]]):
        """Apply ``(owner, attribute, wrapper)`` patches; undo on exit."""
        from pyspark.sql.readwriter import DataFrameWriter

        try:
            self.patch(DataFrameWriter, "parquet", self.spanned(WRITE))
            for owner, attr, wrapper in plan:
                self.patch(owner, attr, wrapper)
            yield self
        finally:
            for owner, attr, original in reversed(self._patches):
                setattr(owner, attr, original)
            self._patches.clear()

    # -- folding ---------------------------------------------------------
    def layer_of(self, idx: int) -> str:
        span = self.spans[idx]
        if span.name != WRITE:
            return span.name
        parent = span.parent
        while parent is not None and self.spans[parent].name in (SWAP, WRITE):
            parent = self.spans[parent].parent
        return self.spans[parent].name if parent is not None else HARNESS

    def self_times(self) -> dict[int, dict[str, float]]:
        """Per operation: self time by layer. A span's self time is its
        duration minus its children's, so each operation's layers sum
        to its wall time."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None and s.t1 is not None:
                child[s.parent] += s.t1 - s.t0
        out: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            if s.t1 is None:
                continue
            out[s.op][self.layer_of(i)] += (s.t1 - s.t0) - child[i]
        return out

    def span_durations(self, name: str) -> dict[int, float]:
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.name == name and s.t1 is not None:
                out[s.op] += s.t1 - s.t0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"ops": self.ops,
                       "spans": [s.as_dict() for s in self.spans]}, fh)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


# -- the host's share ------------------------------------------------------
def host_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the machine since boot: time its
    vCPUs ran work, and time they had work to run while the hypervisor
    ran another guest on their cores."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def held_back(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the machine's working time between two ``host_ticks``
    readings that the hypervisor held its vCPUs back: stolen over busy
    plus stolen. 0 on a machine that shares no core."""
    busy, stolen = (b - a for a, b in zip(start, end))
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


# -- streaming progress ---------------------------------------------------
STREAM_PHASES = ("addBatch", "walCommit", "commitOffsets", "queryPlanning",
                 "latestOffset", "triggerExecution")


def progress_listener():
    """A ``StreamingQueryListener`` that keeps each progress event's
    ``durationMs`` and counts terminated queries."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.terminated = 0
            self.cond = threading.Condition()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            with self.cond:
                self.progress.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self.cond:
                self.terminated += 1
                self.cond.notify_all()

        def take(self, terminated: int, timeout: float = 10.0) -> list[dict]:
            """Wait until ``terminated`` queries have ended, then hand
            over (and forget) the progress seen so far."""
            with self.cond:
                self.cond.wait_for(lambda: self.terminated >= terminated,
                                   timeout)
                out, self.progress = self.progress, []
                return out

    return Listener()


# -- Spark event log --------------------------------------------------------
def fold_event_log(path: str, ops: list[dict]) -> dict[int, dict[str, float]]:
    """Per operation: job, stage and task counts and task metrics from
    Spark's (uncompressed) event log. Jobs belong to the operation whose
    wall-clock window holds their submission; stages and tasks belong
    to their job. Attributing by time rather than by job group also
    covers the jobs the stream runs on its own execution thread, whose
    group Spark sets to the query's run id."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[int] = set()
    tasks: dict[int, list[dict]] = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {"t0": ev["Submission Time"] / 1000.0}
                for sid in ev["Stage IDs"]:  # a skipped stage ran earlier
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages_done.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks[ev["Stage ID"]].append(_task_metrics(ev))

    def op_of(t: float) -> int | None:
        for op in ops:
            if op["epoch0"] <= t <= op.get("epoch1", float("inf")):
                return op["id"]
        return None

    out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    spans: dict[int, list[tuple[float, float]]] = defaultdict(list)
    job_op = {}
    for jid, job in jobs.items():
        op = op_of(job["t0"])
        if op is None:
            continue
        job_op[jid] = op
        out[op]["jobs"] += 1
        spans[op].append((job["t0"], job.get("t1", job["t0"])))
    for sid in stages_done:
        op = job_op.get(stage_job.get(sid, -1))
        if op is None:
            continue
        out[op]["stages"] += 1
        for t in tasks.get(sid, ()):
            for k, v in t.items():
                out[op][k] += v
    for op in ops:
        covered = _union_length(spans.get(op["id"], []), op["epoch0"],
                                op.get("epoch1", op["epoch0"]))
        out[op["id"]]["driver_gap_s"] = max(0.0, op["wall"] - covered)
    return out


def _task_metrics(ev: dict) -> dict[str, float]:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    records_in = (m.get("Input Metrics", {}).get("Records Read", 0)
                  + sr.get("Total Records Read", 0))
    out = {
        "tasks": 1.0,
        "empty_tasks": 1.0 if records_in == 0 else 0.0,
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 1e6,
        "shuffle_read_mb": (sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0)) / 1e6,
        "spill_mb": (m.get("Memory Bytes Spilled", 0)
                     + m.get("Disk Bytes Spilled", 0)) / 1e6,
        "python_worker_s": 0.0,
        "python_arrow_mb": 0.0,
    }
    for acc in ev["Task Info"].get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update")
        if not isinstance(update, (int, float)) and not (
                isinstance(update, str) and update.isdigit()):
            continue
        if name == "time to run Python workers":
            out["python_worker_s"] += int(update) / 1e3
        elif name in ("data sent to Python workers",
                      "data returned from Python workers"):
            out["python_arrow_mb"] += int(update) / 1e6
    return out


def _union_length(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
