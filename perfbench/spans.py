"""Measurement plumbing of the benchmark: spans, Spark counters, peak RSS.

Everything here observes the program from outside. Spans are recorded
around calls into the program's public functions (``patched`` swaps a
module or class attribute for a timing wrapper for the duration of a traced
phase and restores it afterwards). Spark counters come from a job group the
benchmark sets around each call and are read back from the status store,
which works with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from pyspark import AccumulatorParam


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    run_id: str


@dataclass
class Tracer:
    """In-memory span recorder; ``dump`` writes the spans out at the end."""

    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    run_id: str = ""

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self, run_id: str) -> dict[str, float]:
        """Seconds per span name in one run, each span's duration minus the
        part its child spans cover."""
        idx = [i for i, s in enumerate(self.spans) if s.run_id == run_id]
        child = {i: 0.0 for i in idx}
        for i in idx:
            s = self.spans[i]
            if s.parent in child:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i in idx:
            s = self.spans[i]
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@contextlib.contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Wrap ``getattr(owner, attr)`` in a span named ``name`` for each
    ``(owner, attr, name)``; restore the originals on exit."""
    saved = []
    try:
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))

            def wrapper(*a, __orig=orig, __name=name, **kw):
                with tracer.span(__name):
                    return __orig(*a, **kw)

            setattr(owner, attr, wrapper)
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


COUNTER_NAMES = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")


class SparkCounters:
    """Jobs, stages, tasks, shuffle and spill bytes per job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()

    @contextlib.contextmanager
    def group(self, gid: str):
        self.sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read(self, gid: str) -> dict[str, int]:
        """Counters of every job that ran in group ``gid``. Skipped stages
        (their shuffle output was reused) are not counted."""
        self.bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTER_NAMES, 0)
        for jid in tracker.getJobIdsForGroup(gid):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def _python_children() -> dict[int, list[int]]:
    """Parent pid -> pids of its Python child processes. Other children
    are left out: a child the JVM is spawning (a helper or a shell command)
    briefly reports the JVM's whole resident set as its own."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        if comm.startswith("python"):
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed resident set of this process, the JVM and the
    Python processes under the JVM (the worker daemon and its workers),
    sampled from /proc."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        kids = _python_children()
        pids, todo = {os.getpid()}, [self.jvm_pid]
        while todo:
            p = todo.pop()
            if p not in pids:
                pids.add(p)
                todo.extend(kids.get(p, ()))
        return sum(_rss_kb(p) for p in pids)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._sample())


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


@contextlib.contextmanager
def traced_call(tracer: Tracer | None, counters: SparkCounters | None,
                span: str, group: str):
    """Run the body in span ``span`` and job group ``group``; a no-op when
    the run is untraced."""
    if tracer is None:
        yield
        return
    with tracer.span(span), counters.group(group):
        yield


class ListParam(AccumulatorParam):
    """Accumulator of lists (per-call samples taken in Python workers)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):  # noqa: N802 (pyspark API name)
        a.extend(b)
        return a
