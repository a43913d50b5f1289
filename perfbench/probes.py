"""Outside-in measurement of the engine's layers, for the traced run.

Nothing here changes the engine: layers are timed by wrapping calls into
their public functions, by a ``ControlTransport`` that delegates to the
real one, by the benchmark's own ``StreamingQueryListener``, by Spark's
status store, and by ``/proc`` CPU counters.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

from bullet_spark_spark.streaming.control import ControlTransport

_TICK = os.sysconf("SC_CLK_TCK")


def pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100); 0.0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return statistics.fmean(values) if values else 0.0


class Tracer:
    """Spans (name, start, end, parent, query id), kept in memory and
    written out when the run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    def record(self, name: str, start: float, end: float, parent: str | None = None,
               qid: str | None = None) -> None:
        with self._lock:
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "qid": qid}
            )

    @contextmanager
    def span(self, name: str, parent: str | None = None, qid: str | None = None):
        t0 = time.time()
        try:
            yield
        finally:
            self.record(name, t0, time.time(), parent, qid)

    def wrap(self, fn, name: str, qid_arg: bool = False):
        """``fn`` timed as span ``name``; with ``qid_arg`` its first
        argument is the query id."""

        def timed(*args, **kwargs):
            with self.span(name, None, args[0] if qid_arg else None):
                return fn(*args, **kwargs)

        return timed


class TracedTransport(ControlTransport):
    """Times the control plane's bus calls; delegates everything."""

    def __init__(self, inner: ControlTransport, tracer: Tracer) -> None:
        self.inner, self.tracer = inner, tracer

    def poll(self) -> list[str]:
        with self.tracer.span("control.poll", "control"):
            return self.inner.poll()

    def emit(self, event: dict) -> None:
        with self.tracer.span("control.emit", "control", event.get("query_id")):
            self.inner.emit(event)

    def replay_status(self) -> list[dict]:
        return self.inner.replay_status()

    def close(self) -> None:
        self.inner.close()


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's ``StreamingQueryProgress``."""

    def __init__(self) -> None:
        self.progress: list = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class StatusStore:
    """Executor-side work from Spark's status store, as deltas between a
    baseline taken with ``mark()`` and ``collect()``."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        gw = self._sc._gateway
        self._store = self._sc._jsc.sc().statusStore()
        self._asjava = gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._seen_stages: set[int] = set()
        self._seen_jobs: set[int] = set()

    def _stages(self):
        return self._asjava(self._store.stageList(None, False, False, self._no_quantiles, None))

    def _jobs(self):
        return self._asjava(self._store.jobsList(None))

    def mark(self) -> None:
        self._seen_stages = {s.stageId() for s in self._stages()}
        self._seen_jobs = {j.jobId() for j in self._jobs()}

    def new_jobs(self) -> list[tuple[int, float, float]]:
        """(job id, submit s, end s) of finished jobs since ``mark()``."""
        out = []
        for j in self._jobs():
            if j.jobId() in self._seen_jobs:
                continue
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                out.append((j.jobId(), sub.get().getTime() / 1000, end.get().getTime() / 1000))
        return out

    def collect(self) -> dict[str, float]:
        tot = {"jobs": len(self.new_jobs()), "tasks": 0, "cpu_ms": 0.0, "run_ms": 0.0,
               "gc_ms": 0.0, "shuffle_write_bytes": 0}
        for s in self._stages():
            if s.stageId() in self._seen_stages or s.status().toString() != "COMPLETE":
                continue
            tot["tasks"] += s.numCompleteTasks()
            tot["cpu_ms"] += s.executorCpuTime() / 1e6
            tot["run_ms"] += s.executorRunTime()
            tot["gc_ms"] += s.jvmGcTime()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
        return tot


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def proc_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds of ``root_pid`` and all its live descendants (user +
    system, plus reaped children), from /proc."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15]) / _TICK
    total, todo = 0.0, [root_pid]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo.extend(c for c, p in parent.items() if p == pid)
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system
