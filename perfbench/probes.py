"""Measurement probes for the benchmark, kept outside the engine.

- ``Tracer`` records spans (name, layer, start, end, parent, op id)
  around calls into the engine's public functions. With tracing off it
  records nothing; its wrappers still hand call results to the
  workload's checks.
- ``SparkCounters`` attributes Spark jobs, and the stages they ran, to
  a call by diffing job ids in the driver's status store before and
  after it. Streaming micro-batch jobs run on the query's own thread
  and carry no caller job group, so ids are diffed rather than
  grouped.
- ``StreamProgress`` is a ``StreamingQueryListener`` collecting each
  micro-batch's ``durationMs`` and ``stateOperators``.
- ``cpu_seconds`` and ``peak_rss_mb`` read ``/proc`` for this process,
  the JVM and its Python workers; ``host_cpu`` reads the host's CPU
  counters, steal included.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans of one loop; ``counters`` adds Spark totals where asked."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.counters: SparkCounters | None = None
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str, count_spark: bool = False):
        """Record one span; with ``count_spark`` also the Spark jobs and
        stages the enclosed call ran."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        mark = self.counters.mark() if count_spark and self.counters else None
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if mark is not None:
                rec["spark"] = self.counters.since(mark)

    def wrap(self, module, attr: str, layer: str, sink=None, count_spark=False):
        """Replace ``module.attr`` by a wrapper that records a span when
        tracing and passes each result to ``sink``; ``restore`` undoes it."""
        fn = getattr(module, attr)
        name = f"{fn.__module__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer, count_spark):
                out = fn(*args, **kwargs)
            if sink is not None:
                sink(out)
            return out

        self._patches.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def restore(self) -> None:
        while self._patches:
            module, attr, fn = self._patches.pop()
            setattr(module, attr, fn)

    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span minus the time its children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + (
                s["end"] - s["start"] - child[s["id"]]
            )
        return out


class SparkCounters:
    """Jobs and stages run between two points, from the status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        # py4j cannot fill in Scala default arguments: pass all five
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._next_job = 0
        self.mark()

    def _jobs_from(self, first: int) -> list:
        """Jobs with ids from ``first`` on; job ids are dense."""
        jobs = []
        while True:
            try:
                jobs.append(self._store.job(first + len(jobs)))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return jobs

    def mark(self) -> int:
        """The id the next job will get."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._next_job += len(self._jobs_from(self._next_job))
        return self._next_job

    def since(self, mark: int) -> dict:
        """Totals over the jobs started after ``mark`` and their stages.
        Read right after the call, before the store evicts them."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._jobs_from(mark)
        out = {
            "jobs": len(jobs),
            "job_s": 0.0,
            "stages": 0,
            "tasks": 0,
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
        }
        stage_ids = set()
        for j in jobs:
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined() and end.isDefined():
                out["job_s"] += (end.get().getTime() - sub.get().getTime()) / 1e3
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.length()))
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
            for i in range(attempts.length()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                out["executor_run_s"] += s.executorRunTime() / 1e3
                out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                out["shuffle_read_bytes"] += s.shuffleReadBytes()
                out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


class StreamProgress(StreamingQueryListener):
    """Micro-batch progress of every streaming query, for the traced run."""

    def __init__(self):
        self._lock = threading.Lock()
        self._idle = threading.Condition(self._lock)
        self.started = 0
        self.terminated = 0
        self.batches: list = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.batches.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._idle:
            self.terminated += 1
            self._idle.notify_all()

    def take(self, timeout: float = 10.0) -> list:
        """Wait until every started query has reported its end, then
        return and clear the batches seen since the last call."""
        with self._idle:
            self._idle.wait_for(lambda: self.terminated >= self.started, timeout)
            out, self.batches = self.batches, []
        return out


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, out = _children(pid), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU seconds used so far by this process and its descendants,
    including their reaped children. Time the hypervisor stole from the
    host's CPUs is not in it."""
    me = os.getpid()
    total = 0
    for pid in [me] + descendants(me):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def host_cpu() -> list[int]:
    """The host's aggregate CPU counters from /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Shares of CPU time between two ``host_cpu`` readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: d[i] / total for i, n in enumerate(names)}


def peak_rss_mb() -> dict[str, float]:
    """High-water RSS in MB of this process, the JVM (its child), and
    the Python workers (the JVM's descendants), and their sum."""
    me = os.getpid()
    out = {"driver": _hwm_kb(me) / 1024.0, "jvm": 0.0, "workers": 0.0}
    for child in _children(me):
        out["jvm"] += _hwm_kb(child) / 1024.0
        out["workers"] += sum(_hwm_kb(p) for p in descendants(child)) / 1024.0
    out["total"] = out["driver"] + out["jvm"] + out["workers"]
    return out
