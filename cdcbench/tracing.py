"""Tracing for the benchmark's traced run (``--trace 1``).

Two sources, both read from the benchmark's own files so the engine stays
untouched:

- ``Tracer.install`` wraps public methods of the engine's layers
  (``LakeTable``, ``LocalFS``) and adds each call's count and inclusive wall
  time to the operation in flight (a batch, fold, query or lookup).
- ``SparkProbe`` reads Spark's own status store (executor summary, job
  list), codegen compile time and JVM collection time before and after each
  operation, after draining the listener bus, so the deltas belong to that
  operation.
"""

from __future__ import annotations

import functools
import inspect
import time
from dataclasses import dataclass, field


@dataclass
class OpRecord:
    kind: str
    wall: float = 0.0
    calls: dict = field(default_factory=dict)  # layer.func -> count
    secs: dict = field(default_factory=dict)   # layer.func -> inclusive s
    spark: dict = field(default_factory=dict)  # status-store deltas
    facts: dict = field(default_factory=dict)  # table facts read after the op

    def n(self, name: str) -> int:
        return self.calls.get(name, 0)

    def s(self, name: str) -> float:
        return self.secs.get(name, 0.0)

    def layer(self, prefix: str) -> tuple[int, float]:
        keys = [k for k in self.calls if k.startswith(prefix)]
        return (sum(self.calls[k] for k in keys),
                sum(self.secs[k] for k in keys))


class SparkProbe:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._tracker = sc._jsc.statusTracker()
        self._codegen = (spark._jvm.org.apache.spark.sql.catalyst
                         .expressions.codegen.CodeGenerator)
        self._gcs = list(spark._jvm.java.lang.management.ManagementFactory
                         .getGarbageCollectorMXBeans())

    def _max_job(self) -> int:
        ids = self._tracker.getJobIdsForGroup(None)
        return max(ids) if len(ids) else -1

    def read(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        ex = self._store.executorList(True)
        task_ms = shuffle = tasks = 0
        for i in range(ex.size()):
            e = ex.apply(i)
            task_ms += e.totalDuration()
            shuffle += e.totalShuffleWrite()
            tasks += e.completedTasks()
        # whole-JVM collection time: in local mode the Spark driver's own
        # garbage shares the heap with the tasks'
        gc_ms = sum(g.getCollectionTime() for g in self._gcs)
        return {"task_ms": task_ms, "gc_ms": gc_ms, "shuffle_bytes": shuffle,
                "tasks": tasks, "compile_ms": self._codegen.compileTime() / 1e6,
                "max_job": self._max_job()}

    def job_intervals(self, after_job: int, upto_job: int) -> list[tuple[float, float]]:
        """(submitted, completed) wall-clock seconds of jobs in the id range."""
        out = []
        for j in range(after_job + 1, upto_job + 1):
            jd = self._store.job(j)
            sub, end = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and end.isDefined():
                out.append((sub.get().getTime() / 1e3, end.get().getTime() / 1e3))
        return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Tracer:
    def __init__(self, spark):
        self.probe = SparkProbe(spark)
        self.cur: OpRecord | None = None

    def _add(self, name: str, dt: float) -> None:
        op = self.cur
        if op is not None:
            op.calls[name] = op.calls.get(name, 0) + 1
            op.secs[name] = op.secs.get(name, 0.0) + dt

    def _wrap(self, cls, attr: str, name: str) -> None:
        fn = getattr(cls, attr)
        add = self._add
        if inspect.isgeneratorfunction(fn):
            # time only the generator's own steps, not the caller's loop body
            @functools.wraps(fn)
            def gen(*a, **k):
                it, spent = fn(*a, **k), 0.0
                try:
                    while True:
                        t = time.perf_counter()
                        try:
                            v = next(it)
                        except StopIteration:
                            return
                        finally:
                            spent += time.perf_counter() - t
                        yield v
                finally:
                    add(name, spent)
            setattr(cls, attr, gen)
            return

        @functools.wraps(fn)
        def timed(*a, **k):
            t = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                add(name, time.perf_counter() - t)
        setattr(cls, attr, timed)

    def install(self) -> None:
        from tenzir_spark.lake.fs import LocalFS
        from tenzir_spark.lake.table import LakeTable

        for attr in ("delta_commit", "commit", "snapshot", "compact",
                     "bucket_of", "read", "lookup"):
            self._wrap(LakeTable, attr, f"table.{attr}")
        for attr, fn in list(vars(LocalFS).items()):
            if callable(fn) and not attr.startswith("_"):
                self._wrap(LocalFS, attr, f"fs.{attr}")

    def op(self, kind: str) -> "_OpScope":
        return _OpScope(self, kind)


class _OpScope:
    """Times one operation and attributes wrapped calls and Spark deltas."""

    def __init__(self, tracer: Tracer, kind: str):
        self.tracer = tracer
        self.rec = OpRecord(kind)

    def __enter__(self) -> OpRecord:
        self.before = self.tracer.probe.read()
        self.tracer.cur = self.rec
        self.t0 = time.time()
        self.p0 = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec.wall = time.perf_counter() - self.p0
        t1 = time.time()
        self.tracer.cur = None
        after = self.tracer.probe.read()
        d = {k: after[k] - self.before[k] for k in after if k != "max_job"}
        d["jobs"] = after["max_job"] - self.before["max_job"]
        jobs = self.tracer.probe.job_intervals(self.before["max_job"],
                                               after["max_job"])
        d["nonjob_s"] = self.rec.wall - covered(jobs, self.t0, t1)
        self.rec.spark = d
