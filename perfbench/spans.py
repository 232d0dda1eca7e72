"""Per-layer tracing for the traced benchmark run.

A span is named ``<module>.<call>`` and wraps one call into a layer of the
program, from the benchmark's own files. While a span is open its jobs run
under its own Spark job group. Its counters are the difference in Spark's
status store between the span's boundaries: every job and stage id that
appears while the span is the innermost open one is attributed to it, so a
parent's counters exclude its children's (self counters), while ``wall_s``
includes them and ``self_s`` is ``wall_s`` minus the children's time.
Stage and job ids are issued in sequence, so the new ones since the last
boundary are read one by one until the store has no more; the status store
works with ``spark.ui.enabled=false``.

Streaming work runs on the stream's own thread, under its own job group,
but its stages still fall between the span's boundaries. Micro-batch
progress comes from a ``StreamingQueryListener`` registered for the run.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import threading
import time

from host import descendants, python_io_mb

#: Counters every span that runs Spark jobs carries.
BASE_COUNTERS = (
    "wall_s", "self_s", "jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_mb", "spill_mb",
)

#: Spans in report order, with the counters each carries. The session start
#: runs no job, so it has its wall time only.
SPANS = {
    "session.start": ("wall_s",),
    "session.warmup": BASE_COUNTERS,
    "sources.read": BASE_COUNTERS + ("input_mb",),
    "workloads.w1.fit": BASE_COUNTERS,
    "workloads.w1.score": BASE_COUNTERS,
    "workloads.w2.dict": BASE_COUNTERS,
    "workloads.w2.fit": BASE_COUNTERS + ("stages_skipped_frac",),
    "workloads.w2.recommend": BASE_COUNTERS,
    "plans.build": BASE_COUNTERS + ("core_busy_frac",),
    "plans.exec": BASE_COUNTERS + ("core_busy_frac", "stages_skipped_frac", "python_mb"),
    "streaming.run": BASE_COUNTERS + (
        "batches", "trigger_p50_ms", "add_batch_ms", "commit_ms", "state_rows",
        "state_mb", "python_mb",
    ),
}

#: Whole-pass figures of the traced run: its own pass time, the untraced
#: pass time measured alternately in the same run, and their relative
#: difference (the tracing overhead).
TRACE_TOTALS = ("trace.job_s", "trace.untraced_job_s", "trace.overhead_frac")

UNITS = {
    "wall_s": "s", "self_s": "s", "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s",
    "jobs": "count", "tasks": "count", "batches": "count", "state_rows": "count",
    "shuffle_mb": "MB", "spill_mb": "MB", "input_mb": "MB", "state_mb": "MB",
    "python_mb": "MB", "core_busy_frac": "frac", "stages_skipped_frac": "frac",
    "trigger_p50_ms": "ms", "add_batch_ms": "ms", "commit_ms": "ms",
    "job_s": "s", "untraced_job_s": "s", "overhead_frac": "frac",
}


def layer_metrics() -> list[tuple[str, str]]:
    """``(name, unit)`` of every per-layer metric, in report order."""
    out = [(f"{span}.{c}", UNITS[c]) for span, counters in SPANS.items() for c in counters]
    return out + [(n, UNITS[n.split(".", 1)[1]]) for n in TRACE_TOTALS]


# Raw per-span sums; the reported counters are derived in ``_counters``.
_RAW = (
    "jobs", "tasks", "task_run_ms", "task_cpu_ns", "gc_ms", "shuffle_b", "spill_b",
    "input_b", "stages", "stages_skipped", "python_mb",
)


class StatusCollector:
    """Reads the jobs and stages that appeared in the status store since
    the previous call."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        jvm = sc._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._json.registerModule(scala_module.__getattr__("MODULE$"))
        self._next_job = 0
        self._next_stage = 0
        self.drain()  # start from the current end of the store

    def _read(self, getter, idx: int) -> dict | None:
        from py4j.protocol import Py4JJavaError

        try:
            return json.loads(self._json.writeValueAsString(getter(idx)))
        except Py4JJavaError as e:  # past the last id: NoSuchElementException
            if "NoSuchElementException" in str(e):
                return None
            raise

    def drain(self) -> dict:
        """Wait for the listener bus, then sum the new jobs and stages."""
        self._ssc.listenerBus().waitUntilEmpty()
        raw = dict.fromkeys(_RAW, 0)
        while (job := self._read(self._store.job, self._next_job)) is not None:
            self._next_job += 1
            raw["jobs"] += 1
            raw["stages"] += len(job["stageIds"])
            raw["stages_skipped"] += job["numSkippedStages"]
        while (st := self._read(self._store.lastStageAttempt, self._next_stage)) is not None:
            self._next_stage += 1
            raw["tasks"] += st["numCompleteTasks"]
            raw["task_run_ms"] += st["executorRunTime"]
            raw["task_cpu_ns"] += st["executorCpuTime"]
            raw["gc_ms"] += st["jvmGcTime"]
            raw["shuffle_b"] += st["shuffleReadBytes"] + st["shuffleWriteBytes"]
            raw["spill_b"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            raw["input_b"] += st["inputBytes"]
        return raw


class ProgressListener:
    """Collects micro-batch progress of every streaming query in the
    session. Built lazily so importing this module needs no Spark."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []
        counts = {"started": 0, "terminated": 0}
        lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with lock:
                    counts["started"] += 1

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                with lock:
                    events.append({
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                        "add_batch_ms": (p.durationMs or {}).get("addBatch", 0),
                        "commit_ms": sum(o.commitTimeMs for o in ops),
                        "state_rows": sum(o.numRowsTotal for o in ops),
                        "state_b": sum(o.memoryUsedBytes for o in ops),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with lock:
                    counts["terminated"] += 1

        self._spark = spark
        self._listener = _Listener()
        self._events, self._counts, self._lock = events, counts, lock
        spark.streams.addListener(self._listener)

    def mark(self) -> int:
        with self._lock:
            return len(self._events)

    def since(self, mark: int, timeout: float = 10.0) -> list[dict]:
        """Progress events after ``mark``, once every started query has
        reported termination. Start events are delivered before
        ``start()`` returns; progress and termination arrive later."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self._counts["terminated"] >= self._counts["started"]:
                    return list(self._events[mark:])
            time.sleep(0.01)
        raise TimeoutError("streaming listener did not see every query terminate")

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


class Span:
    def __init__(self, name: str):
        self.name = name
        self.raw = dict.fromkeys(_RAW, 0)
        self.wall = 0.0
        self.child_time = 0.0
        self.stream: list[dict] | None = None


class Tracer:
    """Opens spans around calls and keeps the finished ones in memory."""

    def __init__(self, spark, listener: ProgressListener | None = None):
        self._sc = spark.sparkContext
        self._collector = StatusCollector(spark)
        self._listener = listener
        self._stack: list[Span] = []
        self.finished: list[Span] = []
        self.cores = self._sc.defaultParallelism
        self._seq = 0
        self._workers_io = self._python_io()

    def _python_io(self) -> float:
        return python_io_mb(descendants(os.getpid()))

    def _flush(self) -> None:
        """Attribute everything since the last boundary to the innermost
        open span."""
        raw = self._collector.drain()
        io = self._python_io()
        raw["python_mb"] = max(io - self._workers_io, 0.0)
        self._workers_io = io
        if self._stack:
            top = self._stack[-1].raw
            for k, v in raw.items():
                top[k] += v

    @contextlib.contextmanager
    def span(self, name: str):
        t_enter = time.perf_counter()
        self._flush()
        span = Span(name)
        mark = self._listener.mark() if self._listener and name == "streaming.run" else None
        self._seq += 1
        self._sc.setJobGroup(f"{name}#{self._seq}", name)
        self._stack.append(span)
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.wall = time.perf_counter() - t0
            if mark is not None:
                span.stream = self._listener.since(mark)
            self._flush()
            self._stack.pop()
            if self._stack:
                parent = self._stack[-1]
                self._sc.setJobGroup(f"{parent.name}#{self._seq}", parent.name)
                parent.child_time += time.perf_counter() - t_enter
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.finished.append(span)

    def take(self) -> list[Span]:
        out, self.finished = self.finished, []
        return out


def _counters(wall: float, self_s: float, r: dict, streams: list[list[dict]] | None,
              cores: int) -> dict[str, float]:
    out = {
        "wall_s": wall,
        "self_s": self_s,
        "jobs": r["jobs"],
        "tasks": r["tasks"],
        "task_run_s": r["task_run_ms"] / 1e3,
        "task_cpu_s": r["task_cpu_ns"] / 1e9,
        "gc_s": r["gc_ms"] / 1e3,
        "shuffle_mb": r["shuffle_b"] / 1e6,
        "spill_mb": r["spill_b"] / 1e6,
        "input_mb": r["input_b"] / 1e6,
        "python_mb": r["python_mb"],
        "stages_skipped_frac": r["stages_skipped"] / r["stages"] if r["stages"] else 0.0,
        "core_busy_frac": r["task_run_ms"] / 1e3 / (self_s * cores) if self_s > 0 else 0.0,
    }
    if streams is not None:
        ev = [e for run in streams for e in run]
        last = [run[-1] for run in streams if run]  # state left by each query
        out.update({
            "batches": sum(e["rows"] > 0 for e in ev),  # no-data batches only move the watermark
            "trigger_p50_ms": statistics.median(e["trigger_ms"] for e in ev) if ev else 0.0,
            "add_batch_ms": sum(e["add_batch_ms"] for e in ev),
            "commit_ms": sum(e["commit_ms"] for e in ev),
            "state_rows": sum(e["state_rows"] for e in last),
            "state_mb": sum(e["state_b"] for e in last) / 1e6,
        })
    return out


def pass_totals(spans: list[Span], cores: int) -> dict[str, float]:
    """Counters of one pass, keyed ``<span>.<counter>``: a span that ran
    several times in the pass reports its sums (ratios and the trigger
    median are taken over the pooled sums)."""
    groups: dict[str, dict] = {}
    for s in spans:
        g = groups.setdefault(
            s.name, {"wall": 0.0, "self": 0.0, "raw": dict.fromkeys(_RAW, 0), "streams": None}
        )
        g["wall"] += s.wall
        g["self"] += max(s.wall - s.child_time, 0.0)
        for k in _RAW:
            g["raw"][k] += s.raw[k]
        if s.stream is not None:
            g["streams"] = (g["streams"] or []) + [s.stream]
    out: dict[str, float] = {}
    for name, g in groups.items():
        c = _counters(g["wall"], g["self"], g["raw"], g["streams"], cores)
        for k in SPANS[name]:
            out[f"{name}.{k}"] = c[k]
    return out


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: dict[str, tuple[object, str]]):
    """Wrap nested public functions in spans for the duration of the block.

    ``targets`` maps a span name to ``(module, attribute)`` of the function.
    Every loaded module of the program that imported that function under
    the same name gets the wrapper too, and all are restored on exit."""
    patched = []
    for span_name, (module, attr) in targets.items():
        original = getattr(module, attr)

        def wrapper(*a, __f=original, __n=span_name, **kw):
            with tracer.span(__n):
                return __f(*a, **kw)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("pyspark_mllib_twitter_spark") and getattr(mod, attr, None) is original:
                patched.append((mod, attr, original))
                setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, original in reversed(patched):
            setattr(mod, attr, original)
