"""Tracing for the traced run: spans around calls into the engine's
layers, Catalyst phases from a ``QueryExecutionListener``, executor
metrics from Spark's status store and micro-batch phases from a
``StreamingQueryListener``.

Everything here observes the engine from outside. The only functions it
replaces are module attributes the engine looks up at call time
(``sources.io.read_table`` and the ``operators.serving`` helpers); every
replacement is undone when the ``Tracer`` context exits, even on error.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import statistics
import sys
import time
from collections import defaultdict
from typing import Any, Callable, NamedTuple

from metrics import hd_quantile

ENGINE = "nyc_yellow_taxi_trip_data_pipeline_spark"
STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ms": "executorCpuTime",  # nanoseconds in the store
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "input_records": "inputRecords",
    "tasks": "numCompleteTasks",
}


class Job(NamedTuple):
    job_id: int
    group: str | None
    stage_ids: tuple[int, ...]


class OpWindow(NamedTuple):
    """One timed op: its job group and the job ids ``[first, end)``
    the scheduler handed out while it ran."""

    group: str
    first_job: int
    end_job: int


def attribute_jobs(jobs: list[Job], ops: list[OpWindow]) -> dict[str, list[Job]]:
    """Assign each job to the op that caused it.

    A job tagged with an op's job group belongs to that op wherever its
    id falls. A job with no benchmark group -- a streaming micro-batch
    runs under its query's own run id -- belongs to the op whose id
    window contains it. Jobs of no op (set-up, the output check) are
    dropped."""
    by_group = {op.group: op for op in ops}
    out: dict[str, list[Job]] = {op.group: [] for op in ops}
    for job in jobs:
        if job.group in by_group:
            out[job.group].append(job)
            continue
        for op in ops:
            if op.first_job <= job.job_id < op.end_job:
                out[op.group].append(job)
                break
    return out


class StatusStore:
    """Reads job and stage data out of the live application's status
    store. Call ``drain`` first so every listener event has landed."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def job(self, job_id: int) -> Job | None:
        try:
            data = self._store.job(job_id)
        except Exception:  # noqa: BLE001 -- py4j raises the JVM's NoSuchElementException
            return None
        group = data.jobGroup()
        ids = data.stageIds()
        return Job(job_id, group.get() if group.isDefined() else None,
                   tuple(int(ids.apply(i)) for i in range(ids.size())))

    def jobs(self, first: int, end: int) -> list[Job]:
        return [j for j in map(self.job, range(first, end)) if j is not None]

    def stage_totals(self, jobs: list[Job]) -> dict[str, float]:
        """Sum executor metrics over the stages these jobs ran. Stages a
        job skipped (shuffle output reused) and stages shared between
        jobs count once."""
        totals: dict[str, float] = defaultdict(float)
        seen: set[int] = set()
        for job in jobs:
            totals["jobs"] += 1
            for sid in job.stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 -- stage never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                totals["stages"] += 1
                for key, getter in STAGE_FIELDS.items():
                    totals[key] += float(getattr(st, getter)())
        totals["cpu_ms"] /= 1e6
        return dict(totals)


class Span(NamedTuple):
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float


class Tracer(contextlib.AbstractContextManager):
    """Spans and layer counters for one traced loop.

    ``span(name)`` opens a span; spans opened inside it name it as parent.
    On entry the tracer wraps the engine's layer functions, registers a
    Catalyst listener and a streaming listener; on exit it restores and
    unregisters all of them."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.catalyst_ms: dict[str, float] = defaultdict(float)
        self.batches: list[dict[str, Any]] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self._t0 = time.perf_counter()
        self._undo: list[Callable[[], None]] = []

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        span_id = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(Span(span_id, parent, name, start - self._t0,
                                   time.perf_counter() - self._t0))

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(s.name == name for s in self.spans)

    def _wrap(self, module, attr: str, span_name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._undo.append(lambda: setattr(module, attr, original))

    # -- lifecycle -----------------------------------------------------
    def __enter__(self):
        try:
            self._install()
        except BaseException:
            self.__exit__(*sys.exc_info())
            raise
        return self

    def _install(self) -> None:
        from nyc_yellow_taxi_trip_data_pipeline_spark import plans  # noqa: F401 -- binds read_table
        from nyc_yellow_taxi_trip_data_pipeline_spark.operators import serving
        from nyc_yellow_taxi_trip_data_pipeline_spark.sources import io

        # read_table is imported by name into the plan modules, so the
        # binding is replaced wherever it points at the original.
        original = io.read_table
        for name, module in list(sys.modules.items()):
            if name.startswith(ENGINE) and getattr(module, "read_table", None) is original:
                self._wrap(module, "read_table", "io.read_table")
        for attr in ("preprocess", "predict", "predict_csv"):
            self._wrap(serving, attr, f"serve.{attr}")

        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        qel = _CatalystListener(self.catalyst_ms)
        manager = self.spark._jsparkSession.listenerManager()
        manager.register(qel)
        self._undo.append(lambda: manager.unregister(qel))
        sql = _streaming_listener(self.batches)
        self.spark.streams.addListener(sql)
        self._undo.append(lambda: self.spark.streams.removeListener(sql))

    def __exit__(self, *exc):
        while self._undo:
            self._undo.pop()()
        return False


class _CatalystListener:
    """py4j implementation of ``QueryExecutionListener``: adds the phase
    times of every executed ``QueryExecution`` -- the write or collect
    itself, not the DataFrame's own lazily analysed plan -- to a dict."""

    def __init__(self, sink: dict[str, float]):
        self._sink = sink

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 -- JVM interface
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            self._sink[str(kv._1())] += float(kv._2().durationMs())

    def onFailure(self, func_name, qe, exception):  # noqa: N802 -- JVM interface
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _streaming_listener(batches: list[dict[str, Any]]):
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):  # noqa: N802 -- pyspark interface
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            ops = p.stateOperators or []
            batches.append({
                **{k: float(v) for k, v in (p.durationMs or {}).items()},
                "state_commit_ms": float(sum(o.commitTimeMs for o in ops)),
                "state_rows": float(sum(o.numRowsTotal for o in ops)),
            })

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return Listener()


def stream_metrics(batches: list[dict[str, Any]], ops: int) -> dict[str, float]:
    """Per-micro-batch means of the progress phases, batch-latency
    percentiles and per-op batch counts."""
    out = {"stream.batches": len(batches) / max(ops, 1)}
    phases = {
        "stream.trigger_ms": "triggerExecution",
        "stream.add_batch_ms": "addBatch",
        "stream.wal_commit_ms": "walCommit",
        "stream.commit_offsets_ms": "commitOffsets",
        "stream.query_planning_ms": "queryPlanning",
        "stream.latest_offset_ms": "latestOffset",
        "stream.get_batch_ms": "getBatch",
        "stream.state_commit_ms": "state_commit_ms",
        "stream.state_rows": "state_rows",
    }
    for name, key in phases.items():
        out[name] = statistics.fmean(b.get(key, 0.0) for b in batches) if batches else 0.0
    trig = [b.get("triggerExecution", 0.0) for b in batches]
    out["stream.batch_p50_ms"] = hd_quantile(trig, 0.5) if trig else 0.0
    out["stream.batch_p90_ms"] = hd_quantile(trig, 0.9) if trig else 0.0
    return out
