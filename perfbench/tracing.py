"""Per-layer tracing for the benchmark, taken from outside the program.

Four probes, none of which changes a session conf:

- function wrappers around the layers' public functions (installed
  before the query registry is imported, because the ``queries*``
  modules bind some operators at import time);
- the Spark status store (the data behind the UI REST API, which the
  shipped session keeps even with ``spark.ui.enabled=false``) for
  jobs, stages, tasks, shuffle bytes and spill;
- ``queryExecution().tracker().phases()`` for Catalyst analysis,
  optimization and planning;
- a ``StreamingQueryListener`` for the per-trigger duration split.

``PassTrace`` combines them into the per-layer metrics of one pass.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time
from collections import defaultdict

# (metric prefix, module, function, name of its round-count argument)
WRAPPED = (
    ("confluent.call", "spark_extensions_spark.confluent.avro", "to_confluent_avro", None),
    ("confluent.call", "spark_extensions_spark.confluent.avro", "from_confluent_avro", None),
    ("incremental.apply_cdc_batch", "spark_extensions_spark.operators.incremental", "apply_cdc_batch", None),
    ("incremental.read_cdc_state", "spark_extensions_spark.operators.incremental", "read_cdc_state", None),
    ("sketches.bloom", "spark_extensions_spark.operators.sketches", "bloom_semi_join", None),
    ("graph.pagerank", "spark_extensions_spark.operators.graph", "pagerank", "iterations"),
)
GRAPH_OPS = ("graph.pagerank",)

# StreamingQueryProgress.durationMs keys, by metric name
STREAMING_DURATIONS = {
    "trigger_ms": "triggerExecution",
    "add_batch_ms": "addBatch",
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}

MIB = 1024.0 * 1024.0


class Spans:
    """Wall time and call count per wrapped layer, recorded only while
    ``active``; nested calls into the same layer count once."""

    def __init__(self) -> None:
        self.active = False
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.rounds: dict[str, int] = defaultdict(int)
        self._depth: dict[str, int] = defaultdict(int)

    def reset(self) -> None:
        self.seconds.clear()
        self.calls.clear()
        self.rounds.clear()

    def wrap(self, metric: str, fn, rounds_arg: str | None):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active or self._depth[metric]:
                return fn(*args, **kwargs)
            if rounds_arg is not None:
                bound = sig.bind(*args, **kwargs)
                bound.apply_defaults()
                self.rounds[metric] += int(bound.arguments[rounds_arg])
            self._depth[metric] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth[metric] -= 1
                self.seconds[metric] += time.perf_counter() - t0
                self.calls[metric] += 1

        return traced

    def install(self) -> None:
        """Wrap every function in ``WRAPPED`` and rebind every module-level
        reference to it inside the package, so re-exports (``confluent``'s
        ``__init__``) and later ``from … import`` bindings see the wrapper."""
        done: dict[int, object] = {}
        for metric, mod_name, fn_name, rounds_arg in WRAPPED:
            fn = getattr(importlib.import_module(mod_name), fn_name)
            done[id(fn)] = self.wrap(metric, fn, rounds_arg)
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("spark_extensions_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in done and not attr.startswith("__"):
                    setattr(mod, attr, done[id(value)])


def catalyst_phases(df) -> dict[str, float]:
    """Force the DataFrame's physical plan and read its phase timings (ms)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total / 1000.0


class StatusStore:
    """Reads finished jobs and stages from the session's status store.

    Jobs of every job group are read: streaming micro-batch jobs run in
    their query's group, and the jobs of ``foreachBatch`` code too."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()

    def _newest_first(self):
        """The store's jobs, newest (highest id) first, as it lists them."""
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            yield it.next()

    def last_job_id(self) -> int:
        return next((j.jobId() for j in self._newest_first()), -1)

    def jobs_after(self, job_id: int) -> dict:
        """Totals over the jobs with an id above ``job_id``."""
        intervals, stage_ids = [], set()
        for j in self._newest_first():
            if j.jobId() <= job_id:
                break
            a, b = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if a is not None and b is not None:
                intervals.append((a, b))
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        out = dict(jobs=len(intervals), stages=0, tasks=0, shuffle_read=0,
                   shuffle_write=0, spill=0)
        for sid in stage_ids:
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_read"] += s.shuffleReadBytes()
            out["shuffle_write"] += s.shuffleWriteBytes()
            out["spill"] += s.diskBytesSpilled()
        out["job_s"] = union_seconds(intervals)
        return out


def progress_listener():
    """A listener collecting every micro-batch's ``durationMs`` split;
    ``events`` is appended from a callback thread."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            with self.lock:
                self.events.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def drain(self, quiet_s: float = 0.3, limit_s: float = 3.0) -> list[dict]:
            """Wait until no event arrived for ``quiet_s`` (events are
            delivered asynchronously), then return and clear them."""
            deadline = time.monotonic() + limit_s
            seen = -1
            while time.monotonic() < deadline:
                with self.lock:
                    n = len(self.events)
                if n == seen:
                    break
                seen = n
                time.sleep(quiet_s)
            with self.lock:
                events, self.events = self.events, []
            return events

    return Progress()


def filekafka_log(tmp_dir: str) -> tuple[int, int]:
    """(segment files, bytes) under the filekafka topic roots in ``tmp_dir``."""
    segments = size = 0
    for entry in os.scandir(tmp_dir):
        if not (entry.is_dir() and entry.name.startswith("filekafka_")):
            continue
        for dirpath, _, files in os.walk(entry.path):
            for f in files:
                if f.endswith(".parquet"):
                    segments += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return segments, size


class PassTrace:
    """Per-layer metrics of one traced pass over a workload's queries."""

    def __init__(self, spark, spans: Spans, listener) -> None:
        self.spark = spark
        self.spans = spans
        self.listener = listener
        self.store = StatusStore(spark)

    def begin_pass(self) -> None:
        self.spans.reset()
        self.listener.drain(quiet_s=0.0, limit_s=0.0)
        self.spark.streams.addListener(self.listener)
        self.first_job = self.store.last_job_id()
        self.graph_s = defaultdict(float)
        self.graph_jobs = 0
        self.spans.active = True

    def begin_query(self) -> None:
        self._q_calls = {op: self.spans.calls[op] for op in GRAPH_OPS}
        self._q_job = self.store.last_job_id()
        self._q_t0 = time.perf_counter()

    def end_query(self) -> None:
        wall = time.perf_counter() - self._q_t0
        # a graph operator's last rounds run lazily in the sink, so the
        # operator is charged the whole query: build plus sink
        called = [op for op in GRAPH_OPS if self.spans.calls[op] > self._q_calls[op]]
        for op in called:
            self.graph_s[op] += wall
        if called:
            self.graph_jobs += self.store.last_job_id() - self._q_job

    def end_pass(self, wall_s: float, dfs: list, tmp_dir: str) -> dict[str, float]:
        """Metrics of the pass that took ``wall_s`` and whose queries
        returned ``dfs``; call before the pass's files are removed."""
        self.spans.active = False
        spans = self.spans
        jobs = self.store.jobs_after(self.first_job)
        m: dict[str, float] = {
            "spark.jobs": jobs["jobs"],
            "spark.stages": jobs["stages"],
            "spark.tasks": jobs["tasks"],
            "spark.job_s": jobs["job_s"],
            "spark.shuffle_read_mb": jobs["shuffle_read"] / MIB,
            "spark.shuffle_write_mb": jobs["shuffle_write"] / MIB,
            "spark.spill_mb": jobs["spill"] / MIB,
            "driver.gap_s": wall_s - jobs["job_s"],
            "driver.gap_frac": (wall_s - jobs["job_s"]) / wall_s,
        }
        phases = defaultdict(float)
        for df in dfs:
            for phase, ms in catalyst_phases(df).items():
                phases[phase] += ms
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_ms"] = phases[phase]

        self.spark.streams.removeListener(self.listener)
        events = self.listener.drain()
        m["streaming.batches"] = len(events)
        for name, key in STREAMING_DURATIONS.items():
            m[f"streaming.{name}"] = float(sum(e.get(key, 0) for e in events))
        trig = m["streaming.trigger_ms"]
        m["streaming.add_batch_frac"] = m["streaming.add_batch_ms"] / trig if trig else 0.0

        for metric in ("confluent.call", "incremental.apply_cdc_batch",
                       "incremental.read_cdc_state", "sketches.bloom"):
            m[f"{metric}_s"] = spans.seconds[metric]
        m["incremental.apply_cdc_batch_calls"] = spans.calls["incremental.apply_cdc_batch"]
        segments, log_bytes = filekafka_log(tmp_dir)
        m["filekafka.segments"] = segments
        m["filekafka.log_mb"] = log_bytes / MIB

        for op in GRAPH_OPS:
            m[f"{op}_s"] = self.graph_s[op]
        rounds = sum(spans.rounds[op] for op in GRAPH_OPS)
        m["graph.jobs"] = self.graph_jobs
        m["graph.jobs_per_round"] = self.graph_jobs / rounds if rounds else 0.0
        return m
