"""The one timing discipline shared by bench.py and the profiling tools.

- The session is ``get_spark``'s, whose one width rule (shuffle
  partitions = the session's cores) holds for the bench, the profilers,
  the tests and the benchmark alike, so a profile measures the same
  plan the bench times.
- :func:`warm_up` absorbs JVM/codegen, data-page, Python-worker and
  streaming start-up before anything is timed.
- :func:`time_noop` builds a query and sinks it to ``noop``; wall seconds.
- :func:`measure` does the same and reads back every Spark job the run
  started from the JVM status store, which the session keeps with the
  UI off — no UI server or REST client is involved.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

from perfbench.tracing import StatusStore, _opt_ms, union_seconds
from spark_extensions_spark.session import ALL_TABLES, load_tables, scratch_dir


def worker_pyspark(spark) -> str:
    """Where the session's Python workers import pyspark from:
    ``"installed"`` (a package directory, with bytecode) or ``"archive"``
    (Spark's ``pyspark.zip``, compiled anew by each fresh interpreter)."""

    def where(_):
        import os

        import pyspark

        yield os.path.isfile(pyspark.__file__)

    rdd = spark.sparkContext.parallelize([0], 1).mapPartitions(where)
    return "installed" if rdd.first() else "archive"


def warm_up(spark, sf_dir: str) -> None:
    # warmup: absorb JVM/codegen startup, executor package shipping
    # (addPyFile zip), parquet footer reads AND the data pages
    # themselves before timing queries — count() alone is satisfied
    # from footer statistics, so without a full materialization the
    # first queries to touch each table pay cold page-cache disk reads
    # whenever the OS evicted the fixtures (observed as a spurious
    # 2-3x on the first-in-order queries after an unrelated heavy job)
    spark.range(1000).selectExpr("sum(id)").collect()
    tables = load_tables(spark, sf_dir, *ALL_TABLES)
    for t in tables.values():
        # noop write reads every data page once; also initializes the
        # noop commit machinery before the first timed query
        t.write.format("noop").mode("overwrite").save()
    # spin up the Python/Arrow UDF worker pool once: the first
    # pandas-UDF query otherwise pays worker-fork + Arrow codec init
    # for every core (observed as a spurious 2-3x on whichever
    # pandas query runs first in registry order)
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    cores = spark.sparkContext.defaultParallelism
    spark.range(cores * 4).repartition(cores).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    # and the streaming machinery (checkpoint manager, state store
    # provider classes) — first streaming query pays it otherwise
    from spark_extensions_spark.streaming import (
        read_stream_parquet,
        run_available_now,
    )

    warm_dir = scratch_dir("bench_warm_")
    spark.range(64).select(
        (F.col("id") % 4).alias("k"), F.col("id").alias("v")
    ).write.mode("overwrite").parquet(warm_dir)
    run_available_now(
        read_stream_parquet(spark, warm_dir)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n")),
        output_mode="complete",
        state_partitions=4,
    )


def time_noop(build) -> float:
    """Wall seconds to build a DataFrame with ``build()`` and sink it to
    ``noop``: full execution, no driver collect. The build is timed too,
    because operators run eager jobs (counts, checkpoints) while they
    build the plan."""
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class JobStore(StatusStore):
    """Per-job rows read from the session's status store."""

    def stage(self, stage_id: int):
        """The stage's last attempt, or ``None`` once the store dropped it:
        past ``spark.ui.retainedStages`` it evicts the stages with the
        oldest completion time, which can include the early stages of a
        job that just ended."""
        try:
            return self._store.lastStageAttempt(stage_id)
        except Py4JJavaError as e:
            name = e.java_exception.getClass().getName()
            if name != "java.util.NoSuchElementException":
                raise
            return None

    def job_rows(self, job_id: int) -> list[dict]:
        """One row per job with an id above ``job_id``, oldest first.
        Skipped stages count nowhere; ``missing`` counts the stages the
        store no longer holds, skipped or not, whose bytes are therefore
        not in the row."""
        rows = []
        for j in self._newest_first():
            if j.jobId() <= job_id:
                break
            a, b = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            desc = j.description()
            row = dict(
                span=None if None in (a, b) else (a, b),
                seconds=0.0 if None in (a, b) else (b - a) / 1000.0,
                tasks=j.numCompletedTasks(),
                desc=desc.get() if desc.isDefined() else j.name(),
                stages=0, shuffle_read=0, shuffle_write=0,
                memory_spill=0, disk_spill=0, missing=0,
            )
            ids = j.stageIds()
            for sid in (ids.apply(k) for k in range(ids.size())):
                s = self.stage(sid)
                if s is None:
                    row["missing"] += 1
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                row["stages"] += 1
                row["shuffle_read"] += s.shuffleReadBytes()
                row["shuffle_write"] += s.shuffleWriteBytes()
                row["memory_spill"] += s.memoryBytesSpilled()
                row["disk_spill"] += s.diskBytesSpilled()
            rows.append(row)
        return rows[::-1]

    def peak_heap_bytes(self) -> int:
        """Largest JVM heap any executor (in local mode: the driver)
        reported."""
        peak = 0
        it = self._store.executorList(False).iterator()
        while it.hasNext():
            metrics = it.next().peakMemoryMetrics()
            if metrics.isDefined():
                peak = max(peak, metrics.get().getMetricValue("JVMHeapMemory"))
        return peak


@dataclass
class Run:
    wall: float
    jobs: list[dict]

    @property
    def job_s(self) -> float:
        """Seconds in which at least one of the run's jobs was running."""
        return union_seconds([j["span"] for j in self.jobs if j["span"]])

    @property
    def gap_s(self) -> float:
        """Driver-side time outside every job: Python, commits, collects."""
        return self.wall - self.job_s

    def total(self, field: str) -> int:
        return sum(j[field] for j in self.jobs)


def measure(spark, build) -> Run:
    """:func:`time_noop` plus the jobs the run started."""
    store = JobStore(spark)
    first = store.last_job_id()
    wall = time_noop(build)
    return Run(wall, store.job_rows(first))
