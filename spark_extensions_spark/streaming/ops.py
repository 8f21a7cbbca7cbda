"""Streaming operator compositions over Structured Streaming built-ins.

Each operator is declarative (readStream → transform → writeStream), so
Catalyst plans the stateful physical operators (StateStore-backed
aggregations, dedup, joins) and the same code scales from local tests to
a 1000-executor cluster — state is partitioned by grouping key, and
watermarks bound state size (SURVEY.md §2.E "Streaming — watermark",
"Streaming — stateful").

Scale notes baked into the API:
- every stateful op REQUIRES a watermark (unbounded state is a 100 TB
  outage, not a convenience);
- ``run_available_now`` uses ``trigger(availableNow=True)`` for
  deterministic batch-equivalent replay (the test harness the reference
  lacks; SURVEY.md §5.2).
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from spark_extensions_spark.session import conf_override, scratch_dir


def read_stream_parquet(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (schema required by
    Structured Streaming; inferred from a batch peek when omitted)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_aggregate(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: list[Column],
    keys: list[str] | None = None,
    slide: str | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Tumbling (or sliding, when ``slide`` is set) event-time window
    aggregation with a watermark bounding state."""
    wm = stream.withWatermark(ts_col, watermark_delay)
    win = (
        F.window(ts_col, window_duration, slide)
        if slide
        else F.window(ts_col, window_duration)
    )
    grouped = wm.groupBy(win.alias("window"), *(keys or []))
    return _flatten_window(grouped.agg(*aggs))


def _flatten_window(out: DataFrame) -> DataFrame:
    """Replace the window struct with win_start/win_end columns."""
    rest = [c for c in out.columns if c != "window"]
    return out.select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        *rest,
    )


def session_aggregate(
    stream: DataFrame,
    ts_col: str,
    gap: str,
    aggs: list[Column],
    keys: list[str] | None = None,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Session-window aggregation (``F.session_window``): windows merge
    while events arrive within ``gap`` of each other."""
    wm = stream.withWatermark(ts_col, watermark_delay)
    grouped = wm.groupBy(
        F.session_window(ts_col, gap).alias("window"), *(keys or [])
    )
    return _flatten_window(grouped.agg(*aggs))


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    watermark_delay: str = "0 seconds",
    within_watermark: bool = False,
) -> DataFrame:
    """Streaming deduplication. With ``ts_col``, the watermark bounds the
    dedup state; ``within_watermark=True`` uses
    ``dropDuplicatesWithinWatermark`` (keys deduplicated only inside the
    watermark horizon — state guaranteed to expire)."""
    if ts_col is not None:
        stream = stream.withWatermark(ts_col, watermark_delay)
        if within_watermark:
            return stream.dropDuplicatesWithinWatermark(keys)
        return stream.dropDuplicates(keys + [ts_col])
    return stream.dropDuplicates(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    left_ts: str,
    right_ts: str,
    watermark_delay: str,
    time_bound: Column,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: both sides watermarked, join condition must
    include the event-time bound so Spark can expire buffered state."""
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    return lw.join(rw, on & time_bound, how)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def run_available_now(
    result: DataFrame,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
    state_partitions: int | None = None,
    state_store_provider: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion with
    ``trigger(availableNow=True)`` into an in-memory table; returns the
    materialized result as a batch DataFrame.

    Deterministic replay harness: all available input is processed, the
    query stops, and the memory sink snapshot equals the batch-twin
    result (used by both tests and the oracle-checked streaming queries).

    ``state_partitions`` temporarily overrides
    ``spark.sql.shuffle.partitions`` for the run. A stateful query's
    state-store count is pinned to that conf at first checkpoint (a
    stream-stream join opens FOUR stores per partition), so it should be
    sized to the stateful-key cardinality, not the session-wide shuffle
    width — on a real cluster that's hundreds, for a local replay over
    fixture-sized state a handful. Restored after the query stops; safe
    because each replay uses a fresh checkpoint dir.

    ``state_store_provider`` pins the state backend for the run (the
    provider is baked into the checkpoint at first commit).  Pass
    :data:`ROCKSDB_PROVIDER` for state beyond executor heap — the
    off-heap backend a 100 TB keyspace needs; the default HDFS-backed
    provider holds every partition's state in executor memory.
    """
    spark = result.sparkSession
    name = f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = checkpoint_dir or scratch_dir("ckpt_")
    with conf_override(
        spark,
        {
            "spark.sql.shuffle.partitions": state_partitions,
            "spark.sql.streaming.stateStore.providerClass": state_store_provider,
        },
    ):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def run_foreach_batch(
    result: DataFrame,
    batch_fn,
    checkpoint_dir: str | None = None,
) -> None:
    """Execute a streaming DataFrame to completion through a
    ``foreachBatch`` sink (``batch_fn(batch_df, batch_id)``) with
    ``trigger(availableNow=True)``.

    The custom-sink escape hatch (SURVEY §2.E "Sinks"): each micro-batch
    arrives as a BATCH DataFrame, so any batch writer (jdbc, upsert
    logic, multi-sink fan-out) becomes a streaming sink. Spark retries
    failed batches with the same batch_id — make ``batch_fn`` idempotent
    per (checkpoint, batch_id) for exactly-once sinks.
    """
    ckpt = checkpoint_dir or scratch_dir("ckpt_fb_")
    q = (
        result.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def drift_monitor(
    stream: DataFrame,
    reference: DataFrame,
    bucket_col: str,
    metrics_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Per-micro-batch categorical drift gate: each batch's bucket mix
    is scored against a static reference distribution with the exact
    TVD operator, and one metrics row per batch is appended to
    ``metrics_dir`` — the streaming admission monitor in front of a
    corpus (alert when tvd > threshold before the batch merges).

    foreachBatch + the batch TVD (operators/stats.py:tvd_drift) on a
    union tagged by side; appends are idempotent per batch_id (the
    file overwrites into a batch-keyed subdir).
    """
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.stats import tvd_drift

    ref = reference.select(F.col(bucket_col).alias("b")).withColumn(
        "__side", F.lit(False)
    )

    def score(batch: DataFrame, batch_id: int) -> None:
        tagged = (
            batch.select(F.col(bucket_col).alias("b"))
            .withColumn("__side", F.lit(True))
            .unionByName(ref)
        )
        out = tvd_drift(tagged, "b", F.col("__side")).withColumn(
            "batch_id", F.lit(batch_id)
        )
        out.write.mode("overwrite").parquet(
            f"{metrics_dir}/batch_id={batch_id}"
        )

    run_foreach_batch(stream, score, checkpoint_dir)


def run_available_now_to_dir(
    result: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    state_partitions: int | None = None,
) -> None:
    """Execute a streaming DataFrame with ``trigger(availableNow=True)``
    into a parquet directory sink (append mode).

    Unlike :func:`run_available_now`'s memory sink, the parquet sink
    SUPPORTS checkpoint recovery — so a query can be re-run against the
    same checkpoint after more source data arrives, which is how
    multi-batch watermark semantics (outer-join null flushes, late-data
    eviction) are replayed deterministically: each run processes the
    newly arrived files, and state carried in the checkpoint joins them
    against what earlier runs buffered.
    """
    spark = result.sparkSession
    with conf_override(
        spark, {"spark.sql.shuffle.partitions": state_partitions}
    ):
        q = (
            result.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def read_state(
    spark: SparkSession,
    checkpoint_dir: str,
    operator_id: int | None = None,
    store_name: str | None = None,
    batch_id: int | None = None,
) -> DataFrame:
    """Read a streaming query's state store as a batch DataFrame
    (Spark 4 state data source).

    The ops/debug surface a production stream needs: inspect exactly
    what a stateful operator is holding (key skew, watermark stragglers,
    state growth) or audit a checkpoint offline — without touching the
    running query.  Returns ``(key struct, value struct, partition_id)``;
    flatten the structs with ``key.*`` / ``value.*`` downstream.

    Reads are partition-parallel over the store's shuffle partitions —
    a 200-partition production checkpoint scans as 200 tasks, no
    driver-side state reconstruction.
    """
    r = spark.read.format("statestore")
    if operator_id is not None:
        r = r.option("operatorId", operator_id)
    if store_name is not None:
        r = r.option("storeName", store_name)
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    return r.load(checkpoint_dir)


def read_state_metadata(spark: SparkSession, checkpoint_dir: str) -> DataFrame:
    """Per-operator state metadata of a checkpoint (Spark 4
    ``state-metadata`` source): operator/store names, partition counts,
    and the batch-id range still replayable from this checkpoint."""
    return spark.read.format("state-metadata").load(checkpoint_dir)
