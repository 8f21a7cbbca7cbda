"""t2 query registry, batch 32: Kafka-semantics log pipeline.

Registered into the shared registry (imported from queries28 at module
end). Same determinism rules as the queries.py docstring.

The reference's flagship capability is decoding Confluent-framed Kafka
messages in batch and streaming jobs
(`ConfluentAvroConnector.scala:13`, `ConfluentAvroConnectorTest.scala:
35-47`). This container has no Kafka connector jar and no network
(NOTES.md environment gates), so these queries drive the SAME decode
pipelines over ``sources/filekafka.py`` — a file-backed topic log with
Kafka's exact source schema, murmur2 key placement, per-partition
contiguous offsets, and offset-range micro-batch planning. Every query
ends in payload space (no hash-placement-dependent columns), so the
DuckDB oracles stay engine-portable.

Scale: the produce step is one hash-partitioning pass + one writer task
per topic-partition; reads plan one input partition per (partition ×
segment) ranged read — no shuffle beyond the producer's placement, the
same shape as the real Kafka source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import _register, _t
from spark_extensions_spark.session import scratch_dir


def _docs_topic(spark: SparkSession, sf_dir: str) -> tuple[str, object]:
    """Produce the documents table once per (session, sf_dir) as
    Confluent-framed Avro messages on a filekafka topic; returns
    (log_root, schema_registry_client)."""
    from spark_extensions_spark.confluent import (
        InMemorySchemaRegistry,
        to_confluent_avro,
    )
    from spark_extensions_spark.sources.filekafka import (
        produce,
        register_filekafka,
    )

    register_filekafka(spark)
    cache = getattr(spark, "_sx_kafka_topics", None)
    if cache is None:
        cache = {}
        spark._sx_kafka_topics = cache
    if sf_dir not in cache:
        root = scratch_dir("filekafka_q_")
        client = InMemorySchemaRegistry()
        docs = _t(spark, sf_dir, "documents")["documents"]
        payload = docs.select(
            F.col("doc_id").cast("string").cast("binary").alias("key"),
            F.struct("doc_id", "lang", "source", "text").alias("rec"),
        )
        framed = payload.select(
            "key",
            to_confluent_avro(
                payload, "rec", "docs", "value", client, update_allowed=True
            ).alias("value"),
        )
        produce(framed, root, "docs", num_partitions=8)
        cache[sf_dir] = (root, client)
    return cache[sf_dir]


@_register(
    "kafka_log_roundtrip",
    """
    SELECT doc_id, lang, md5(text) AS text_md5 FROM documents
    """,
    doc="Confluent Avro encode → produce to a Kafka-semantics file "
    "topic (murmur2 key placement, contiguous offsets) → batch read "
    "over offset ranges → decode (`ConfluentAvroConnectorTest.scala:"
    "35-47` minus the broker the environment gates out). Identity "
    "oracle proves the log+codec path is lossless on real data.",
)
def q_kafka_log_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.confluent import from_confluent_avro

    root, client = _docs_topic(spark, sf_dir)
    msgs = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "docs")
        .load()
    )
    return (
        msgs.select(
            from_confluent_avro("value", "docs", "value", client).alias("rec")
        )
        .select(
            F.col("rec.doc_id").alias("doc_id"),
            F.col("rec.lang").alias("lang"),
            F.md5(F.col("rec.text").cast("binary")).alias("text_md5"),
        )
    )


@_register(
    "kafka_stream_decode_agg",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS sum_chars
    FROM documents
    GROUP BY lang
    """,
    doc="Streaming micro-batch pipeline over the Kafka-semantics log: "
    "readStream (offset-planned input partitions) → Confluent Avro "
    "decode → grouped aggregate → availableNow replay to a memory "
    "sink. The streaming twin of the reference's decode-in-stream "
    "use-case; oracle is the batch SQL aggregate over the source "
    "table (integer sums — exact on any partitioning/batch order).",
)
def q_kafka_stream_decode_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.confluent import from_confluent_avro
    from spark_extensions_spark.streaming import run_available_now

    root, client = _docs_topic(spark, sf_dir)
    stream = (
        spark.readStream.format("filekafka")
        .option("path", root)
        .option("topic", "docs")
        .load()
    )
    decoded = stream.select(
        from_confluent_avro("value", "docs", "value", client).alias("rec")
    ).select("rec.lang", F.length("rec.text").alias("chars"))
    agg = decoded.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("chars").cast("bigint").alias("sum_chars"),
    )
    return run_available_now(agg, output_mode="update", state_partitions=8)


@_register(
    "kafka_sink_exactly_once",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_messages,
           true AS offsets_contiguous,
           true AS key_affinity_ok
    FROM events
    """,
    doc="Exactly-once sink commit protocol: events keyed by user_id "
    "are written through the filekafka DataSource writer (tasks stage, "
    "ONE driver commit assigns offsets and publishes segments — the "
    "commit-protocol theme of SURVEY §2.C), then read back. Output "
    "verifies the log invariants IN-ENGINE: total count survives the "
    "write→read trip, per-partition offsets are gapless from 0, and "
    "every key landed in exactly one partition. The invariant booleans "
    "are computed from the data, not asserted.",
)
def q_kafka_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.sources.filekafka import register_filekafka

    register_filekafka(spark)
    events = _t(spark, sf_dir, "events")["events"]
    root = scratch_dir("filekafka_sink_q_")
    (
        events.select(
            F.col("user_id").cast("string").cast("binary").alias("key"),
            F.to_json(F.struct("user_id", "event_type", "ts"))
            .cast("binary")
            .alias("value"),
        )
        .write.format("filekafka")
        .option("path", root)
        .option("topic", "ev")
        .option("numPartitions", 8)
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "ev")
        .load()
    )
    per_part = back.groupBy("partition").agg(
        F.count("*").alias("cnt"),
        F.max("offset").alias("max_off"),
        F.min("offset").alias("min_off"),
        F.count_distinct("offset").alias("n_off"),
    )
    per_key = back.groupBy("key").agg(
        F.count_distinct("partition").alias("n_parts")
    )
    return (
        per_part.agg(
            F.sum("cnt").cast("bigint").alias("n_messages"),
            F.every(
                (F.col("min_off") == 0)
                & (F.col("max_off") == F.col("cnt") - 1)
                & (F.col("n_off") == F.col("cnt"))
            ).alias("offsets_contiguous"),
        )
        .crossJoin(
            per_key.agg(
                F.every(F.col("n_parts") == 1).alias("key_affinity_ok")
            )
        )
        .select("n_messages", "offsets_contiguous", "key_affinity_ok")
    )


@_register(
    "kafka_log_compaction",
    """
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           max(event_type || '|' || CAST(epoch_us(ts) AS VARCHAR))
             AS last_value
    FROM events
    GROUP BY 1
    """,
    doc="Kafka log-compaction semantics (latest record per key by "
    "offset) materialized from the file topic via ONE map-side-"
    "combinable max_by aggregate (filekafka.py:compact_latest) — no "
    "window, scale-safe at any key cardinality. Within one produce "
    "call per-partition offsets follow (key, value)-byte order, so "
    "latest-by-offset per key equals max(value) per key — which is "
    "what the engine-portable oracle states in plain SQL.",
)
def q_kafka_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.sources.filekafka import (
        compact_latest,
        produce,
        register_filekafka,
    )

    register_filekafka(spark)
    events = _t(spark, sf_dir, "events")["events"]
    root = scratch_dir("filekafka_compact_q_")
    msgs = events.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.concat(
            F.col("event_type"),
            F.lit("|"),
            F.unix_micros(F.col("ts")).cast("string"),
        )
        .cast("binary")
        .alias("value"),
    )
    produce(msgs, root, "ev_compact", num_partitions=8)
    topic = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "ev_compact")
        .load()
    )
    return compact_latest(topic).select(
        F.col("key").cast("string").alias("user_id"),
        F.col("value").cast("string").alias("last_value"),
    )


@_register(
    "observe_inline_metrics",
    """
    SELECT CAST(s.n AS BIGINT) AS scan_n_rows,
           CAST(s.q AS DOUBLE) AS scan_sum_qty,
           CAST(k.n AS BIGINT) AS kept_n_rows,
           CAST(k.r AS DOUBLE) AS kept_revenue,
           CAST(s.n - k.n AS BIGINT) AS dropped_rows
    FROM (SELECT COUNT(*) AS n,
                 SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
          FROM lineitem) s,
         (SELECT COUNT(*) AS n,
                 SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,4))) AS r
          FROM lineitem
          WHERE l_quantity < 25 AND l_returnflag = 'N') k
    """,
    doc="Inline job observability (operators/observe.py): metric "
    "points attached at two plan positions (post-scan, post-filter) "
    "via df.observe, materialized by ONE noop-sink execution — "
    "accumulator-backed, zero extra scans (the 100 TB alternative to "
    "a separate metrics job). Oracle recomputes both points in plain "
    "SQL; exact decimal aggregates keep the values engine-portable.",
)
def q_observe_inline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.observe import (
        MetricPoint,
        metrics_row,
        run_noop,
    )

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    scan = MetricPoint("scan")
    kept = MetricPoint("kept")
    observed = scan.attach(
        li,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
    )
    filtered = kept.attach(
        observed.filter(
            (F.col("l_quantity") < 25) & (F.col("l_returnflag") == "N")
        ),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        ).alias("revenue"),
    )
    run_noop(filtered.select("l_orderkey", "l_quantity"))
    return metrics_row(spark, scan, kept).select(
        F.col("scan_n_rows").cast("bigint").alias("scan_n_rows"),
        F.col("scan_sum_qty").cast("double").alias("scan_sum_qty"),
        F.col("kept_n_rows").cast("bigint").alias("kept_n_rows"),
        F.col("kept_revenue").cast("double").alias("kept_revenue"),
        (F.col("scan_n_rows") - F.col("kept_n_rows"))
        .cast("bigint")
        .alias("dropped_rows"),
    )

from spark_extensions_spark import queries30  # noqa: E402,F401  (registration side effect)
