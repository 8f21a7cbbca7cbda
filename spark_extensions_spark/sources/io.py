"""Batch/stream source-sink facade and cloud commit protocol presets.

Format surface per SURVEY.md §2.E "Scans/sources"/"Sinks": parquet, csv,
json, orc, text, avro (needs the spark-avro connector jar on the
cluster), jdbc — all via the public ``spark.read`` / ``df.write`` API
so Catalyst keeps predicate pushdown, column pruning and partition
pruning on every path.

``cloud_committer_conf`` replaces the reference's committer classes
(`/root/reference/src/main/scala/org/apache/spark/internal/io/cloud/
BindingParquetOutputCommitter.scala:40-125`,
`PathOutputCommitProtocol.scala:53-146`): on Spark 3.2+ the same classes
ship in ``spark-hadoop-cloud`` and activate purely through configuration
— including the reference's refusal of dynamicPartitionOverwrite with
path-output committers (``PathOutputCommitProtocol.scala:59-64``), which
the shipped class enforces itself.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from spark_extensions_spark.session import conf_override

BATCH_FORMATS = {"parquet", "csv", "json", "orc", "text", "avro"}


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema=None,
    **options: Any,
) -> DataFrame:
    """Read a batch table. Filters/projections applied downstream push
    into the scan (verify with ``df.explain``: PushedFilters/ReadSchema)."""
    if fmt not in BATCH_FORMATS and fmt != "jdbc":
        raise ValueError(f"Unsupported format {fmt!r}; one of {sorted(BATCH_FORMATS)}")
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path) if fmt != "jdbc" else reader.load()


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "error",
    partition_by: list[str] | None = None,
    bucket_by: tuple[int, list[str]] | None = None,
    sort_by: list[str] | None = None,
    table_name: str | None = None,
    compression: str | None = None,
    **options: Any,
) -> None:
    """Write a batch table with optional hive-style partitioning and/or
    bucketing.

    Scale notes: ``partition_by`` low-cardinality columns only (one dir
    per value); ``bucket_by`` pre-shuffles on the bucket keys so
    downstream equi-joins/aggs on those keys skip their shuffle —
    bucketed writes require ``table_name`` (``saveAsTable``), plain path
    writes can't carry bucket metadata.
    """
    writer = df.write.format(fmt).mode(mode)
    if compression is not None:
        writer = writer.option("compression", compression)
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        n, cols = bucket_by
        if table_name is None:
            raise ValueError("bucket_by requires table_name (saveAsTable)")
        writer = writer.bucketBy(n, *cols)
        if sort_by:
            writer = writer.sortBy(*sort_by)
        writer.option("path", path).saveAsTable(table_name)
        return
    writer.save(path)


def cloud_committer_conf(
    committer: str = "magic", reject_file_output: bool = False
) -> dict[str, str]:
    """Spark conf enabling object-store-safe O(1) commits.

    Returns the configuration equivalent of the reference's committer
    wiring (BindingParquetOutputCommitter + PathOutputCommitProtocol):
    task commits become marker uploads instead of O(data) renames.
    Apply at session build: ``get_spark(extra_conf=cloud_committer_conf())``.
    """
    conf = {
        "spark.sql.sources.commitProtocolClass": (
            "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
        ),
        "spark.sql.parquet.output.committer.class": (
            "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
        ),
        "spark.hadoop.fs.s3a.committer.name": committer,
        "spark.hadoop.mapreduce.outputcommitter.factory.scheme.s3a": (
            "org.apache.hadoop.fs.s3a.commit.S3ACommitterFactory"
        ),
    }
    if reject_file_output:
        # reference safety flag (PathOutputCommitProtocol.scala:159)
        conf["spark.hadoop.pathoutputcommit.reject.fileoutput"] = "true"
    return conf


def overwrite_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    fmt: str = "parquet",
) -> None:
    """Incremental publish: replace ONLY the partitions present in
    ``df``, leaving all other partitions of the target untouched.

    The idempotent re-run primitive of a partitioned ingestion pipeline
    (reprocess one day/source without rewriting the table). Implemented
    with Spark's dynamic partition-overwrite mode — the conf is set per
    write and restored afterwards, so sessions we share (the driver
    harness's) keep their own static default, where overwrite replaces
    the whole table.
    """
    with conf_override(
        df.sparkSession, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        (
            df.write.format(fmt)
            .mode("overwrite")
            .partitionBy(*partition_by)
            .save(path)
        )
