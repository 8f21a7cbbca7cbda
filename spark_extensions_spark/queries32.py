"""t2 query registry, batch 35: ingest robustness.

Registered into the shared registry (imported from queries31 at module
end). Same determinism rules as the queries.py docstring.

Real 100 TB ingest is never clean: JSON feeds carry malformed lines and
parquet lakes carry schema generations. These queries pin Spark's
built-in handling of both:

- ``io_corrupt_records``: PERMISSIVE mode with
  ``columnNameOfCorruptRecord`` — malformed lines survive as raw text
  in the corrupt column instead of killing the job (DROPMALFORMED's
  silent drop and FAILFAST's abort are asserted in the pytest twin);
  corruption is injected deterministically (every 7th record) so the
  oracle can state exact good/bad counts.
- ``io_schema_merge``: two parquet generations (v2 adds a column)
  read with ``mergeSchema=true`` — the union schema applies and v1
  rows surface NULL for the added column, the read-side half of the
  catalog schema-evolution story (`catalog_schema_evolution` is the
  write-side half).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import _register, _t
from spark_extensions_spark.session import scratch_dir


@_register(
    "io_corrupt_records",
    """
    SELECT CAST(COUNT(*) FILTER (WHERE event_id % 7 <> 0) AS BIGINT)
             AS n_good,
           CAST(COUNT(*) FILTER (WHERE event_id % 7 = 0) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN event_id % 7 <> 0 THEN user_id END)
                AS BIGINT) AS sum_user_good
    FROM events
    """,
    doc="PERMISSIVE corrupt-record ingest: a JSON feed with every 7th "
    "line deterministically truncated mid-record is read with an "
    "explicit schema + columnNameOfCorruptRecord — bad lines land as "
    "raw text in the corrupt column (job survives), good lines parse "
    "fully. Counts and a parsed-field checksum prove no line is "
    "dropped OR double-counted. DROPMALFORMED/FAILFAST semantics are "
    "pinned in the pytest twin.",
)
def q_io_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    out = scratch_dir("corrupt_q_")
    # serialize each event as one JSON line; TRUNCATE every 7th line
    # mid-record (deterministic by event_id) so it cannot parse
    lines = e.select(
        F.when(
            F.col("event_id") % 7 == 0,
            F.expr(
                "substring(to_json(struct(event_id, user_id, event_type)),"
                " 1, 10)"
            ),
        )
        .otherwise(F.to_json(F.struct("event_id", "user_id", "event_type")))
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema(
            "event_id bigint, user_id bigint, event_type string, "
            "_corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(out)
    )
    # cache through the aggregate: Spark requires referencing parsed
    # fields alongside the corrupt column from a materialized relation
    parsed = parsed.cache()
    return parsed.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1))
        .cast("bigint")
        .alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("user_id")))
        .cast("bigint")
        .alias("sum_user_good"),
    )


@_register(
    "io_schema_merge",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(score) AS BIGINT) AS n_with_score,
           CAST(SUM(CASE WHEN event_id < 5000
                         THEN NULL ELSE event_id END) AS BIGINT)
             AS sum_scored_ids
    FROM (
      SELECT event_id,
             CASE WHEN event_id < 5000 THEN NULL
                  ELSE event_id * 2 END AS score
      FROM events
    )
    """,
    doc="Schema evolution on READ: generation-1 parquet (event_id, "
    "event_type) and generation-2 (+score) coexist in one dataset; "
    "mergeSchema=true reads the union schema, generation-1 rows "
    "surface NULL score — no rewrite of old files, the read-side "
    "contract that lets a 100 TB lake add columns in place. Counts "
    "distinguish rows-with-score from rows-without.",
)
def q_io_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    out = scratch_dir("merge_q_")
    e.filter(F.col("event_id") < 5000).select("event_id", "event_type").write.mode(
        "append"
    ).parquet(out)
    e.filter(F.col("event_id") >= 5000).select(
        "event_id", "event_type", (F.col("event_id") * 2).alias("score")
    ).write.mode("append").parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("score").cast("bigint").alias("n_with_score"),
        (F.sum("score") / 2).cast("bigint").alias("sum_scored_ids"),
    )


@_register(
    "cdc_state_time_travel",
    """
    WITH g1 AS (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events WHERE event_id < 5000
    ), g2 AS (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    SELECT 'v0' AS version, CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS last_event
    FROM g1 WHERE rn = 1 AND event_type <> 'error'
    UNION ALL
    SELECT 'v1', CAST(user_id AS BIGINT), CAST(event_id AS BIGINT)
    FROM g2 WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="CDC state time travel: two change batches committed through "
    "apply_cdc_batch append to the state's commit log; "
    "read_cdc_state_version(0) reconstructs the post-batch-1 state "
    "from its immutable snapshot while _CURRENT serves the latest — "
    "VERSION AS OF for the streaming-maintained table (operators/"
    "incremental.py). Oracle recomputes both generations' last-writer-"
    "wins states from scratch.",
)
def q_cdc_state_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.incremental import (
        apply_cdc_batch,
        read_cdc_state,
        read_cdc_state_version,
    )

    e = _t(spark, sf_dir, "events")["events"]
    state = scratch_dir("cdc_tt_q_")

    def changes(cond):
        return e.filter(cond).select(
            "user_id",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "event_id",
        )

    apply_cdc_batch(
        changes(F.col("event_id") < 5000), state, ["user_id"], "event_id"
    )
    apply_cdc_batch(
        changes(F.col("event_id") >= 5000), state, ["user_id"], "event_id"
    )
    v0 = read_cdc_state_version(spark, state, 0).select(
        F.lit("v0").alias("version"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_id").cast("bigint").alias("last_event"),
    )
    v1 = read_cdc_state(spark, state).select(
        F.lit("v1").alias("version"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_id").cast("bigint").alias("last_event"),
    )
    return v0.unionByName(v1)

from spark_extensions_spark import queries33  # noqa: E402,F401  (registration side effect)
