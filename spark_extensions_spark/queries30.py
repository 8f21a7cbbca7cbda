"""t2 query registry, batch 33: Spark-4 engine surface sweep.

Registered into the shared registry (imported from queries29 at module
end). Same determinism rules as the queries.py docstring.

Families in this batch — each is engine surface the registry did not
yet exercise:

- ``window_session_dynamic_gap``: per-event gap durations in the
  built-in ``session_window`` (Spark 3.2+ dynamic gap column). The
  oracle is the gaps-and-islands formulation generalized to variable
  gaps: a session extends while the NEXT event starts at or before the
  RUNNING MAX of member ends (a later short-gap event does not shrink
  an earlier long-gap reach), so the twin uses a cumulative-max window
  instead of plain LAG. All arithmetic in epoch microseconds.
- ``sql_scripting``: Spark 4.0 SQL scripting (BEGIN/DECLARE/WHILE) —
  procedural control flow compiled to one final SELECT; the oracle is
  the closed form of the loop.
- ``udtf_partitioned_input``: Python UDTF consuming
  ``TABLE(...) PARTITION BY ... ORDER BY ...`` (Spark 4 table-argument
  protocol): per-partition sequential state (a run-length encoder over
  each customer's order-priority stream) — the UDTF analogue of
  applyInPandas, with the engine doing the hash partition + sort. The
  oracle is the classic gaps-and-islands run-length SQL.
- ``io_file_provenance``: the ``_metadata`` hidden column over a
  partitioned parquet write — file-level provenance (which physical
  file produced each row) without any side channel; aggregated back to
  partition values so the oracle stays layout-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import _register, _t
from spark_extensions_spark.session import expansion_width, scratch_dir

# gap seconds per event type — values chosen to make gap choice matter
_GAP_CASE_SQL = (
    "CASE event_type WHEN 'click' THEN 600 WHEN 'view' THEN 900 "
    "WHEN 'error' THEN 300 ELSE 1800 END"
)


@_register(
    "window_session_dynamic_gap",
    f"""
    WITH base AS (
      SELECT user_id, epoch_us(ts) AS ts_us,
             epoch_us(ts) + ({_GAP_CASE_SQL}) * 1000000 AS end_us
      FROM events
    ), d AS (
      SELECT user_id, ts_us, end_us,
             MAX(end_us) OVER (PARTITION BY user_id ORDER BY ts_us
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS reach
      FROM base
    ), s AS (
      SELECT user_id, ts_us, end_us,
             SUM(CASE WHEN reach IS NULL OR ts_us > reach
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts_us
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT user_id,
           MIN(ts_us) AS session_start_us,
           MAX(end_us) AS session_end_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="Built-in session_window with a PER-EVENT dynamic gap column "
    "(errors close fast, purchases linger). Oracle generalizes gaps-"
    "and-islands to variable gaps via a cumulative-max reach window — "
    "LAG alone is wrong when an earlier long-gap event out-reaches a "
    "later short-gap one. Epoch-microsecond integer arithmetic on "
    "both sides.",
)
def q_window_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    gap = F.concat(F.expr(_GAP_CASE_SQL).cast("string"), F.lit(" seconds"))
    return (
        e.groupBy(
            "user_id", F.session_window("ts", gap).alias("w")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


@_register(
    "sql_scripting",
    """
    WITH seq AS (SELECT * FROM range(1, 13) t(m))
    SELECT CAST(12 AS INT) AS n_iter,
           CAST(SUM(CASE WHEN m % 3 = 0 THEN m * m ELSE m END) AS BIGINT)
             AS acc
    FROM seq
    """,
    doc="Spark 4.0 SQL scripting: BEGIN/DECLARE/WHILE procedural block "
    "(compound statements, session-scoped variables) folding a "
    "12-step loop into scalars; the oracle is the loop's closed form. "
    "Driver-side control flow only — each iteration's arithmetic is "
    "constant-folded, nothing distributed shuffles.",
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        BEGIN
          DECLARE m INT DEFAULT 0;
          DECLARE acc BIGINT DEFAULT 0;
          WHILE m < 12 DO
            SET m = m + 1;
            IF m % 3 = 0 THEN
              SET acc = acc + m * m;
            ELSE
              SET acc = acc + m;
            END IF;
          END WHILE;
          SELECT m AS n_iter, acc;
        END
        """
    )


@_register(
    "udtf_partitioned_input",
    """
    WITH d AS (
      SELECT o_custkey, o_orderkey, o_orderpriority,
             CASE WHEN LAG(o_orderpriority) OVER
                    (PARTITION BY o_custkey ORDER BY o_orderkey)
                  IS DISTINCT FROM o_orderpriority THEN 1 ELSE 0 END AS brk
      FROM orders WHERE o_custkey <= 300
    ), s AS (
      SELECT o_custkey, o_orderpriority,
             SUM(brk) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                            ROWS UNBOUNDED PRECEDING) AS run_id
      FROM d
    )
    SELECT CAST(o_custkey AS BIGINT) AS custkey,
           CAST(run_id AS INT) AS run_id,
           o_orderpriority AS priority,
           CAST(COUNT(*) AS INT) AS run_len
    FROM s GROUP BY 1, 2, 3
    """,
    doc="Python UDTF over TABLE(...) PARTITION BY ... ORDER BY ... "
    "(Spark 4 table-argument protocol): the ENGINE hash-partitions by "
    "customer and sorts by order key; the UDTF holds only one "
    "customer's sequential state (run-length encoding of the priority "
    "stream) — the UDTF analogue of applyInPandas. Oracle is the "
    "gaps-and-islands run-length SQL. Round-9 Zipf audit note: the "
    "14x skew inflation is INPUT-bound — custkey <= 300 selects the "
    "Zipf head (~300x more rows), and one-partition-per-key "
    "sequential delivery is the table-argument protocol's contract; "
    "state stays O(1) per partition.",
)
def q_udtf_partitioned_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="custkey bigint, run_id int, priority string, run_len int")
    class RunLength:
        def __init__(self):
            self.key = None
            self.prev = None
            self.run_id = 0
            self.run_len = 0

        def _flush(self):
            if self.prev is not None:
                yield (self.key, self.run_id, self.prev, self.run_len)

        def eval(self, row):
            self.key = row["o_custkey"]
            p = row["o_orderpriority"]
            if p != self.prev:
                yield from self._flush()
                self.run_id += 1
                self.prev = p
                self.run_len = 1
            else:
                self.run_len += 1

        def terminate(self):
            yield from self._flush()

    spark.udtf.register("run_length_q", RunLength)
    _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT * FROM run_length_q(
          TABLE(SELECT o_custkey, o_orderkey, o_orderpriority
                FROM orders WHERE o_custkey <= 300)
          PARTITION BY o_custkey ORDER BY o_orderkey
        )
        """
    )


@_register(
    "io_file_provenance",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(event_id) AS BIGINT) AS min_event,
           CAST(MAX(event_id) AS BIGINT) AS max_event,
           CAST(1 AS BIGINT) AS n_files
    FROM events
    GROUP BY event_type
    """,
    doc="Hidden `_metadata` column (Spark 3.4+ file metadata struct): "
    "events written partitionBy(event_type) (one file per partition "
    "via repartition on the key), read back with _metadata.file_path "
    "— per-row physical provenance with no side channel. The query "
    "proves the provenance matches the logical partition value (path "
    "is parsed back to event_type) and counts distinct files; the "
    "oracle is layout-independent (per-type stats; n_files pinned by "
    "the one-file-per-partition write).",
)
def q_io_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    out = scratch_dir("prov_q_")
    (
        e.repartition(1, "event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "event_id",
        F.col("_metadata.file_path").alias("file_path"),
        F.regexp_extract(
            F.col("_metadata.file_path"), r"event_type=([^/]+)/", 1
        ).alias("event_type"),
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("event_id").cast("bigint").alias("min_event"),
        F.max("event_id").cast("bigint").alias("max_event"),
        F.count_distinct("file_path").cast("bigint").alias("n_files"),
    )


@_register(
    "incremental_agg_refresh",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE NOT (event_id < 8000 AND event_type = 'error')
    GROUP BY user_id
    HAVING COUNT(*) > 0
    """,
    doc="Incremental materialized-aggregate maintenance (operators/"
    "incremental.py:agg_partials/agg_refresh): a per-user aggregate "
    "built from the first 8000 events is refreshed with a signed "
    "delta — new events fold in with weight +1, CDC deletes (the old "
    "errors) RETRACT with weight −1 — via union + ONE groupBy over "
    "key cardinality; the raw base facts are never rescanned. Oracle "
    "recomputes the post-delta state from scratch, proving "
    "maintained == recomputed.",
)
def q_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.incremental import (
        agg_partials,
        agg_refresh,
    )

    e = _t(spark, sf_dir, "events")["events"]
    measures = {"sum_value": "cast(value as decimal(18,2))"}
    base = agg_partials(
        e.filter(F.col("event_id") < 8000), ["user_id"], measures
    )
    inserts = agg_partials(
        e.filter(F.col("event_id") >= 8000), ["user_id"], measures
    )
    deletes = agg_partials(
        e.filter((F.col("event_id") < 8000) & (F.col("event_type") == "error")),
        ["user_id"],
        measures,
        weight=F.lit(-1),
    )
    delta = inserts.unionByName(deletes)
    refreshed = agg_refresh(base, delta, ["user_id"])
    return refreshed.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("__n").cast("bigint").alias("n_events"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@_register(
    "kafka_cdc_stream_apply",
    """
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(event_id AS BIGINT) AS last_event,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS last_value
    FROM (
      SELECT user_id, event_id, value, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1 AND event_type <> 'error'
    """,
    doc="The complete incremental CDC ingest loop over the Kafka-"
    "semantics log — the reference's parent project's (SmartDataLake"
    "Builder) flagship pattern: changes keyed by entity are produced "
    "in two generations; TWO checkpointed availableNow streaming runs "
    "each fold ONLY the new offsets into a versioned parquet state "
    "table via foreachBatch (last-writer-wins upserts, 'D' deletes "
    "drop the key, publish-by-rename versioning — operators/"
    "incremental.py:apply_cdc_batch). Oracle recomputes the final "
    "state from scratch: per user the highest-event_id change wins, "
    "deletes (the error events) leave no row.",
)
def q_kafka_cdc_stream_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.incremental import (
        apply_cdc_batch,
        read_cdc_state,
    )
    from spark_extensions_spark.sources.filekafka import (
        produce,
        register_filekafka,
    )

    register_filekafka(spark)
    e = _t(spark, sf_dir, "events")["events"]
    root = scratch_dir("filekafka_cdc_q_")
    state_dir = scratch_dir("cdc_state_q_")
    ckpt = scratch_dir("cdc_ckpt_q_")

    def cdc_messages(df):
        return df.select(
            F.col("user_id").cast("string").cast("binary").alias("key"),
            F.to_json(
                F.struct(
                    F.when(F.col("event_type") == "error", F.lit("D"))
                    .otherwise(F.lit("U"))
                    .alias("op"),
                    "event_id",
                    "value",
                )
            )
            .cast("binary")
            .alias("value"),
        )

    def apply_batch(batch_df, _batch_id):
        parsed = batch_df.select(
            F.col("key").cast("string").cast("bigint").alias("user_id"),
            F.from_json(
                F.col("value").cast("string"),
                "op string, event_id bigint, value double",
            ).alias("c"),
        ).select("user_id", "c.op", "c.event_id", "c.value")
        apply_cdc_batch(
            parsed, state_dir, keys=["user_id"], order_col="event_id"
        )

    def run_ingest():
        s = (
            spark.readStream.format("filekafka")
            .option("path", root)
            .option("topic", "cdc")
            .load()
        )
        q = (
            s.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # awaitTermination(timeout) returns False WITHOUT stopping the
        # query — fail loudly rather than read a partial CDC state
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError("cdc ingest did not finish in 300s")

    produce(cdc_messages(e.filter(F.col("event_id") < 5000)), root, "cdc",
            num_partitions=8)
    run_ingest()
    produce(cdc_messages(e.filter(F.col("event_id") >= 5000)), root, "cdc",
            num_partitions=8)
    run_ingest()

    state = read_cdc_state(spark, state_dir)
    return state.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("event_id").cast("bigint").alias("last_event"),
        F.col("value").cast("decimal(18,2)").cast("double").alias("last_value"),
    )


@_register(
    "sql_execute_immediate",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderstatus = 'O' AND o_custkey <= 500
    GROUP BY o_orderpriority
    """,
    doc="Dynamic parameterized SQL: the statement text is assembled at "
    "runtime and run via EXECUTE IMMEDIATE with a positional USING "
    "parameter plus a session variable bound by name — templated-"
    "pipeline surface (the safe alternative to string interpolation). "
    "Oracle is the statically-inlined query.",
)
def q_sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    spark.sql("DECLARE OR REPLACE VARIABLE status_v STRING")
    spark.sql("SET VAR status_v = 'O'")
    stmt = (
        "SELECT o_orderpriority, "
        "CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
        "FROM orders WHERE o_orderstatus = status_v AND o_custkey <= ? "
        "GROUP BY o_orderpriority"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :stmt USING 500", args={"stmt": stmt}
    )


@_register(
    "backfill_idempotent",
    """
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d,
           CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15'
                THEN 'initial' ELSE 'backfill' END AS processed_in,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
    GROUP BY 1, 2
    """,
    doc="Idempotent partition backfill (operators/incremental.py:"
    "backfill_partitions): an initial load covers dates before the "
    "cutoff; the backfill run lists sink partitions (metadata-only), "
    "computes the missing set, and processes ONLY those — the filter "
    "is on the partition column so the source scan prunes to missing "
    "work. A verifying third run returns an empty todo (asserted in "
    "tests). Output tags each date with which run produced it, from "
    "the backfill report itself.",
)
def q_backfill_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.incremental import (
        backfill_partitions,
    )

    e = _t(spark, sf_dir, "events")["events"].withColumn(
        "d", F.to_date("ts").cast("string")
    )
    sink = scratch_dir("backfill_q_")
    # initial load: dates strictly before the cutoff, clustered by the
    # partition column so each date gets ~one file instead of one per
    # task (tasks x dates files + commits otherwise — guide §6)
    width = int(spark.sparkContext.defaultParallelism)
    (
        e.filter(F.col("d") < "2024-01-15")
        .repartition(width, F.col("d"))
        .write.mode("append")
        .partitionBy("d")
        .parquet(sink)
    )
    backfilled = set(backfill_partitions(e, sink, "d"))
    back = spark.read.parquet(sink)
    return back.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    ).select(
        "d",
        F.when(
            F.col("d").isin(sorted(backfilled)) if backfilled else F.lit(False),
            F.lit("backfill"),
        )
        .otherwise(F.lit("initial"))
        .alias("processed_in"),
        "n_rows",
    ).select("d", "processed_in", "n_rows")


@_register(
    "io_dynamic_partition_pruning",
    """
    WITH dim AS (
      SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d
      FROM events
      WHERE day(CAST(ts AS DATE)) % 7 < 3
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(e.event_id) AS BIGINT) AS min_event
    FROM (SELECT event_id, event_type,
                 strftime(CAST(ts AS DATE), '%Y-%m-%d') AS d
          FROM events) e
    JOIN dim ON e.d = dim.d
    GROUP BY e.event_type
    """,
    doc="Dynamic partition pruning: the fact side is a date-partitioned "
    "parquet table; the dim side's filter is only known at runtime, so "
    "Catalyst injects a dynamicpruning subquery into the fact scan's "
    "PartitionFilters and entire date partitions are skipped at "
    "execution — THE scan-reduction lever for 100 TB star joins "
    "(plan-pinned in test_plans). Oracle joins the same derived dim "
    "in plain SQL.",
)
def q_io_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    fact_dir = _dpp_fact_dir(spark, sf_dir)
    fact = spark.read.parquet(fact_dir)
    e = _t(spark, sf_dir, "events")["events"]
    dim = (
        e.select(F.to_date("ts").alias("dd"))
        .filter(F.dayofmonth("dd") % 7 < 3)
        .select(F.col("dd").cast("string").alias("d"))
        .distinct()
    )
    joined = fact.join(dim, "d")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("event_id").cast("bigint").alias("min_event"),
    )


def _dpp_fact_dir(spark: SparkSession, sf_dir: str) -> str:
    """events written date-partitioned, once per (session, sf_dir)."""
    cache = getattr(spark, "_sx_dpp_fact", None)
    if cache is None:
        cache = {}
        spark._sx_dpp_fact = cache
    if sf_dir not in cache:
        e = _t(spark, sf_dir, "events")["events"]
        out = scratch_dir("dpp_fact_q_")
        (
            e.select(
                "event_id",
                "event_type",
                F.to_date("ts").cast("string").alias("d"),
            )
            # hash-partition BY d at session width: every date still
            # lands wholly in one task (one file per partition dir,
            # same layout as the old repartition(1, "d")), but dates
            # write in parallel instead of through a single task
            # (measured 2.25 s on ONE task at sf0.1)
            .repartition(expansion_width(spark), "d")
            .write.mode("overwrite")
            .partitionBy("d")
            .parquet(out)
        )
        cache[sf_dir] = out
    return cache[sf_dir]

from spark_extensions_spark import queries31  # noqa: E402,F401  (registration side effect)
