"""t2 query registry, batch 34: Arrow-native UDFs + lateral join API.

Registered into the shared registry (imported from queries30 at module
end). Same determinism rules as the queries.py docstring.

- ``arrow_map_udf``: ``DataFrame.mapInArrow`` — the lowest-overhead
  Python hook: RecordBatches in, RecordBatches out, no pandas
  conversion at all (pyarrow.compute kernels are C++ vectorized).
  Row-local arithmetic, so the twin is plain SQL; IEEE double ops are
  bit-identical across engines for the same expression tree.
- ``arrow_grouped_apply``: ``GroupedData.applyInArrow`` — grouped-map
  over Arrow tables (the applyInPandas shape minus pandas); per-group
  integer/decimal aggregates keep it order-insensitive.
- ``join_lateral_api``: ``DataFrame.lateralJoin`` (Spark 4.0) with a
  correlated subquery via ``Column.outer()`` — the DataFrame twin of
  SQL LATERAL (already covered by ``join_lateral``); here the inner
  side is a per-row top-2 which the planner rewrites to a lateral
  window, not a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import _register, _t


@_register(
    "arrow_map_udf",
    """
    SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
           CAST(l_linenumber AS INT) AS l_linenumber,
           l_extendedprice * (1 - l_discount) AS net,
           CASE WHEN l_quantity >= 30 THEN 'bulk'
                WHEN l_quantity >= 10 THEN 'mid'
                ELSE 'small' END AS bucket
    FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="mapInArrow vectorized transform: RecordBatches flow straight "
    "into pyarrow.compute kernels (multiply/case-when in C++) with no "
    "pandas materialization — the lowest-overhead Python hook for "
    "100 TB row-local logic. Row-local IEEE arithmetic ⇒ plain-SQL "
    "oracle matches bit-exact.",
)
def q_arrow_map_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    li = _t(spark, sf_dir, "lineitem")["lineitem"]

    def xform(batches):
        for b in batches:
            t = pa.Table.from_batches([b])
            net = pc.multiply(
                t.column("l_extendedprice"),
                pc.subtract(pa.scalar(1.0), t.column("l_discount")),
            )
            qty = t.column("l_quantity")
            bucket = pc.if_else(
                pc.greater_equal(qty, pa.scalar(30.0)),
                pa.scalar("bulk"),
                pc.if_else(
                    pc.greater_equal(qty, pa.scalar(10.0)),
                    pa.scalar("mid"),
                    pa.scalar("small"),
                ),
            )
            out = pa.table(
                {
                    "l_orderkey": t.column("l_orderkey"),
                    "l_linenumber": t.column("l_linenumber"),
                    "net": net,
                    "bucket": bucket,
                }
            )
            yield from out.to_batches()

    src = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
        "l_quantity",
    )
    return src.mapInArrow(
        xform,
        "l_orderkey bigint, l_linenumber int, net double, bucket string",
    )


@_register(
    "arrow_grouped_apply",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    doc="applyInArrow grouped-map: each (returnflag, linestatus) group "
    "arrives as ONE Arrow table; pyarrow aggregates it in C++ and "
    "emits a single summary row — the applyInPandas shape without the "
    "pandas conversion tax. Decimal-exact quantity sum via integer "
    "cents keeps the value order-insensitive.",
)
def q_arrow_grouped_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.compute as pc

    li = _t(spark, sf_dir, "lineitem")["lineitem"]

    def summarize(t: pa.Table) -> pa.Table:
        # exact decimal sum: quantities are money-like doubles with
        # <=2dp — sum in integer cents, divide once
        cents = pc.round(pc.multiply(t.column("l_quantity"), pa.scalar(100.0)))
        qty = pc.sum(cents.cast(pa.int64())).as_py() / 100.0
        return pa.table(
            {
                "l_returnflag": pa.array([t.column("l_returnflag")[0].as_py()]),
                "l_linestatus": pa.array([t.column("l_linestatus")[0].as_py()]),
                "n": pa.array([t.num_rows], type=pa.int64()),
                "qty": pa.array([qty], type=pa.float64()),
                "max_key": pa.array(
                    [pc.max(t.column("l_orderkey")).as_py()], type=pa.int64()
                ),
            }
        )

    src = li.select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_orderkey"
    )
    return src.groupBy("l_returnflag", "l_linestatus").applyInArrow(
        summarize,
        "l_returnflag string, l_linestatus string, n bigint, qty double, "
        "max_key bigint",
    )


@_register(
    "join_lateral_api",
    """
    SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey,
           CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
           o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) o
    WHERE c.c_custkey <= 200
    """,
    doc="DataFrame.lateralJoin (Spark 4.0) with Column.outer() "
    "correlation: per-customer top-2 orders by price. The DataFrame "
    "twin of SQL LATERAL — Catalyst decorrelates the per-row limit "
    "into a ranked window, not a nested loop per customer.",
)
def q_join_lateral_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    c = t["customer"].filter(F.col("c_custkey") <= 200).select("c_custkey")
    o = t["orders"]
    inner = (
        o.where(F.col("o_custkey") == F.col("c_custkey").outer())
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(2)
        .select("o_orderkey", "o_totalprice")
    )
    return c.lateralJoin(inner).select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
        "o_totalprice",
    )


@_register(
    "string_collation",
    """
    WITH mixed AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                  ELSE lower(o_orderpriority) END AS s,
             o_totalprice
      FROM orders
    )
    SELECT lower(s) AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total
    FROM mixed
    GROUP BY lower(s)
    """,
    doc="String collations (Spark 4.0): a deterministically mixed-case "
    "column grouped under COLLATE UTF8_LCASE — the engine's collation-"
    "aware hash/compare does the case folding, no lower() in the "
    "grouping key. Output is canonicalized through lower() so the "
    "oracle (which groups by lower directly) matches exactly.",
)
def q_string_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        WITH mixed AS (
          SELECT CASE WHEN o_orderkey % 2 = 0 THEN upper(o_orderpriority)
                      ELSE lower(o_orderpriority) END
                   COLLATE UTF8_LCASE AS s,
                 o_totalprice
          FROM orders
        )
        SELECT lower(s) COLLATE UTF8_BINARY AS grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total
        FROM mixed
        GROUP BY s
        """
    )


@_register(
    "kafka_log_maintenance",
    """
    SELECT CAST(COUNT(*) FILTER (WHERE event_id >= 4000) AS BIGINT)
             AS n_after_retention,
           CAST(COUNT(*) FILTER (WHERE event_id >= 4000) AS BIGINT)
             AS n_after_compaction,
           true AS compacted_to_one_segment
    FROM events
    """,
    doc="Log maintenance lifecycle with in-engine invariants: events "
    "produced in three generations leave three segments per "
    "partition; truncate_before at the generation-1 watermark drops "
    "EXACTLY that generation (whole-segment retention); "
    "compact_segments then merges the survivors into one covering "
    "segment per partition (crash-safe publish-then-GC) with zero "
    "loss — the post-retention and post-compaction counts agree, and "
    "the compacted read still fans out via sliceSize chunking + "
    "row-group pruning. Oracle states the conservation laws in plain "
    "SQL.",
)
def q_kafka_log_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.session import scratch_dir

    from spark_extensions_spark.sources import filekafka as fk

    fk.register_filekafka(spark)
    e = _t(spark, sf_dir, "events")["events"]
    root = scratch_dir("filekafka_maint_q_")

    def gen(lo, hi):
        return e.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).select(
            F.col("user_id").cast("string").cast("binary").alias("key"),
            F.col("event_id").cast("string").cast("binary").alias("value"),
        )

    fk.produce(gen(0, 4000), root, "m", num_partitions=4)
    floors = fk.end_offsets(root, "m")  # generation-1 watermark
    fk.produce(gen(4000, 8000), root, "m", num_partitions=4)
    fk.produce(gen(8000, 10**12), root, "m", num_partitions=4)

    def count_topic():
        return (
            spark.read.format("filekafka")
            .option("path", root)
            .option("topic", "m")
            .option("sliceSize", 2000)
            .load()
            .count()
        )

    fk.truncate_before(root, "m", floors)
    n_retained = count_topic()
    fk.compact_segments(root, "m")
    # <=1: a partition whose messages were ALL below the retention
    # floor ends up empty (e.g. the sf0.001 fixture) — vacuously
    # compacted, matching the oracle's constant
    one_seg = all(
        len(fk.list_segments(root, "m", p)) <= 1 for p in range(4)
    )
    n_compacted = count_topic()
    return spark.createDataFrame(
        [(n_retained, n_compacted, bool(one_seg))],
        "n_after_retention bigint, n_after_compaction bigint, "
        "compacted_to_one_segment boolean",
    )


@_register(
    "join_interval_binned",
    """
    WITH l AS (
      SELECT user_id, CAST(ts AS DATE) AS d,
             MIN(epoch_us(ts)) AS ls, MAX(epoch_us(ts)) AS le
      FROM events WHERE user_id <= 300 GROUP BY 1, 2
    ), r AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             MIN(epoch_us(ts)) AS rs, MAX(epoch_us(ts)) AS re
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(l.user_id AS BIGINT) AS user_id,
           strftime(l.d, '%Y-%m-%d') AS l_day,
           r.event_type,
           strftime(r.d, '%Y-%m-%d') AS r_day,
           CAST(least(le, re) - greatest(ls, rs) AS BIGINT) AS overlap_us
    FROM l, r WHERE ls <= re AND rs <= le
    """,
    doc="KEYLESS interval-overlap join executed as an EQUI-join on "
    "day grains (operators/joins.py:interval_join_binned): both "
    "interval sets explode into covered grains, shuffle on the grain, "
    "and each pair emits exactly once in the later-start grain — no "
    "BroadcastNestedLoop anywhere (plan-pinned) and no dedupe "
    "shuffle. The oracle is the naive theta join, proving the "
    "rewrite's exactness.",
)
def q_join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.joins import interval_join_binned

    e = _t(spark, sf_dir, "events")["events"]
    day_us = 86_400 * 1_000_000
    l = (
        e.filter(F.col("user_id") <= 300)
        .groupBy(
            "user_id", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("l_day")
        )
        .agg(
            F.min(F.unix_micros("ts")).alias("ls"),
            F.max(F.unix_micros("ts")).alias("le"),
        )
    )
    r = e.groupBy(
        "event_type", F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("r_day")
    ).agg(
        F.min(F.unix_micros("ts")).alias("rs"),
        F.max(F.unix_micros("ts")).alias("re"),
    )
    joined = interval_join_binned(l, r, "ls", "le", "rs", "re", day_us)
    return joined.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "l_day",
        "event_type",
        "r_day",
        (F.least("le", "re") - F.greatest("ls", "rs"))
        .cast("bigint")
        .alias("overlap_us"),
    )


@_register(
    "nb_classify_lang",
    __import__(
        "spark_extensions_spark.operators.classify", fromlist=["x"]
    ).nb_classify_oracle_sql("documents", "doc_id", "text", "lang"),
    doc="TRAINED classifier next to the heuristic filters: distributed "
    "multinomial Naive Bayes (operators/classify.py) — training is two "
    "hash aggregates over (token, class), the model is two "
    "vocabulary-sized tables, inference is one join; self-train / "
    "self-predict language ID over the corpus with a per-doc "
    "correctness flag. All log-probs floor-quantized to integer 1e-6 "
    "units per distinct (token, class) and summed exactly (lm.py's "
    "proven portability pattern); argmax ties break on class name, a "
    "total order, so the prediction is deterministic on any "
    "partitioning.",
)
def q_nb_classify_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.classify import (
        nb_predict,
        nb_train,
    )

    docs = _t(spark, sf_dir, "documents")["documents"]
    model = nb_train(docs, "doc_id", "text", "lang")
    pred = nb_predict(model, docs, "doc_id", "text")
    return pred.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        F.col("label").alias("pred_label"),
        "score_e6",
        (F.col("label") == F.col("lang")).alias("is_correct"),
    )

from spark_extensions_spark import queries32  # noqa: E402,F401  (registration side effect)
