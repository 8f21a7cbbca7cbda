"""t2 query registry, batch 33: k-core, cross-document span dedup,
SFT chat packing, and the streaming outer join.

Registered into the shared registry (imported from queries32 at module
end). Same determinism rules as the queries.py docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import _register, _t
from spark_extensions_spark.queries25 import _LPA_EDGES_SQL
from spark_extensions_spark.session import scratch_dir


# =====================================================================
# k-core decomposition (graph family)
# =====================================================================

@_register(
    "graph_kcore",
    __import__(
        "spark_extensions_spark.operators.graph", fromlist=["x"]
    ).kcore_oracle_sql(_LPA_EDGES_SQL, k=3, rounds=3),
    doc="Synchronous k-core pruning of the part bought-together graph "
    "(operators/graph.py:k_core; Seidman 1983): 3 rounds of "
    "simultaneous degree-<k node removal — the spam/ad-cluster "
    "density filter (low-core nodes are peripheral, high-core nodes "
    "sit in dense duplication clusters). Per round one map-side-"
    "combinable degree aggregate + two semi-joins, lineage "
    "checkpointed; unrolled-CTE oracle, fully hash-checked.",
)
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.graph import k_core
    from spark_extensions_spark.queries21 import _part_edges

    return k_core(_part_edges(spark, sf_dir), k=3, rounds=3)


# =====================================================================
# Cross-document duplicated spans (LLM-pipeline dedup family)
# =====================================================================

@_register(
    "dedup_cross_doc_spans",
    __import__(
        "spark_extensions_spark.operators.dedup", fromlist=["x"]
    ).cross_doc_spans_oracle_sql("documents", "doc_id", "text", n=5,
                                 min_docs=2),
    doc="CROSS-document duplicated-span audit (operators/dedup.py:"
    "cross_doc_duplicate_spans; Lee et al. 2021 span-granular dedup): "
    "a word 5-gram counts as duplicated when it appears in >=2 "
    "distinct documents — boilerplate, licence headers and syndicated "
    "passages that document-level exact/near-dup matching misses. "
    "Per-doc distinct grams, one gram-frequency aggregate, one "
    "semi-join back — two map-side-combinable hash shuffles; the "
    "100 TB path shuffles xxhash64(gram) 8-byte keys instead of the "
    "gram strings (documented in the operator).",
)
def q_dedup_cross_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.dedup import (
        cross_doc_duplicate_spans,
    )
    from spark_extensions_spark.session import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")["documents"])
    return cross_doc_duplicate_spans(docs, "doc_id", "text", n=5,
                                     min_docs=2)


# =====================================================================
# SFT chat packing: template render + loss-span offsets
# =====================================================================

_SFT_SYS = "You are a helpful assistant."
_SFT_USER_CHARS = 200


def _sft_exprs() -> dict[str, str]:
    """Shared Spark/DuckDB SQL fragments for the chat render.

    Everything is row-local character arithmetic: substring/length/
    concat/md5 behave identically on both engines (both count
    characters, not bytes).
    """
    user = f"substring(text, 1, {_SFT_USER_CHARS})"
    asst = f"substring(text, {_SFT_USER_CHARS + 1})"
    prefix = (
        f"concat('<|system|>', '{_SFT_SYS}', '<|user|>', {user}, "
        f"'<|assistant|>')"
    )
    return {
        "rendered": f"concat({prefix}, {asst})",
        "prefix_len": f"length({prefix})",
        "asst_len": f"length({asst})",
    }


@_register(
    "sft_pack_chat",
    f"""
    SELECT doc_id,
           md5({_sft_exprs()['rendered']}) AS render_md5,
           CAST({_sft_exprs()['prefix_len']} AS INT) AS prompt_chars,
           CAST({_sft_exprs()['prefix_len']} + 1 AS INT) AS loss_start,
           CAST({_sft_exprs()['asst_len']} AS INT) AS loss_chars
    FROM documents
    """,
    doc="SFT chat-template assembly with loss-span annotation: each "
    "document becomes a system/user/assistant conversation rendered "
    "through a fixed template, and the output carries the character "
    "offsets of the assistant span — the mask an SFT trainer needs to "
    "compute loss on completions only. Pure row-local string "
    "arithmetic in one codegen projection, zero shuffle; the rendered "
    "text is fingerprinted (md5) so the full render — not just the "
    "offsets — is hash-checked.",
)
def q_sft_pack_chat(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    e = _sft_exprs()
    return docs.select(
        "doc_id",
        F.md5(F.expr(e["rendered"])).alias("render_md5"),
        F.expr(e["prefix_len"]).cast("int").alias("prompt_chars"),
        (F.expr(e["prefix_len"]) + 1).cast("int").alias("loss_start"),
        F.expr(e["asst_len"]).cast("int").alias("loss_chars"),
    )


# =====================================================================
# Stream-stream LEFT OUTER join (watermark-driven null flush)
# =====================================================================

@_register(
    "streaming_outer_join",
    """
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '10 minutes'
    """,
    doc="Stream-stream LEFT OUTER join: clicks with their attributed "
    "purchase within 10 minutes, or NULL once the watermark proves no "
    "purchase can still arrive. Outer-join nulls only emit when the "
    "GLOBAL watermark (min across both streams) passes the buffered "
    "row, which needs a LATER micro-batch — proven in ONE availableNow "
    "run by staging a far-future sentinel event in BOTH sources as a "
    "second file and rate-limiting the file source to one file per "
    "trigger: batch 0 joins the real events, batch 1 advances both "
    "watermarks via the sentinels, and the trailing no-data "
    "micro-batch (noDataMicroBatches, on by default) flushes the "
    "buffered unmatched clicks as NULL rows. The two-run checkpoint- "
    "recovery form this replaced survives as a pytest equivalence "
    "twin (test_streaming.py). Sentinels are filtered from the "
    "result; oracle is the batch left join.",
)
def q_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _streaming_outer_join_result(spark, sf_dir, two_run=False)


def _streaming_outer_join_result(
    spark: SparkSession, sf_dir: str, two_run: bool
) -> DataFrame:
    """Shared body for the graded single-run form (``two_run=False``)
    and the original two-availableNow-runs checkpoint-recovery form
    kept as an equivalence twin in tests."""
    import os
    import time

    from spark_extensions_spark.streaming import (
        read_stream_parquet,
        run_available_now_to_dir,
        stream_stream_join,
    )

    ev = _t(spark, sf_dir, "events")["events"]
    base_dir = scratch_dir("souter_src_")
    out_dir = scratch_dir("souter_out_")
    ckpt = scratch_dir("souter_ck_")
    cols = ["user_id", "event_id", "ts"]
    # ONE scan+write staging both sources (partitionBy splits the
    # click/purchase dirs; the partition column isn't stored in the
    # files, so each dir reads with the 3-column schema below) — the
    # previous two filtered writes doubled the staging scan cost,
    # which dominated the query's wall time over the stream itself
    (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .select("event_type", *cols)
        .coalesce(1)
        .write.mode("append")
        .partitionBy("event_type")
        .parquet(base_dir)
    )
    clicks_dir = f"{base_dir}/event_type=click"
    purch_dir = f"{base_dir}/event_type=purchase"
    schema = ev.select(*cols).schema

    def write_sentinels() -> None:
        # advance BOTH watermarks past every real event (the lagging
        # stream otherwise pins the global min and nulls never flush)
        # The 1-row sentinel files are written with pyarrow directly:
        # a 1-row Spark write job costs seconds of committer overhead
        # (measured 4-5s each) for a file the stream reads back under
        # an explicit schema anyway.
        import pyarrow as pa
        import pyarrow.parquet as pq

        sentinel_ts = ev.agg(
            F.max("ts") + F.expr("INTERVAL 30 days")
        ).first()[0]
        tbl = pa.table(
            {
                "user_id": pa.array([-1], pa.int64()),
                "event_id": pa.array([-1], pa.int64()),
                "ts": pa.array(
                    [sentinel_ts], pa.timestamp("us", tz="UTC")
                ),
            }
        )
        # the file source orders by modification time: pin the sentinel
        # files strictly AFTER the real-event files so the 1-file-per-
        # trigger run processes real data in batch 0 and sentinels in
        # batch 1 (same-millisecond mtimes would make the order racy)
        future = time.time() + 60
        for d in (clicks_dir, purch_dir):
            p = os.path.join(d, "sentinel.parquet")
            pq.write_table(tbl, p)
            os.utime(p, (future, future))

    def run_once(max_files: int | None) -> None:
        clicks = read_stream_parquet(
            spark, clicks_dir, schema, max_files_per_trigger=max_files
        ).select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        purchases = read_stream_parquet(
            spark, purch_dir, schema, max_files_per_trigger=max_files
        ).select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        joined = stream_stream_join(
            clicks,
            purchases,
            on=F.col("c_user") == F.col("p_user"),
            left_ts="c_ts",
            right_ts="p_ts",
            watermark_delay="1 hour",
            time_bound=(F.col("p_ts") >= F.col("c_ts"))
            & (
                F.col("p_ts")
                <= F.col("c_ts") + F.expr("INTERVAL 10 minutes")
            ),
            how="left_outer",
        )
        run_available_now_to_dir(
            joined.select(
                F.col("c_user").alias("user_id"), "click_id",
                "purchase_id",
            ),
            out_dir,
            ckpt,
            state_partitions=4,
        )

    if two_run:
        run_once(None)
        write_sentinels()
        run_once(None)
    else:
        write_sentinels()
        run_once(1)
    return (
        spark.read.parquet(out_dir)
        .filter(F.col("user_id") >= 0)
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("click_id").cast("bigint").alias("click_id"),
            F.col("purchase_id").cast("bigint").alias("purchase_id"),
        )
    )

from spark_extensions_spark import queries34  # noqa: E402,F401  (registration side effect)
