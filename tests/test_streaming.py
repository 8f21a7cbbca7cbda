"""Streaming tests: deterministic availableNow replay vs batch twins
(SURVEY.md §5.2 — the replay strategy the reference lacks)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from spark_extensions_spark.session import load_tables
from spark_extensions_spark.streaming import (
    read_stream_parquet,
    run_available_now,
    running_aggregate,
    session_aggregate,
    stream_stream_join,
    streaming_dedup,
    windowed_aggregate,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark, tmp_path_factory):
    # load via load_tables to get ts restored from TIMESTAMP(NANOS);
    # materialize to a temp parquet dir the file source can re-read
    ev = load_tables(spark, SF_DIR, "events")["events"]
    path = str(tmp_path_factory.mktemp("events_stream"))
    ev.write.mode("overwrite").parquet(path)
    return path


def test_windowed_aggregate_matches_batch(spark, events_stream):
    stream = read_stream_parquet(spark, events_stream)
    out = run_available_now(
        windowed_aggregate(
            stream,
            "ts",
            "1 hour",
            aggs=[F.count("*").alias("n")],
            keys=["event_type"],
            watermark_delay="1 hour",
        ),
        output_mode="update",
    )
    batch = (
        spark.read.parquet(events_stream)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
        )
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_sliding_window(spark, events_stream):
    stream = read_stream_parquet(spark, events_stream)
    out = run_available_now(
        windowed_aggregate(
            stream,
            "ts",
            "2 hours",
            aggs=[F.count("*").alias("n")],
            slide="1 hour",
            watermark_delay="1 hour",
        ),
        output_mode="update",
    )
    rows = out.collect()
    assert len(rows) > 0
    # sliding windows: every event lands in 2 windows
    assert sum(r["n"] for r in rows) == spark.read.parquet(events_stream).count() * 2


def test_session_window(spark, events_stream):
    # session windows support only append mode: emitted sessions are the
    # ones closed by the final watermark (win_end <= max_ts - delay)
    stream = read_stream_parquet(spark, events_stream)
    out = run_available_now(
        session_aggregate(
            stream,
            "ts",
            "30 minutes",
            aggs=[F.count("*").alias("n")],
            keys=["user_id"],
            watermark_delay="0 seconds",
        ),
        output_mode="append",
    )
    ev = spark.read.parquet(events_stream)
    max_ts = ev.agg(F.max("ts")).head()[0]
    batch = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "user_id",
            "n",
        )
        .filter(F.col("win_end") <= F.lit(max_ts))
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_streaming_dedup(spark, events_stream):
    stream = read_stream_parquet(spark, events_stream)
    out = run_available_now(
        streaming_dedup(
            stream.select("user_id", "event_type", "ts"),
            keys=["user_id", "event_type"],
            ts_col="ts",
            watermark_delay="1 hour",
            within_watermark=True,
        )
    )
    batch_distinct = (
        spark.read.parquet(events_stream)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # all data fits inside one watermark horizon here → exact dedup
    assert out.select("user_id", "event_type").distinct().count() == batch_distinct
    assert out.count() == batch_distinct


def test_stream_stream_join(spark, events_stream):
    clicks = read_stream_parquet(spark, events_stream).filter(
        F.col("event_type") == "click"
    )
    errors = read_stream_parquet(spark, events_stream).filter(
        F.col("event_type") == "error"
    )
    joined = stream_stream_join(
        clicks.select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        ),
        errors.select(
            F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
        ),
        on=F.col("c_user") == F.col("e_user"),
        left_ts="c_ts",
        right_ts="e_ts",
        watermark_delay="1 hour",
        time_bound=(
            (F.col("e_ts") >= F.col("c_ts"))
            & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR"))
        ),
    )
    out = run_available_now(joined)
    ev = spark.read.parquet(events_stream)
    batch = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .join(
            ev.filter(F.col("event_type") == "error").select(
                F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
            ),
            F.expr(
                "c_user = e_user AND e_ts >= c_ts "
                "AND e_ts <= c_ts + INTERVAL 1 HOUR"
            ),
        )
    )
    assert out.count() == batch.count() > 0


def test_running_aggregate_stateful(spark, events_stream):
    stream = read_stream_parquet(spark, events_stream)
    out = run_available_now(
        running_aggregate(
            stream,
            key_cols=["event_type"],
            sum_cols=["value"],
            ts_col="ts",
            watermark_delay="1 hour",
        ),
        output_mode="update",
    )
    # final state per key equals the batch aggregate (single batch run)
    batch = (
        spark.read.parquet(events_stream)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
    )
    got = {
        r["event_type"]: (r["n_events"], round(r["sum_value"], 6))
        for r in out.collect()
    }
    for r in batch.collect():
        n, s = got[r["event_type"]]
        assert n == r["n_events"]
        assert s == round(r["sum_value"], 6)


def test_foreach_batch_sink(spark, events_stream, tmp_path):
    """foreachBatch: custom batch-writer sink sees every row exactly once
    across availableNow micro-batches."""
    from pyspark.sql import functions as F

    from spark_extensions_spark.streaming import run_foreach_batch

    out_dir = str(tmp_path)

    def write_batch(batch_df, batch_id):
        batch_df.groupBy("event_type").agg(
            F.count("*").alias("n")
        ).withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(out_dir)

    stream = read_stream_parquet(spark, events_stream, max_files_per_trigger=1)
    run_foreach_batch(stream, write_batch)
    agg = spark.read.parquet(out_dir).groupBy("event_type").agg(
        F.sum("n").alias("total")
    )
    batch = (
        spark.read.parquet(events_stream).groupBy("event_type").count()
    )
    got = {r["event_type"]: r["total"] for r in agg.collect()}
    for r in batch.collect():
        assert got[r["event_type"]] == r["count"]


def test_session_window_multibatch_merge(spark, events_stream):
    """Session windows must MERGE across micro-batches: replaying one
    file per trigger (many batches, state carried between them) yields
    the same sessions as one-shot processing."""
    from spark_extensions_spark.streaming import (
        read_stream_parquet,
        run_available_now,
        session_aggregate,
    )

    def run(max_files):
        stream = read_stream_parquet(
            spark, events_stream, max_files_per_trigger=max_files
        )
        out = run_available_now(
            session_aggregate(
                stream,
                "ts",
                "30 minutes",
                aggs=[F.count("*").alias("n")],
                keys=["user_id"],
                watermark_delay="10 years",  # never drop: exact replay
            ),
            output_mode="complete",
            state_partitions=4,
        )
        return {tuple(r) for r in out.collect()}

    assert run(1) == run(None)


def test_streaming_upsert_sink(spark, events_stream, tmp_path):
    """foreachBatch upsert sink: the final snapshot holds the
    order-cols-max row per key, independent of batch chopping, and
    matches the batch-mode answer."""
    from spark_extensions_spark.streaming import run_foreach_batch
    from spark_extensions_spark.streaming.incremental import (
        latest_per_key,
        merge_batch_fn,
        read_upsert_table,
    )

    target = str(tmp_path)
    stream = read_stream_parquet(
        spark, events_stream, max_files_per_trigger=1
    )
    run_foreach_batch(
        stream,
        merge_batch_fn(target, ["user_id"], order_cols=["ts", "event_id"]),
    )
    final = read_upsert_table(spark, target)
    batch = spark.read.parquet(events_stream)
    expect = latest_per_key(batch, ["user_id"], ["ts", "event_id"])
    got = {
        r["user_id"]: (r["event_id"], r["value"]) for r in final.collect()
    }
    want = {
        r["user_id"]: (r["event_id"], r["value"]) for r in expect.collect()
    }
    assert got == want
    assert len(got) == batch.select("user_id").distinct().count()


def test_ewma_state_matches_batch_recursion(spark, events_stream):
    """ewma_state over the availableNow replay equals a driver-side
    integer recursion over the same (ts, id)-ordered events, and is
    independent of batch chopping when files arrive in time order."""
    from spark_extensions_spark.streaming import (
        read_stream_parquet,
        run_available_now,
    )
    from spark_extensions_spark.streaming.stateful import ewma_state

    ev = load_tables(spark, SF_DIR, "events")["events"]
    rows = (
        ev.select("user_id", "ts", "event_id", "value")
        .orderBy("ts", "event_id")
        .collect()
    )
    ref: dict = {}
    for r in rows:
        x = int(round(r.value * 100))
        y = ref.get(r.user_id)
        ref[r.user_id] = x if y is None else (3 * x + 7 * y) // 10

    stream = read_stream_parquet(spark, events_stream)
    out = run_available_now(
        ewma_state(stream, "user_id", "ts", "event_id", "value"),
        output_mode="update",
        state_partitions=4,
    )
    got = {r.user_id: r.ewma for r in out.collect()}
    assert got == {k: y / 100 for k, y in ref.items()}


def test_drift_monitor_scores_each_batch(spark, events_stream, tmp_path):
    """One TVD metrics row per micro-batch; the single-batch replay
    score equals the batch-twin TVD; idempotent on rerun."""
    from spark_extensions_spark.operators.stats import tvd_drift
    from spark_extensions_spark.streaming import read_stream_parquet
    from spark_extensions_spark.streaming.ops import drift_monitor

    ev = load_tables(spark, SF_DIR, "events")["events"]
    ref = ev.filter(F.col("user_id") % 2 == 0).select("event_type")
    metrics = str(tmp_path)

    stream = read_stream_parquet(spark, events_stream)
    drift_monitor(stream.select("event_type"), ref, "event_type", metrics)
    rows = spark.read.parquet(metrics).collect()
    assert len(rows) >= 1
    # single-batch availableNow: score equals the batch twin
    tagged = (
        ev.select(F.col("event_type").alias("b"))
        .withColumn("__side", F.lit(True))
        .unionByName(
            ref.select(F.col("event_type").alias("b")).withColumn(
                "__side", F.lit(False)
            )
        )
    )
    twin = tvd_drift(tagged, "b", F.col("__side")).first()
    total = {r.batch_id: r.tvd for r in rows}
    if len(rows) == 1:
        assert abs(rows[0].tvd - twin.tvd) < 1e-12
    assert all(0.0 <= v <= 1.0 for v in total.values())


def test_scd2_stream_sink(spark, events_stream, tmp_path):
    """CDC micro-batches historize into a versioned SCD2 target; the
    final open slice equals the batch latest-per-key survivors, and
    closed slices capture every overwritten value."""
    from spark_extensions_spark.streaming import (
        read_stream_parquet,
        run_foreach_batch,
    )
    from spark_extensions_spark.streaming.incremental import (
        read_upsert_table,
        latest_per_key,
        scd2_batch_fn,
    )

    target = str(tmp_path)
    stream = read_stream_parquet(
        spark, events_stream, max_files_per_trigger=1
    ).select(
        F.col("user_id").alias("k"),
        F.col("value").alias("v"),
        F.lit("U").alias("op"),
        F.col("ts"),
        F.col("event_id"),
    )
    run_foreach_batch(
        stream,
        scd2_batch_fn(target, ["k"], ["v"], ["ts", "event_id"]),
    )
    hist = read_upsert_table(spark, target)
    open_rows = hist.filter(F.col("is_current")).select("k", "v")
    # batch twin: the overall latest value per user
    ev = load_tables(spark, SF_DIR, "events")["events"]
    expect = latest_per_key(
        ev.select(
            F.col("user_id").alias("k"),
            F.col("value").alias("v"),
            "ts",
            "event_id",
        ),
        ["k"],
        ["ts", "event_id"],
    ).select("k", "v")
    assert {tuple(r) for r in open_rows.collect()} == {
        tuple(r) for r in expect.collect()
    }
    # history depth: at least one closed slice exists if any user got
    # multiple values across batches
    n_users = expect.count()
    assert hist.count() >= n_users
    assert hist.filter(~F.col("is_current")).count() == hist.count() - n_users


def test_read_state_recovers_complete_agg(spark, tmp_path):
    """The state data source must return exactly the aggregate state a
    complete-mode count/max query checkpointed, partition-parallel."""
    from spark_extensions_spark.streaming import (
        read_state,
        read_state_metadata,
        read_stream_parquet,
        run_available_now,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    spark.range(100).select(
        (F.col("id") % 9).alias("k"), F.col("id").alias("v")
    ).write.parquet(src)
    stream = read_stream_parquet(spark, src)
    agg = stream.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.max("v").alias("mx")
    )
    run_available_now(
        agg, output_mode="complete", checkpoint_dir=ckpt,
        state_partitions=4,
    )
    st = read_state(spark, ckpt).select(
        F.col("key.k").alias("k"),
        F.col("value.count").alias("n"),
        F.col("value.max").alias("mx"),
    )
    got = {(r["k"], r["n"], r["mx"]) for r in st.collect()}
    want = {
        (k, 100 // 9 + (1 if k < 100 % 9 else 0), max(
            v for v in range(100) if v % 9 == k
        ))
        for k in range(9)
    }
    assert got == want
    md = read_state_metadata(spark, ckpt)
    row = md.first()
    assert row["numPartitions"] == 4
    # batchId selection: state at the only batch equals the final state
    st0 = read_state(spark, ckpt, batch_id=0)
    assert st0.count() == 9


def test_rocksdb_state_store_provider(spark, tmp_path):
    """A stateful replay under the RocksDB provider must produce the
    same result as the default HDFS-backed provider, and the state data
    source must read its checkpoint back."""
    from spark_extensions_spark.streaming import (
        ROCKSDB_PROVIDER,
        read_state,
        read_stream_parquet,
        run_available_now,
    )

    src = str(tmp_path / "src")
    spark.range(300).select(
        (F.col("id") % 13).alias("k"), F.col("id").alias("v")
    ).write.parquet(src)

    def agg():
        return (
            read_stream_parquet(spark, src)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.max("v").alias("mx"))
        )

    ck_rocks = str(tmp_path / "ck_rocks")
    rocks = run_available_now(
        agg(), output_mode="complete", checkpoint_dir=ck_rocks,
        state_partitions=4, state_store_provider=ROCKSDB_PROVIDER,
    )
    default = run_available_now(
        agg(), output_mode="complete", state_partitions=4,
    )
    assert sorted(map(tuple, rocks.collect())) == sorted(
        map(tuple, default.collect())
    )
    # the conf was restored after the run
    assert (
        spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        is None
    )
    # offline state read of the RocksDB checkpoint
    st = read_state(spark, ck_rocks)
    assert st.count() == 13


def test_streaming_outer_join_single_run_equals_two_run(spark):
    """The graded streaming_outer_join proves the watermark null-flush
    in ONE availableNow run (sentinel files staged up front, file
    source rate-limited to 1 file/trigger, trailing no-data batch
    flushes the nulls). This twin pins it equal to the original
    two-availableNow-runs checkpoint-recovery form, and both to the
    batch left join."""
    from spark_extensions_spark.queries33 import (
        _streaming_outer_join_result,
    )

    sf_dir = "/root/testdata/sf0.001"
    single = sorted(
        map(
            tuple,
            _streaming_outer_join_result(
                spark, sf_dir, two_run=False
            ).collect(),
        )
    )
    two = sorted(
        map(
            tuple,
            _streaming_outer_join_result(
                spark, sf_dir, two_run=True
            ).collect(),
        )
    )
    assert single == two
    assert len(single) > 0
    # batch twin
    from spark_extensions_spark.session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    batch = (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 minutes")),
            "left",
        )
        .select("user_id", "click_id", "purchase_id")
    )
    assert single == sorted(map(tuple, batch.collect()))
