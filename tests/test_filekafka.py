"""File-backed Kafka-semantics source/sink (sources/filekafka.py).

Covers the log semantics the real Kafka connector would exercise
(`ConfluentAvroConnectorTest.scala:35-47` is the reference behavior the
end-to-end tests mirror): key-hash placement, per-partition contiguous
offsets, offset-ranged batch reads, incremental micro-batch streaming
with checkpointed offsets, exactly-once sink commit, and the Confluent
Avro codec decoding messages read back from the log.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from spark_extensions_spark.sources import filekafka as fk


def _mkroot(tmp_path):
    root = str(tmp_path / "log")
    os.makedirs(root, exist_ok=True)
    return root


def _messages(spark, n=200):
    return spark.range(n).select(
        F.concat(F.lit("k"), (F.col("id") % 37).cast("string"))
        .cast("binary")
        .alias("key"),
        F.concat(F.lit("v"), F.col("id").cast("string"))
        .cast("binary")
        .alias("value"),
    )


# ---------------------------------------------------------------------
# Partitioner fidelity
# ---------------------------------------------------------------------

def test_murmur2_reference_implementation():
    """Check murmur2 against an independent, line-for-line transcription
    of the published Java algorithm
    (org.apache.kafka.common.utils.Utils#murmur2), including every tail
    branch (lengths 0..5) and multi-word inputs."""

    def java_murmur2(data: bytes) -> int:
        # Direct transcription with Java signed-int simulation
        def to_i32(x):
            x &= 0xFFFFFFFF
            return x - (1 << 32) if x >= (1 << 31) else x

        length = len(data)
        seed = 0x9747B28C
        m = 0x5BD1E995
        r = 24
        h = to_i32(seed ^ length)
        length4 = length // 4
        for i in range(length4):
            i4 = i * 4
            k = (
                (data[i4] & 0xFF)
                + ((data[i4 + 1] & 0xFF) << 8)
                + ((data[i4 + 2] & 0xFF) << 16)
                + ((data[i4 + 3] & 0xFF) << 24)
            )
            k = to_i32(k * m)
            k ^= (k & 0xFFFFFFFF) >> r  # >>> in Java
            k = to_i32(k * m)
            h = to_i32(h * m)
            h = to_i32(h ^ k)
        rem = length % 4
        if rem >= 3:
            h = to_i32(h ^ ((data[(length & ~3) + 2] & 0xFF) << 16))
        if rem >= 2:
            h = to_i32(h ^ ((data[(length & ~3) + 1] & 0xFF) << 8))
        if rem >= 1:
            h = to_i32(h ^ (data[length & ~3] & 0xFF))
            h = to_i32(h * m)
        h = to_i32(h ^ ((h & 0xFFFFFFFF) >> 13))
        h = to_i32(h * m)
        h = to_i32(h ^ ((h & 0xFFFFFFFF) >> 15))
        return h & 0xFFFFFFFF

    inputs = [b"", b"a", b"ab", b"abc", b"abcd", b"abcde",
              b"user-12345", b"\x00\xff" * 9, bytes(range(256))]
    for data in inputs:
        assert fk.murmur2(data) == java_murmur2(data), data


def test_default_partition_bounds_and_null():
    for n in (1, 3, 8):
        assert fk.default_partition(None, n) == 0
        for k in (b"", b"user-1", b"\x00\xff" * 7):
            assert 0 <= fk.default_partition(k, n) < n


# ---------------------------------------------------------------------
# Producer + batch reader
# ---------------------------------------------------------------------

def test_produce_roundtrip_and_offsets(spark, tmp_path):
    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    report = fk.produce(
        _messages(spark), root, "t1", num_partitions=4
    )
    assert sum(c for _, c in report.values()) == 200
    df = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "t1")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 200
    assert set(df.columns) == {
        "key", "value", "topic", "partition", "offset", "timestamp",
        "timestampType",
    }
    # per-partition offsets are contiguous from 0
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["partition"], []).append(r["offset"])
    for pid, offs in by_pid.items():
        assert sorted(offs) == list(range(len(offs)))
    # same key always lands in the same partition (Kafka affinity)
    key_pids = {}
    for r in rows:
        key_pids.setdefault(bytes(r["key"]), set()).add(r["partition"])
    assert all(len(p) == 1 for p in key_pids.values())
    # placement matches the default partitioner exactly
    for k, pids in key_pids.items():
        assert pids == {fk.default_partition(k, 4)}


def test_produce_appends_and_offset_slicing(spark, tmp_path):
    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    fk.produce(_messages(spark, 100), root, "t2", num_partitions=2)
    ends1 = fk.end_offsets(root, "t2")
    fk.produce(_messages(spark, 100), root, "t2", num_partitions=2)
    ends2 = fk.end_offsets(root, "t2")
    assert sum(ends2.values()) == 200
    assert all(ends2[p] >= ends1[p] for p in ends1)
    # read only the second produce via startingOffsets JSON
    second = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "t2")
        .option("startingOffsets", json.dumps({str(p): ends1[p] for p in ends1}))
        .load()
    )
    assert second.count() == 100
    # bounded range
    bounded = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "t2")
        .option("startingOffsets", json.dumps({"0": 0, "1": 0}))
        .option("endingOffsets", json.dumps({str(p): ends1[p] for p in ends1}))
        .load()
    )
    assert bounded.count() == 100
    # partition-count mismatch is rejected
    with pytest.raises(Exception, match="partitions"):
        fk.produce(_messages(spark, 10), root, "t2", num_partitions=3)


def test_timestamp_roundtrip(spark, tmp_path):
    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    src = spark.createDataFrame(
        [("a", "x", dt.datetime(2024, 5, 1, 12, 30, 15, 250000))],
        "key string, value string, ts timestamp",
    )
    fk.produce(src, root, "ts_topic", num_partitions=1, ts_col="ts")
    row = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "ts_topic")
        .load()
        .collect()[0]
    )
    assert row["timestamp"] == dt.datetime(2024, 5, 1, 12, 30, 15, 250000)
    assert row["timestampType"] == 0


# ---------------------------------------------------------------------
# Stream reader: planner unit tests (no Spark) + end-to-end replay
# ---------------------------------------------------------------------

def test_stream_planner_units(spark, tmp_path):
    root = _mkroot(tmp_path)
    fk.produce(_messages(spark, 120), root, "t3", num_partitions=3)
    r = fk._FileKafkaStreamReader(
        {"path": root, "topic": "t3", "maxoffsetspertrigger": "50"}
    )
    start = r.initialOffset()
    assert all(v == 0 for v in start.values())
    ends = fk.end_offsets(root, "t3")
    # capped batches advance <=50 offsets per trigger until caught up
    total, batches, pos = 0, 0, start
    while True:
        nxt = r.latestOffset()
        adv = sum(int(nxt[p]) - int(pos[p]) for p in nxt)
        if adv == 0:
            break
        assert adv <= 50
        parts = r.partitions(pos, nxt)
        got = sum(p.hi - p.lo for p in parts if p.path)
        assert got == adv
        total += adv
        batches += 1
        pos = nxt
    assert total == sum(ends.values()) == 120
    assert batches >= 3


def test_stream_replay_equals_batch(spark, tmp_path):
    from spark_extensions_spark.streaming import run_available_now

    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    fk.produce(_messages(spark, 150), root, "t4", num_partitions=3)
    s = (
        spark.readStream.format("filekafka")
        .option("path", root)
        .option("topic", "t4")
        .load()
    )
    out = run_available_now(
        s.select(F.col("value").cast("string").alias("v")), state_partitions=4
    )
    batch = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "t4")
        .load()
    )
    assert sorted(r["v"] for r in out.collect()) == sorted(
        r["value"].decode() for r in batch.select("value").collect()
    )


def test_stream_incremental_checkpoint(spark, tmp_path):
    """Second availableNow run against the same checkpoint reads ONLY
    the messages produced after the first run (offset recovery via a
    durable parquet sink — the memory sink cannot recover)."""
    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    fk.produce(_messages(spark, 60), root, "t5", num_partitions=2)

    def run_once():
        s = (
            spark.readStream.format("filekafka")
            .option("path", root)
            .option("topic", "t5")
            .load()
        )
        q = (
            s.select(F.col("value").cast("string").alias("v"))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).count()

    assert run_once() == 60
    fk.produce(_messages(spark, 25), root, "t5", num_partitions=2)
    assert run_once() == 85  # only the 25 new messages were appended


# ---------------------------------------------------------------------
# Sink (batch + streaming exactly-once commit)
# ---------------------------------------------------------------------

def test_batch_sink_write(spark, tmp_path):
    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    (
        _messages(spark, 80)
        .write.format("filekafka")
        .option("path", root)
        .option("topic", "sink1")
        .option("numPartitions", 3)
        .mode("append")
        .save()
    )
    back = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "sink1")
        .load()
    )
    rows = back.collect()
    assert len(rows) == 80
    for r in rows:
        assert r["partition"] == fk.default_partition(bytes(r["key"]), 3)
    # no staging leftovers after commit
    staging = os.path.join(root, "sink1", ".staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []


def test_stream_sink_write(spark, tmp_path):
    """writeStream into the topic log: availableNow replay of a file
    stream publishes each micro-batch atomically; log contents equal
    the input."""
    from spark_extensions_spark.streaming import read_stream_parquet

    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    src_dir = str(tmp_path / "src")
    _messages(spark, 90).write.parquet(src_dir)
    s = read_stream_parquet(spark, src_dir)
    q = (
        s.writeStream.format("filekafka")
        .option("path", root)
        .option("topic", "sink2")
        .option("numPartitions", 2)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    back = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "sink2")
        .load()
    )
    assert back.count() == 90
    offs = {r["partition"]: r["offset"] for r in
            back.groupBy("partition").agg(F.max("offset").alias("offset"))
            .collect()}
    counts = {r["partition"]: r["cnt"] for r in
              back.groupBy("partition").agg(F.count("*").alias("cnt"))
              .collect()}
    for pid, mx in offs.items():
        assert mx == counts[pid] - 1  # contiguous from 0


# ---------------------------------------------------------------------
# Confluent codec end-to-end over the log (the reference's flagship)
# ---------------------------------------------------------------------

def test_confluent_avro_over_filekafka_stream(spark, sf_dir, tmp_path):
    """encode → produce → readStream → decode equals the source table:
    the `ConfluentAvroConnectorTest.scala:35-47` behavior, minus the
    broker the environment cannot provide."""
    from spark_extensions_spark.confluent import (
        InMemorySchemaRegistry,
        from_confluent_avro,
        to_confluent_avro,
    )
    from spark_extensions_spark.session import load_tables
    from spark_extensions_spark.streaming import run_available_now

    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    docs = load_tables(spark, sf_dir, "documents")["documents"].limit(300)
    client = InMemorySchemaRegistry()
    payload = docs.select(
        F.col("doc_id").cast("string").alias("k"),
        F.struct("doc_id", "lang", "text").alias("rec"),
    )
    framed = payload.select(
        F.col("k").cast("binary").alias("key"),
        to_confluent_avro(
            payload, "rec", "docs", "value", client, update_allowed=True
        ).alias("value"),
    )
    fk.produce(framed, root, "docs", num_partitions=3, key_col="key",
               value_col="value")
    s = (
        spark.readStream.format("filekafka")
        .option("path", root)
        .option("topic", "docs")
        .load()
    )
    decoded = s.select(
        from_confluent_avro("value", "docs", "value", client).alias("rec")
    ).select("rec.doc_id", "rec.lang", "rec.text")
    got = run_available_now(decoded, state_partitions=4)
    expect = docs.select("doc_id", "lang", "text")
    assert got.count() == 300
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_schema_evolution_over_log(spark, tmp_path):
    """One topic carrying two writer-schema generations: v1 messages
    (no ``score`` field) and v2 messages (with it) interleave in the
    log; a single latest-reader decode resolves each message by its
    embedded schemaId, filling v1's missing field from the default —
    the resolving-deserializer behavior the reference patches in
    (`MyAvroDeserializer`/`ConfluentAvroDataToCatalyst`), here end-to-
    end through the Kafka-semantics log."""
    from spark_extensions_spark.confluent import (
        InMemorySchemaRegistry,
        from_confluent_avro,
        to_confluent_avro,
    )

    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    client = InMemorySchemaRegistry()

    v1 = spark.range(50).select(
        F.col("id").cast("string").cast("binary").alias("key"),
        F.struct(
            F.col("id").alias("doc_id"), F.lit("en").alias("lang")
        ).alias("rec"),
    )
    framed1 = v1.select(
        "key",
        to_confluent_avro(
            v1, "rec", "evo", "value", client, update_allowed=True
        ).alias("value"),
    )
    fk.produce(framed1, root, "evo", num_partitions=2)

    v2 = spark.range(50, 80).select(
        F.col("id").cast("string").cast("binary").alias("key"),
        F.struct(
            F.col("id").alias("doc_id"),
            F.lit("de").alias("lang"),
            # nullif ⇒ nullable field ⇒ avro union [null, long] with
            # default null — the only backward-compatible way to ADD a
            # field, and the compat gate rejects the non-null variant
            F.nullif(F.col("id") * 2, F.lit(-1)).alias("score"),
        ).alias("rec"),
    )
    framed2 = v2.select(
        "key",
        to_confluent_avro(
            v2, "rec", "evo", "value", client, update_allowed=True
        ).alias("value"),
    )
    fk.produce(framed2, root, "evo", num_partitions=2)

    msgs = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "evo")
        .load()
    )
    decoded = msgs.select(
        from_confluent_avro("value", "evo", "value", client).alias("rec")
    ).select("rec.doc_id", "rec.lang", "rec.score")
    rows = {r["doc_id"]: (r["lang"], r["score"]) for r in decoded.collect()}
    assert len(rows) == 80
    # v1 messages decode under the v2 reader with the field default
    assert all(rows[i] == ("en", None) for i in range(50))
    assert all(rows[i] == ("de", i * 2) for i in range(50, 80))


def test_batch_reader_filter_pushdown(spark, tmp_path):
    """partition=/offset< predicates prune SEGMENTS at plan time: the
    reader consumes them, the planned slice count shrinks, and results
    stay exact."""
    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    # several produce calls → several segments per partition
    for _ in range(3):
        fk.produce(_messages(spark, 60), root, "pf", num_partitions=3)

    def reader_with(filters):
        from pyspark.sql.datasource import EqualTo, LessThan

        r = fk._FileKafkaBatchReader({"path": root, "topic": "pf"})
        rejected = list(r.pushFilters(filters))
        return r, rejected

    from pyspark.sql.datasource import EqualTo, LessThan

    full, _ = reader_with([])
    n_full = len(full.partitions())
    pruned, rejected = reader_with(
        [EqualTo(("partition",), 1), LessThan(("offset",), 5)]
    )
    assert rejected == []
    slices = pruned.partitions()
    assert 0 < len(slices) < n_full
    assert all(s.pid == 1 and s.hi <= 5 for s in slices if s.path)

    # end-to-end: engine results identical to post-scan filtering
    df = (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", "pf")
        .load()
    )
    got = df.filter("partition = 1 AND offset < 5").count()
    allrows = df.collect()
    expect = sum(1 for r in allrows if r["partition"] == 1 and r["offset"] < 5)
    assert got == expect > 0


def test_projected_avro_decode(spark):
    """from_confluent_avro(fields=...) narrows the reader schema; the
    decode output struct has only those fields, values equal the full
    decode, and unknown names are rejected."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from spark_extensions_spark.confluent import (
        InMemorySchemaRegistry,
        from_confluent_avro,
        to_confluent_avro,
    )

    client = InMemorySchemaRegistry()
    src = spark.range(100).select(
        F.struct(
            F.col("id").alias("a"),
            (F.col("id") * 2).alias("b"),
            F.concat(F.lit("s"), F.col("id").cast("string")).alias("c"),
        ).alias("rec")
    )
    framed = src.select(
        to_confluent_avro(
            src, "rec", "proj", "value", client, update_allowed=True
        ).alias("msg")
    )
    proj = framed.select(
        from_confluent_avro("msg", "proj", "value", client,
                            fields=["a", "c"]).alias("r")
    )
    assert [f.name for f in proj.schema["r"].dataType.fields] == ["a", "c"]
    rows = {r["r"]["a"]: r["r"]["c"] for r in proj.collect()}
    assert rows == {i: f"s{i}" for i in range(100)}
    with _pytest.raises(ValueError, match="nope"):
        framed.select(
            from_confluent_avro("msg", "proj", "value", client,
                                fields=["nope"])
        )


def test_stream_stream_join_two_topics(spark, sf_dir, tmp_path):
    """Two topics joined stream-to-stream with watermarks + an event-
    time interval condition (purchase within 1h after a click by the
    same user), replayed availableNow; equals the batch join twin."""
    from spark_extensions_spark.session import load_tables
    from spark_extensions_spark.streaming import run_available_now

    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    e = load_tables(spark, sf_dir, "events")["events"]

    def topic_of(df, name):
        msgs = df.select(
            F.col("user_id").cast("string").cast("binary").alias("key"),
            F.to_json(F.struct("event_id", "ts")).cast("binary").alias("value"),
        )
        fk.produce(msgs, root, name, num_partitions=4)

    clicks_b = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id"), F.col("ts")
    )
    buys_b = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id"), F.col("ts")
    )
    topic_of(clicks_b, "clicks")
    topic_of(buys_b, "buys")

    def stream_of(name, alias):
        s = (
            spark.readStream.format("filekafka")
            .option("path", root)
            .option("topic", name)
            .load()
        )
        return s.select(
            F.col("key").cast("string").cast("bigint").alias(f"{alias}_user"),
            F.from_json(
                F.col("value").cast("string"), "event_id bigint, ts timestamp"
            ).alias("j"),
        ).select(
            f"{alias}_user",
            F.col("j.event_id").alias(f"{alias}_id"),
            F.col("j.ts").alias(f"{alias}_ts"),
        )

    c = stream_of("clicks", "c").withWatermark("c_ts", "2 hours")
    b = stream_of("buys", "b").withWatermark("b_ts", "2 hours")
    joined = c.join(
        b,
        (F.col("c_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("c_ts"))
        & (F.col("b_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("c_user", "c_id", "b_id")
    got = run_available_now(joined, state_partitions=8)

    expect = (
        clicks_b.alias("c")
        .join(
            buys_b.alias("b"),
            (F.col("c.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("c.ts"))
            & (F.col("b.ts") <= F.col("c.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            F.col("c.user_id").alias("c_user"),
            F.col("c.event_id").alias("c_id"),
            F.col("b.event_id").alias("b_id"),
        )
    )
    assert got.count() == expect.count() > 0
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_segment_compaction_and_retention(spark, tmp_path):
    """Many small produces → compaction merges to one segment per
    partition with identical contents; the crash window (merged +
    originals both on disk) never double-reads; retention truncation
    drops whole segments below the floor."""
    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    for _ in range(4):
        fk.produce(_messages(spark, 50), root, "maint", num_partitions=2)

    def read_all():
        return (
            spark.read.format("filekafka")
            .option("path", root)
            .option("topic", "maint")
            .load()
        )

    before = sorted(
        (r["partition"], r["offset"], bytes(r["value"])) for r in
        read_all().collect()
    )
    assert len(before) == 200
    n_segs_before = sum(
        len(fk.list_segments(root, "maint", p)) for p in (0, 1)
    )
    assert n_segs_before == 8

    # simulate the crash window: publish merged segments WITHOUT
    # deleting originals — containment dedupe must prevent dup reads
    import pyarrow.parquet as pq

    for p in (0, 1):
        segs = fk.list_segments(root, "maint", p)
        keys, vals, tss = [], [], []
        for s, e, path in segs:
            t = pq.read_table(path)
            keys.extend(t.column("key").to_pylist())
            vals.extend(t.column("value").to_pylist())
            tss.extend(t.column("ts_us").to_pylist())
        fk._write_segment(root, "maint", p, segs[0][0], keys, vals, tss)
    assert read_all().count() == 200  # overlapping files, no dup rows

    # full compaction finishes the job: one segment per partition
    fk.compact_segments(root, "maint")
    for p in (0, 1):
        assert len(fk.list_segments(root, "maint", p)) == 1
    after = sorted(
        (r["partition"], r["offset"], bytes(r["value"])) for r in
        read_all().collect()
    )
    assert after == before

    # retention: drop everything below half of each partition's end
    ends = fk.end_offsets(root, "maint")
    # re-fragment first so truncation has whole segments to drop
    fk.produce(_messages(spark, 40), root, "maint", num_partitions=2)
    floors = {p: ends[p] for p in ends}
    deleted = fk.truncate_before(root, "maint", floors)
    assert deleted == 2  # the two compacted base segments
    kept = read_all()
    assert kept.count() == 40
    for r in kept.collect():
        assert r["offset"] >= floors[r["partition"]]


def test_slice_chunking_restores_parallelism(spark, tmp_path):
    """After compaction a partition is ONE big segment; the planner
    chunks it at sliceSize offsets (row-group-pruned partial reads),
    so scan parallelism does not collapse — and results are identical
    across slice sizes."""
    fk.register_filekafka(spark)
    root = _mkroot(tmp_path)
    for _ in range(4):
        fk.produce(_messages(spark, 250), root, "big", num_partitions=2)
    fk.compact_segments(root, "big")
    for p in (0, 1):
        assert len(fk.list_segments(root, "big", p)) == 1

    def load(slice_size):
        return (
            spark.read.format("filekafka")
            .option("path", root)
            .option("topic", "big")
            .option("sliceSize", slice_size)
            .load()
        )

    coarse = load(10**6)
    fine = load(100)
    assert coarse.rdd.getNumPartitions() == 2
    assert fine.rdd.getNumPartitions() >= 8
    a = sorted((r["partition"], r["offset"]) for r in coarse.collect())
    b = sorted((r["partition"], r["offset"]) for r in fine.collect())
    assert a == b and len(a) == 1000


# ---------------------------------------------------------------------
# Offset continuity, replayed-commit idempotence, recovery cap
# ---------------------------------------------------------------------

def test_truncate_all_segments_never_reuses_offsets(spark, tmp_path):
    """Retention that deletes EVERY segment of a partition must not
    rewind offset assignment: the next produce continues from the old
    end (Kafka's log-end invariant), so checkpointed consumers never
    silently re-read different records at old offsets."""
    root = _mkroot(tmp_path)
    fk.produce(_messages(spark, 100), root, "trunc", num_partitions=2)
    ends_before = fk.end_offsets(root, "trunc")
    assert sum(ends_before.values()) == 100

    # truncate everything (retention floor at the end offsets)
    fk.truncate_before(root, "trunc", dict(ends_before))
    for pid in (0, 1):
        assert fk.list_segments(root, "trunc", pid) == []
        # end offset survives via the watermark
        assert (
            fk.partition_end_offset(root, "trunc", pid) == ends_before[pid]
        )

    fk.produce(_messages(spark, 100), root, "trunc", num_partitions=2)
    for pid in (0, 1):
        segs = fk.list_segments(root, "trunc", pid)
        assert segs and segs[0][0] == ends_before[pid]  # no offset reuse


def test_stream_sink_replayed_batch_is_idempotent(spark, tmp_path):
    """Replaying a micro-batch commit (crash between sink commit and
    Spark's checkpoint commit-log write) must not duplicate records:
    the second publish of the same batchId is a no-op."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = _mkroot(tmp_path)
    fk.ensure_topic(root, "eos", 2)

    def stage(tag):
        sdir = os.path.join(root, "eos", ".staging")
        os.makedirs(sdir, exist_ok=True)
        by_pid = {}
        for pid in (0, 1):
            path = os.path.join(sdir, f"replay-{tag}-p{pid}.parquet")
            pq.write_table(
                pa.table(
                    {
                        "key": pa.array([b"k%d" % pid], type=pa.binary()),
                        "value": pa.array([b"v%d" % pid], type=pa.binary()),
                        "ts_us": pa.array([0], type=pa.int64()),
                    }
                ),
                path,
            )
            by_pid[pid] = [path]
        return by_pid

    fk._publish_staged(root, "eos", stage("a"), batch_id=7)
    ends1 = fk.end_offsets(root, "eos")
    assert sum(ends1.values()) == 2

    # replay: same batchId, freshly staged files -> skipped entirely
    fk._publish_staged(root, "eos", stage("b"), batch_id=7)
    assert fk.end_offsets(root, "eos") == ends1

    # a NEW batch publishes normally
    fk._publish_staged(root, "eos", stage("c"), batch_id=8)
    assert sum(fk.end_offsets(root, "eos").values()) == 4

    # markers exist for both batches
    for b in (7, 8):
        for pid in (0, 1):
            assert fk._batch_published(root, "eos", pid, b)


def test_max_offsets_cap_fair_share_prefers_laggards(spark, tmp_path):
    """The per-trigger budget is spread smallest-lag-first so leftover
    budget flows to the lagging partitions (the previous pid-ordered
    iteration could strand budget on a big laggard visited first)."""
    root = _mkroot(tmp_path)
    fk.ensure_topic(root, "lag", 2)
    # p0: 100 messages (big laggard), p1: 1 message
    fk._write_segment(
        root, "lag", 0, 0,
        [b"k"] * 100, [b"v%d" % i for i in range(100)], [0] * 100,
    )
    fk._write_segment(root, "lag", 1, 0, [b"k"], [b"v"], [0])

    r = fk._FileKafkaStreamReader(
        {"path": root, "topic": "lag", "maxoffsetspertrigger": "10"}
    )
    r.initialOffset()
    end = {int(k): v for k, v in r.latestOffset().items()}
    # p1 takes its full lag (1), p0 gets the remaining 9 — total = cap
    assert end[1] == 1
    assert end[0] == 9


def test_group_id_restores_cap_after_restart(spark, tmp_path):
    """With groupId set, a fresh reader (restart: latestOffset without
    initialOffset) recovers its position from the group file and the
    maxOffsetsPerTrigger cap applies to the first recovery batch."""
    root = _mkroot(tmp_path)
    fk.ensure_topic(root, "grp", 1)
    fk._write_segment(
        root, "grp", 0, 0,
        [b"k"] * 100, [b"v%d" % i for i in range(100)], [0] * 100,
    )
    opts = {
        "path": root, "topic": "grp",
        "maxoffsetspertrigger": "10", "groupid": "g1",
    }
    r1 = fk._FileKafkaStreamReader(opts)
    r1.initialOffset()
    end1 = {int(k): v for k, v in r1.latestOffset().items()}
    assert end1[0] == 10  # capped, position persisted

    # "restart": new reader instance, latestOffset called directly
    r2 = fk._FileKafkaStreamReader(opts)
    end2 = {int(k): v for k, v in r2.latestOffset().items()}
    assert end2[0] == 20  # cap applied from the recovered position

    # without groupId the first recovery batch is unbounded (documented)
    r3 = fk._FileKafkaStreamReader(
        {"path": root, "topic": "grp", "maxoffsetspertrigger": "10"}
    )
    end3 = {int(k): v for k, v in r3.latestOffset().items()}
    assert end3[0] == 100
