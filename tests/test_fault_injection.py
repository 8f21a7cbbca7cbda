"""Crash-point fault injection for the exactly-once machinery
(VERDICT r8 #5).

The 2-phase filekafka sink, the bucketed copy-on-write CDC state, and
the streaming flagship's seen-state-before-fold ordering each claim
crash safety in their docstrings; until this file, those claims were
verified only by happy-path replay tests. Here a failure is injected
at every commit boundary and two properties asserted each time:

1. ATOMICITY — the reader-visible state after the crash is either
   entirely-before or entirely-after the boundary, never a blend;
2. CONVERGENCE — replaying the interrupted operation yields exactly
   the no-crash end state (no loss, no duplication).

Recovery semantics table (also in NOTES.md):

| boundary | visible after crash | replay outcome |
|---|---|---|
| sink: stage -> publish        | old log            | one copy      |
| sink: partition i -> j publish| committed pids only| one copy each |
| sink: segment -> marker       | segment (tagged)   | no duplicate  |
| sink: commit -> Spark ckpt log| new log            | no-op         |
| cdc: bucket write -> manifest | old version        | converges     |
| cdc: manifest -> _CURRENT     | old version        | converges     |
| cdc: _CURRENT -> commit log   | new version        | idempotent    |
| flagship: seen-append -> fold | keys seen, no fold | no-op fold    |
"""

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import spark_extensions_spark.operators.incremental as inc
import spark_extensions_spark.sources.filekafka as fk


def _stage(root, topic, parts, batch, task_id=0):
    return fk._stage_batches(root, topic, parts, task_id, [batch])


def _staged_by_pid(staged):
    by_pid = {}
    for pid, path, _ in staged:
        by_pid.setdefault(pid, []).append(path)
    for pid in by_pid:
        by_pid[pid].sort()
    return by_pid


def _read_topic(spark, root, topic):
    fk.register_filekafka(spark)
    return (
        spark.read.format("filekafka")
        .option("path", root)
        .option("topic", topic)
        .load()
    )


def _arrow_batch(ids):
    """The Arrow batch a filekafka writer task receives."""
    ids = list(ids)
    return pa.RecordBatch.from_pydict(
        {
            "key": pa.array([f"k{i}".encode() for i in ids], pa.binary()),
            "value": pa.array([f"v{i}".encode() for i in ids], pa.binary()),
            "ts_us": pa.array(ids, pa.int64()),
        }
    )


# ---------------------------------------------------------------------
# filekafka 2-phase sink
# ---------------------------------------------------------------------


def test_sink_crash_between_stage_and_publish(spark, tmp_path):
    root, topic = str(tmp_path), "t"
    fk.ensure_topic(root, topic, 2)
    # phase 1 completes, the driver dies before phase 2 (commit)
    staged = _stage(root, topic, 2, _arrow_batch(range(8)))
    assert staged, "staging produced files"
    # ATOMICITY: staged files are invisible to every reader
    assert _read_topic(spark, root, topic).count() == 0
    # CONVERGENCE: the retried job re-stages and publishes once;
    # abort of the dead attempt removes its orphans
    fk._remove_staged(_staged_by_pid(staged))
    staged2 = _stage(root, topic, 2, _arrow_batch(range(8)))
    fk._publish_staged(root, topic, _staged_by_pid(staged2))
    out = _read_topic(spark, root, topic).collect()
    assert sorted(bytes(r["value"]) for r in out) == sorted(
        f"v{i}".encode() for i in range(8)
    )


def test_sink_crash_between_partition_publishes(spark, tmp_path, monkeypatch):
    root, topic = str(tmp_path), "t"
    fk.ensure_topic(root, topic, 2)
    staged = _stage(root, topic, 2, _arrow_batch(range(16)))
    by_pid = _staged_by_pid(staged)
    assert len(by_pid) == 2, "need both partitions touched"

    real = fk._write_segment
    calls = {"n": 0}

    def dying(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected: died before second partition")
        return real(*a, **kw)

    monkeypatch.setattr(fk, "_write_segment", dying)
    with pytest.raises(RuntimeError, match="injected"):
        fk._publish_staged(root, topic, by_pid, batch_id=3)
    monkeypatch.setattr(fk, "_write_segment", real)

    # ATOMICITY: exactly the first partition's records are visible —
    # per-partition all-or-nothing, never a torn segment
    mid = _read_topic(spark, root, topic).collect()
    pids = {r["partition"] for r in mid}
    assert len(pids) == 1
    first_pid = sorted(by_pid)[0]
    assert pids == {first_pid}

    # CONVERGENCE: the replayed commit (same batch id, re-listing its
    # staged files) skips the published partition and publishes the rest
    remaining = {
        pid: paths for pid, paths in by_pid.items() if os.path.exists(paths[0])
    }
    fk._publish_staged(root, topic, remaining, batch_id=3)
    out = _read_topic(spark, root, topic).collect()
    assert sorted(bytes(r["value"]) for r in out) == sorted(
        f"v{i}".encode() for i in range(16)
    ), "every record exactly once after replay"


def test_sink_crash_between_segment_and_marker(spark, tmp_path, monkeypatch):
    root, topic = str(tmp_path), "t"
    fk.ensure_topic(root, topic, 1)
    staged = _stage(root, topic, 1, _arrow_batch(range(5)))
    by_pid = _staged_by_pid(staged)

    def dying(*a, **kw):
        raise RuntimeError("injected: died before commit marker")

    monkeypatch.setattr(fk, "_write_commit_marker", dying)
    with pytest.raises(RuntimeError, match="injected"):
        fk._publish_staged(root, topic, by_pid, batch_id=9)
    monkeypatch.undo()

    # visible: the segment itself (publish IS the rename); the batch
    # tag in its filename is the evidence the marker never recorded
    assert _read_topic(spark, root, topic).count() == 5
    assert fk._batch_published(root, topic, 0, 9), "tag detected"

    # CONVERGENCE: replaying the batch publishes nothing new
    staged2 = _stage(root, topic, 1, _arrow_batch(range(5)))
    fk._publish_staged(root, topic, _staged_by_pid(staged2), batch_id=9)
    assert _read_topic(spark, root, topic).count() == 5, "no duplicates"


def test_sink_whole_batch_replay_after_commit(spark, tmp_path):
    # crash between the sink commit and Spark's checkpoint commit-log
    # write: Spark re-runs the WHOLE micro-batch against a sink that
    # already published it
    root, topic = str(tmp_path), "t"
    fk.ensure_topic(root, topic, 2)
    staged = _stage(root, topic, 2, _arrow_batch(range(10)))
    fk._publish_staged(root, topic, _staged_by_pid(staged), batch_id=4)
    assert _read_topic(spark, root, topic).count() == 10

    staged2 = _stage(root, topic, 2, _arrow_batch(range(10)))
    fk._publish_staged(root, topic, _staged_by_pid(staged2), batch_id=4)
    out = _read_topic(spark, root, topic).collect()
    assert len(out) == 10, "replayed batch publishes nothing"
    assert sorted(bytes(r["value"]) for r in out) == sorted(
        f"v{i}".encode() for i in range(10)
    )


# ---------------------------------------------------------------------
# bucketed copy-on-write CDC state
# ---------------------------------------------------------------------


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "k bigint, v string, seq bigint, op string"
    )


def _state_rows(spark, state_dir):
    st = inc.read_cdc_state(spark, state_dir)
    return (
        None
        if st is None
        else sorted((r["k"], r["v"], r["seq"]) for r in st.collect())
    )


def _apply(spark, state_dir, rows):
    inc.apply_cdc_batch(
        _batch(spark, rows), state_dir, keys=["k"], order_col="seq",
        n_buckets=4,
    )


BATCH1 = [(1, "a", 1, "U"), (2, "b", 1, "U"), (3, "c", 1, "U")]
BATCH2 = [(2, "b2", 2, "U"), (3, None, 2, "D"), (4, "d", 2, "U")]
AFTER1 = [(1, "a", 1), (2, "b", 1), (3, "c", 1)]
AFTER2 = [(1, "a", 1), (2, "b2", 2), (4, "d", 2)]


def _crash_os_replace_when(monkeypatch, suffix):
    real = os.replace
    state = {"armed": True}

    def dying(src, dst, *a, **kw):
        if state["armed"] and str(dst).endswith(suffix):
            state["armed"] = False
            raise RuntimeError(f"injected: died publishing {suffix}")
        return real(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", dying)


def test_cdc_crash_before_manifest_publish(spark, tmp_path, monkeypatch):
    state_dir = str(tmp_path / "state")
    _apply(spark, state_dir, BATCH1)
    assert _state_rows(spark, state_dir) == AFTER1

    # batch 2 dies after the bucket rewrite, before manifest.json lands
    _crash_os_replace_when(monkeypatch, "manifest.json")
    with pytest.raises(RuntimeError, match="injected"):
        _apply(spark, state_dir, BATCH2)
    monkeypatch.undo()

    # ATOMICITY: readers still see version 1 (the orphan version dir
    # has no manifest and is unreachable from _CURRENT)
    assert _state_rows(spark, state_dir) == AFTER1
    # CONVERGENCE: the replayed batch folds exactly once
    _apply(spark, state_dir, BATCH2)
    assert _state_rows(spark, state_dir) == AFTER2


def test_cdc_crash_between_manifest_and_current_swap(
    spark, tmp_path, monkeypatch
):
    state_dir = str(tmp_path / "state")
    _apply(spark, state_dir, BATCH1)

    _crash_os_replace_when(monkeypatch, "_CURRENT")
    with pytest.raises(RuntimeError, match="injected"):
        _apply(spark, state_dir, BATCH2)
    monkeypatch.undo()

    # ATOMICITY: the manifest exists but _CURRENT never swapped —
    # readers still see version 1
    assert _state_rows(spark, state_dir) == AFTER1
    _apply(spark, state_dir, BATCH2)
    assert _state_rows(spark, state_dir) == AFTER2
    # the commit log records exactly the two PUBLISHED versions, and
    # the live pointer is its last line (the dead attempt left no line)
    with open(inc._log_path(state_dir)) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    assert len(lines) == 2
    with open(os.path.join(state_dir, "_CURRENT")) as f:
        assert f.read().strip() == lines[-1]


def test_cdc_crash_between_current_swap_and_log_append(
    spark, tmp_path, monkeypatch
):
    state_dir = str(tmp_path / "state")
    _apply(spark, state_dir, BATCH1)

    real = os.replace
    state = {"armed": True}

    def dying_after(src, dst, *a, **kw):
        out = real(src, dst, *a, **kw)
        if state["armed"] and str(dst).endswith("_CURRENT"):
            state["armed"] = False
            raise RuntimeError("injected: died after pointer swap")
        return out

    monkeypatch.setattr(os, "replace", dying_after)
    with pytest.raises(RuntimeError, match="injected"):
        _apply(spark, state_dir, BATCH2)
    monkeypatch.undo()

    # the swap is the commit point: readers already see the fold
    assert _state_rows(spark, state_dir) == AFTER2
    # CONVERGENCE: an at-least-once upstream replays the batch against
    # the already-folded state — idempotent by value (same upserts,
    # deletes of already-absent keys)
    _apply(spark, state_dir, BATCH2)
    assert _state_rows(spark, state_dir) == AFTER2


# ---------------------------------------------------------------------
# streaming flagship: seen-state append BEFORE the fold publish
# ---------------------------------------------------------------------


def test_seen_append_before_fold_makes_replay_a_noop(spark, tmp_path):
    """The curation flagship appends batch keys to the seen store and
    THEN folds (queries50.py): a crash between the two writes replays
    the batch with every key already seen, so the Bloom-prefiltered
    dedup confirms all of them as duplicates and the fold is a no-op —
    at-least-once replay converted to at-most-once folding."""
    from spark_extensions_spark.operators.sketches import (
        bloom_prefilter_dedup,
    )

    seen_dir = str(tmp_path / "seen")
    batch = spark.createDataFrame(
        [(i, f"e{i}") for i in range(20)], "event_id bigint, t string"
    ).withColumn("k", F.col("event_id").cast("string"))

    def fresh_ids(seen):
        flags = bloom_prefilter_dedup(batch, seen, "event_id", "k")
        return flags.where(~F.col("confirmed_dup"))

    empty_seen = spark.createDataFrame([], "k string")
    first = fresh_ids(empty_seen)
    assert first.count() == 20
    # crash point: seen-append completed, fold never ran
    batch.select("k").write.mode("append").parquet(seen_dir)

    # replay: every key confirms dup -> zero fresh rows -> no-op fold
    replay = fresh_ids(spark.read.parquet(seen_dir))
    assert replay.count() == 0
    # and a genuinely new batch still folds (the state isn't poisoned)
    batch2 = spark.createDataFrame(
        [(100 + i, f"e{100 + i}") for i in range(5)],
        "event_id bigint, t string",
    ).withColumn("k", F.col("event_id").cast("string"))
    flags2 = bloom_prefilter_dedup(
        batch2, spark.read.parquet(seen_dir), "event_id", "k"
    )
    assert flags2.where(~F.col("confirmed_dup")).count() == 5


# ---------------------------------------------------------------------
# optimistic concurrency: the CAS at the _CURRENT swap
# ---------------------------------------------------------------------


def test_cdc_concurrent_writer_raises_and_loses_nothing(
    spark, tmp_path, monkeypatch
):
    """A second writer committing between this apply's snapshot read
    and its publish must trigger ConcurrentStateUpdateError (the
    lakehouse log-CAS analogue) — blindly repointing would silently
    drop the other writer's fold. The loser's retry then converges."""
    state_dir = str(tmp_path / "state")
    _apply(spark, state_dir, BATCH1)
    live_before = inc._current_version(state_dir)

    real = inc._current_version
    calls = {"n": 0}

    def racing(d):
        calls["n"] += 1
        # 1st call = snapshot read (real); 2nd = the publish-time CAS
        # check — simulate a concurrent commit having advanced the log
        if calls["n"] == 2:
            return "/phantom/other-writer-version"
        return real(d)

    monkeypatch.setattr(inc, "_current_version", racing)
    with pytest.raises(inc.ConcurrentStateUpdateError, match="advanced"):
        _apply(spark, state_dir, BATCH2)
    monkeypatch.undo()

    # the loser published nothing: pointer and state are untouched
    assert inc._current_version(state_dir) == live_before
    assert _state_rows(spark, state_dir) == AFTER1
    # retry after re-read converges
    _apply(spark, state_dir, BATCH2)
    assert _state_rows(spark, state_dir) == AFTER2


# ---------------------------------------------------------------------
# end-to-end: streaming crash mid-foreachBatch + checkpoint restart
# ---------------------------------------------------------------------


def test_streaming_crash_after_fold_replays_idempotently(spark, tmp_path):
    """The integration the unit boundaries compose into: a foreachBatch
    fold CRASHES AFTER its CoW state commit but BEFORE Spark writes the
    checkpoint commit log. On restart Spark replays the whole
    micro-batch; the fold (LWW upsert keyed on the batch's absolute
    values) re-applies idempotently — final state equals the
    single-fold expectation, reader-visible at every step."""
    import spark_extensions_spark.sources.filekafka as fkm

    fkm.register_filekafka(spark)
    root = str(tmp_path / "log")
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    msgs = spark.createDataFrame(
        [(str(i % 4).encode(), f"v{i}".encode(), i) for i in range(40)],
        "key binary, value binary, ts_us long",
    )
    fkm.ensure_topic(root, "t", 2)
    fkm.produce(msgs, root, "t", num_partitions=2)

    crashed = {"flag": False}

    def fold(batch_df, batch_id):
        from pyspark.sql import functions as F

        agg = (
            batch_df.groupBy(F.col("key").cast("string").alias("k"))
            .agg(
                F.count(F.lit(1)).cast("int").alias("v"),
                F.max("offset").cast("bigint").alias("seq"),
            )
            .withColumn("op", F.lit("U"))
        )
        inc.apply_cdc_batch(
            agg, state_dir, keys=["k"], order_col="seq", n_buckets=4
        )
        if not crashed["flag"]:
            crashed["flag"] = True
            raise RuntimeError("injected: died after fold, before ckpt")

    def run_stream():
        s = (
            spark.readStream.format("filekafka")
            .option("path", root)
            .option("topic", "t")
            .load()
        )
        q = (
            s.writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    with pytest.raises(Exception, match="injected"):
        run_stream()
    # the fold committed before the crash — readers already see it
    mid = _state_rows_kv(spark, state_dir)
    assert mid == {"0": 10, "1": 10, "2": 10, "3": 10}

    run_stream()  # restart: Spark replays the batch from the checkpoint
    assert _state_rows_kv(spark, state_dir) == {
        "0": 10, "1": 10, "2": 10, "3": 10,
    }
    # the replayed fold published a NEW version with identical values
    # (idempotent by value) — the commit log shows both applies
    with open(inc._log_path(state_dir)) as f:
        assert len([ln for ln in f if ln.strip()]) == 2


def _state_rows_kv(spark, state_dir):
    st = inc.read_cdc_state(spark, state_dir)
    return {r["k"]: r["v"] for r in st.collect()}
