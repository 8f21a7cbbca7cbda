"""Streaming stateful-operator fuzzer under RANDOM micro-batch
boundaries (VERDICT r9 #6).

The candidate fuzzer (fuzz_candidates.py) covers batch candidate
generation; the streaming twins were verified only at fixed batch
splits. Here each pinned case draws a seeded random input and random
micro-batch boundaries (2-6 parquet files, one file per trigger), runs
the streaming operator to completion with ``trigger(availableNow)``,
and asserts the result equals the batch twin computed on the unioned
input — exactly (integer-valued sums, exact integer EWMA state, set
compares for append streams).

Three run modes rotate per seed:

- ``single``   — one availableNow run over all files;
- ``late``     — run over a prefix of files, then the remaining files
  "arrive" and a second run resumes from the SAME checkpoint (the
  file-source seen-files log must skip the processed prefix);
- ``crash``    — the foreachBatch sink RAISES mid-stream after
  observing a batch (before Spark writes that batch's commit log);
  the restarted query must replay the batch idempotently.

Output rows are collected via foreachBatch; update-mode replays are
deduplicated by their monotone per-key progress column and append-mode
replays by full-row identity — so a NON-idempotent replay (state loss
or double-count) shows up as a value mismatch, not as a dup to
silently drop.

Operator classes (streaming/stateful.py, streaming/ops.py,
operators/incremental.py):

  running_agg        applyInPandasWithState per-key count+sum
  ewma               exact-integer recursive EWMA
  pattern            A B{0,} C CEP vs batch match_pattern
  running_distinct   per-event running COUNT(DISTINCT) vs batch window
  dedup              dropDuplicates(keys+[ts]) vs batch dropDuplicates
  cdc_fold           foreachBatch LWW fold into the CoW CDC state

Run standalone: ``python tools/fuzz_streaming.py [n_per_class]``.
The pytest gate (tests/test_fuzz_streaming.py) runs the pinned
default: 115 cases, 0 divergences expected.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from spark_extensions_spark.session import scratch_dir  # noqa: E402

_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _gen_rows(rng: random.Random, n_keys: int, n_rows: int):
    """Globally ts-increasing rows (the per-key cross-batch event-time
    order contract of the stateful operators)."""
    rows = []
    for i in range(n_rows):
        rows.append(
            {
                "k": f"k{rng.randrange(n_keys)}",
                "id": i,
                "ts": _EPOCH + dt.timedelta(seconds=i),
                "v": float(rng.randrange(0, 100)),
                "t": rng.choices(
                    ["A", "B", "C", "X"], weights=[3, 4, 2, 1]
                )[0],
            }
        )
    return rows


def _split(rng: random.Random, rows, lo=2, hi=6):
    """Random ordered micro-batch boundaries."""
    n_files = rng.randrange(lo, hi + 1)
    if len(rows) < n_files:
        n_files = max(1, len(rows))
    cuts = sorted(rng.sample(range(1, len(rows)), n_files - 1)) if n_files > 1 else []
    chunks, prev = [], 0
    for c in cuts + [len(rows)]:
        chunks.append(rows[prev:c])
        prev = c
    return [c for c in chunks if c]


def _write_files(src: str, chunks, base_mtime: float):
    os.makedirs(src, exist_ok=True)
    for i, chunk in enumerate(chunks):
        tbl = pa.table(
            {
                "k": pa.array([r["k"] for r in chunk], pa.string()),
                "id": pa.array([r["id"] for r in chunk], pa.int64()),
                "ts": pa.array(
                    [r["ts"] for r in chunk], pa.timestamp("us", tz="UTC")
                ),
                "v": pa.array([r["v"] for r in chunk], pa.float64()),
                "t": pa.array([r["t"] for r in chunk], pa.string()),
            }
        )
        p = os.path.join(src, f"f{i:03d}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (base_mtime + i, base_mtime + i))


def _stream(spark, src):
    from spark_extensions_spark.streaming import read_stream_parquet

    schema = spark.read.parquet(src).schema
    return read_stream_parquet(spark, src, schema, max_files_per_trigger=1)


def _run_collect(result_df, ckpt, output_mode, crash_at=None, timeout=180):
    """Drive to completion via foreachBatch; optionally raise once
    after batch ``crash_at`` is observed (before its commit log)."""
    rows: list = []
    state = {"crashed": False}

    def sink(batch_df, batch_id):
        rows.extend(batch_df.collect())
        if (
            crash_at is not None
            and batch_id >= crash_at
            and not state["crashed"]
        ):
            state["crashed"] = True
            raise RuntimeError("injected-crash")

    q = (
        result_df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(timeout)
    except Exception as ex:
        if "injected-crash" not in str(ex):
            raise
        return rows, True
    finally:
        if q.isActive:
            q.stop()
    return rows, state["crashed"]


def _drive(spark, build, chunks, workdir, output_mode, mode):
    """Run one case: write files per mode, stream (with optional crash
    or late-arrival restart), return every emitted row."""
    src = os.path.join(workdir, "src")
    ckpt = os.path.join(workdir, "ckpt")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        base = 1_700_000_000.0
        all_rows: list = []
        if mode == "late" and len(chunks) > 1:
            k = max(1, len(chunks) // 2)
            _write_files(src, chunks[:k], base)
            out, _ = _run_collect(build(_stream(spark, src)), ckpt, output_mode)
            all_rows.extend(out)
            # the remaining files arrive; resume from the same ckpt
            _write_files_suffix(src, chunks[k:], k, base + 1000)
            out, _ = _run_collect(build(_stream(spark, src)), ckpt, output_mode)
            all_rows.extend(out)
        elif mode == "crash":
            _write_files(src, chunks, base)
            crash_at = max(0, len(chunks) // 2)
            out, crashed = _run_collect(
                build(_stream(spark, src)), ckpt, output_mode, crash_at
            )
            all_rows.extend(out)
            out, _ = _run_collect(build(_stream(spark, src)), ckpt, output_mode)
            all_rows.extend(out)
        else:
            _write_files(src, chunks, base)
            out, _ = _run_collect(build(_stream(spark, src)), ckpt, output_mode)
            all_rows.extend(out)
        return all_rows
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _write_files_suffix(src: str, chunks, start_idx: int, base_mtime: float):
    for i, chunk in enumerate(chunks):
        tbl = pa.table(
            {
                "k": pa.array([r["k"] for r in chunk], pa.string()),
                "id": pa.array([r["id"] for r in chunk], pa.int64()),
                "ts": pa.array(
                    [r["ts"] for r in chunk], pa.timestamp("us", tz="UTC")
                ),
                "v": pa.array([r["v"] for r in chunk], pa.float64()),
                "t": pa.array([r["t"] for r in chunk], pa.string()),
            }
        )
        p = os.path.join(src, f"f{start_idx + i:03d}.parquet")
        pq.write_table(tbl, p)
        os.utime(p, (base_mtime + i, base_mtime + i))


def _mode_for(seed: int) -> str:
    return ("single", "late", "crash")[seed % 3]


# ---------------------------------------------------------------------
# case classes: each returns (got, want) comparable structures
# ---------------------------------------------------------------------


def case_running_agg(spark, seed: int, workdir: str):
    from spark_extensions_spark.streaming.stateful import running_aggregate

    rng = random.Random(seed)
    rows = _gen_rows(rng, rng.randrange(2, 6), rng.randrange(40, 120))
    chunks = _split(rng, rows)
    out = _drive(
        spark,
        lambda s: running_aggregate(s, ["k"], ["v"], "ts"),
        chunks,
        workdir,
        "update",
        _mode_for(seed),
    )
    # latest state per key = row with max n_events (monotone)
    got = {}
    for r in out:
        if r["k"] not in got or r["n_events"] > got[r["k"]][0]:
            got[r["k"]] = (r["n_events"], r["sum_v"])
    want = {}
    for r in rows:
        n, s = want.get(r["k"], (0, 0.0))
        want[r["k"]] = (n + 1, s + r["v"])
    return got, want


def case_ewma(spark, seed: int, workdir: str):
    from spark_extensions_spark.streaming.stateful import ewma_state

    rng = random.Random(10_000 + seed)
    rows = _gen_rows(rng, rng.randrange(2, 5), rng.randrange(30, 90))
    chunks = _split(rng, rows)
    out = _drive(
        spark,
        lambda s: ewma_state(s, "k", "ts", "id", "v"),
        chunks,
        workdir,
        "update",
        _mode_for(seed),
    )
    got = {}
    for r in out:
        if r["k"] not in got or r["n_events"] > got[r["k"]][0]:
            got[r["k"]] = (r["n_events"], r["ewma"])
    # exact-integer recompute over the full (ts, id)-ordered sequence
    want = {}
    for r in sorted(rows, key=lambda r: (r["ts"], r["id"])):
        y, n = want.get(r["k"], (None, 0))
        x = int(round(r["v"] * 100))
        y = x if y is None else (3 * x + 7 * y) // 10
        want[r["k"]] = (y, n + 1)
    want = {k: (n, y / 100) for k, (y, n) in want.items()}
    return got, want


def case_pattern(spark, seed: int, workdir: str):
    from spark_extensions_spark.operators.patterns import match_pattern
    from spark_extensions_spark.streaming.stateful import pattern_match_state

    rng = random.Random(20_000 + seed)
    rows = _gen_rows(rng, rng.randrange(2, 5), rng.randrange(30, 90))
    chunks = _split(rng, rows)

    def build(s):
        s = s.select(
            "k",
            "id",
            "ts",
            (F.col("t") == "A").alias("is_a"),
            (F.col("t") == "B").alias("is_b"),
            (F.col("t") == "C").alias("is_c"),
        )
        return pattern_match_state(
            s, "k", "ts", "id", "is_a", "is_b", "is_c"
        )

    out = _drive(spark, build, chunks, workdir, "append", _mode_for(seed))
    got = sorted({(r["k"], r["start_id"], r["end_id"], r["n_mid"]) for r in out})
    bdf = spark.createDataFrame(
        [(r["k"], r["id"], r["ts"], r["t"]) for r in rows],
        "k string, id long, ts timestamp, t string",
    )
    bres = match_pattern(
        bdf,
        ["k"],
        ["ts", "id"],
        F.col("t") == "A",
        F.col("t") == "B",
        F.col("t") == "C",
        "id",
        ts_col="ts",
    )
    want = sorted(
        {
            (r["k"], r["start_id"], r["end_id"], r["n_mid"])
            for r in bres.collect()
        }
    )
    return got, want


def case_running_distinct(spark, seed: int, workdir: str):
    from spark_extensions_spark.streaming.stateful import (
        running_distinct_state,
    )

    rng = random.Random(30_000 + seed)
    rows = _gen_rows(rng, rng.randrange(2, 5), rng.randrange(30, 80))
    chunks = _split(rng, rows)
    out = _drive(
        spark,
        lambda s: running_distinct_state(s, "k", "ts", "id", "t"),
        chunks,
        workdir,
        "append",
        _mode_for(seed),
    )
    got = sorted({(r["k"], r["id"], r["run_types"]) for r in out})
    want = []
    seen: dict[str, set] = {}
    for r in sorted(rows, key=lambda r: (r["ts"], r["id"])):
        s = seen.setdefault(r["k"], set())
        s.add(r["t"])
        want.append((r["k"], r["id"], len(s)))
    return got, sorted(set(want))


def case_dedup(spark, seed: int, workdir: str):
    from spark_extensions_spark.streaming.ops import streaming_dedup

    rng = random.Random(40_000 + seed)
    base = _gen_rows(rng, rng.randrange(2, 5), rng.randrange(20, 60))
    # full-row duplicates (same id/ts) so the kept row is unambiguous;
    # duplicates may land in DIFFERENT micro-batches
    rows = base + [dict(r) for r in rng.sample(base, len(base) // 3 or 1)]
    rows.sort(key=lambda r: (r["ts"], r["id"]))
    chunks = _split(rng, rows)
    out = _drive(
        spark,
        lambda s: streaming_dedup(s, ["k", "id"], ts_col="ts"),
        chunks,
        workdir,
        "append",
        _mode_for(seed),
    )
    got = sorted({(r["k"], r["id"], r["v"]) for r in out})
    want = sorted({(r["k"], r["id"], r["v"]) for r in base})
    return got, want


def case_window_agg(spark, seed: int, workdir: str):
    """Tumbling event-time window aggregate (watermarked, update
    mode): per (window, key) counts are monotone across batches, so
    the final state is the max-count row — compared against the batch
    floor-to-hour groupBy."""
    from spark_extensions_spark.streaming.ops import windowed_aggregate

    rng = random.Random(60_000 + seed)
    n = rng.randrange(40, 120)
    keys = rng.randrange(2, 5)
    rows = []
    for i in range(n):
        rows.append(
            {
                "k": f"k{rng.randrange(keys)}",
                "id": i,
                # spread over ~4 hours, strictly increasing
                "ts": _EPOCH + dt.timedelta(seconds=i * (14400 // n)),
                "v": float(rng.randrange(0, 100)),
                "t": "A",
            }
        )
    chunks = _split(rng, rows)

    def build(s):
        return windowed_aggregate(
            s,
            "ts",
            "1 hour",
            aggs=[F.count("*").alias("n_events")],
            keys=["k"],
            watermark_delay="4 hours",
        )

    out = _drive(spark, build, chunks, workdir, "update", _mode_for(seed))
    got: dict = {}
    for r in out:
        key = (r["win_start"], r["k"])
        if key not in got or r["n_events"] > got[key]:
            got[key] = r["n_events"]
    want: dict = {}
    for r in rows:
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        key = (h, r["k"])
        want[key] = want.get(key, 0) + 1
    # memory-sink timestamps come back tz-naive; normalize both sides
    got = {(str(w), k): v for (w, k), v in got.items()}
    want = {(str(w.replace(tzinfo=None)), k): v for (w, k), v in want.items()}
    return got, want


def case_cdc_fold(spark, seed: int, workdir: str):
    import spark_extensions_spark.operators.incremental as inc

    rng = random.Random(50_000 + seed)
    rows = _gen_rows(rng, rng.randrange(2, 6), rng.randrange(30, 90))
    chunks = _split(rng, rows)
    state_dir = os.path.join(workdir, "state")
    src = os.path.join(workdir, "src")
    ckpt = os.path.join(workdir, "ckpt")
    mode = _mode_for(seed)
    crash = {"armed": mode == "crash"}

    def fold(batch_df, batch_id):
        ev = batch_df.select(
            F.col("k"),
            F.col("v"),
            F.col("id").alias("seq"),
            F.lit("U").alias("op"),
        )
        inc.apply_cdc_batch(
            ev, state_dir, keys=["k"], order_col="seq", n_buckets=2
        )
        if crash["armed"] and batch_id >= max(0, len(chunks) // 2):
            crash["armed"] = False
            raise RuntimeError("injected-crash")

    def run():
        s = _stream(spark, src)
        q = (
            s.writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(180)
        except Exception as ex:
            if "injected-crash" not in str(ex):
                raise
        finally:
            if q.isActive:
                q.stop()

    base = 1_700_000_000.0
    if mode == "late" and len(chunks) > 1:
        k = max(1, len(chunks) // 2)
        _write_files(src, chunks[:k], base)
        run()
        _write_files_suffix(src, chunks[k:], k, base + 1000)
        run()
    else:
        _write_files(src, chunks, base)
        run()
        if mode == "crash":
            run()  # restart: replay the interrupted batch
    cur = inc.read_cdc_state(spark, state_dir)
    got = sorted(
        (r["k"], r["v"], r["seq"]) for r in cur.collect()
    )
    # LWW by seq (= id, globally unique): last event per key wins
    last: dict[str, tuple] = {}
    for r in rows:
        if r["k"] not in last or r["id"] > last[r["k"]][2]:
            last[r["k"]] = (r["k"], r["v"], r["id"])
    want = sorted(last.values())
    return got, want


CASES = {
    "running_agg": case_running_agg,
    "ewma": case_ewma,
    "pattern": case_pattern,
    "running_distinct": case_running_distinct,
    "dedup": case_dedup,
    "window_agg": case_window_agg,
    "cdc_fold": case_cdc_fold,
}

# pinned gate sizes: 127 cases total, every class covers all 3 modes
N_PER_CLASS = {
    "running_agg": 24,
    "ewma": 24,
    "pattern": 24,
    "running_distinct": 15,
    "dedup": 15,
    "window_agg": 12,
    "cdc_fold": 13,
}


def run_all(spark, n_per_class: dict[str, int] | None = None):
    n_per_class = n_per_class or N_PER_CLASS
    failures = []
    total = 0
    for cls, fn in CASES.items():
        for seed in range(n_per_class.get(cls, 0)):
            total += 1
            workdir = scratch_dir(f"fzs_{cls}_{seed}_")
            try:
                got, want = fn(spark, seed, workdir)
                if got != want:
                    failures.append(
                        (cls, seed, _mode_for(seed), got, want)
                    )
            finally:
                shutil.rmtree(workdir, ignore_errors=True)
    return total, failures


def main() -> int:
    from spark_extensions_spark.session import get_spark

    n = int(sys.argv[1]) if len(sys.argv) > 1 else None
    per = {k: n for k in CASES} if n else None
    spark = get_spark("fuzz-streaming")
    total, failures = run_all(spark, per)
    for cls, seed, mode, got, want in failures:
        print(f"DIVERGE {cls} seed={seed} mode={mode}")
        print(f"  got:  {got}")
        print(f"  want: {want}")
    print(f"{total} cases, {len(failures)} divergences")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
