"""File-backed Kafka-semantics topic log (``filekafka`` DataSource).

The reference's flagship use-case is decoding Confluent-framed messages
read from Kafka (`ConfluentAvroConnector.scala:13`,
`ConfluentAvroConnectorTest.scala:35-47`). This container has no
spark-sql-kafka connector jar and no network (NOTES.md environment
gates), so a real broker can never be reached — but the *semantics* the
reference exercises (partitioned append-only log, per-partition
contiguous offsets, Kafka's exact source schema, offset-range
micro-batch planning, key-hash partition affinity) are all log
semantics, not broker semantics. This module implements them over a
shared filesystem so the Confluent codecs can be driven end-to-end in
batch AND in a Structured Streaming micro-batch pipeline.

Layout (any shared FS — local here, object store on a cluster)::

    <root>/<topic>/meta.json                 # {"num_partitions": N}
    <root>/<topic>/p=<k>/seg-<start>-<end>.parquet

Segments are immutable once published; offsets are contiguous within a
partition; ``end`` is exclusive. Readers plan ONE input partition per
(topic-partition × segment ∩ offset-range) — each is an independent
ranged read, the same embarrassingly-parallel shape as the real Kafka
source's ``KafkaSourceRDD`` offset ranges.

Fidelity notes:

- The source schema is byte-for-byte Kafka's: ``key binary, value
  binary, topic string, partition int, offset bigint, timestamp
  timestamp, timestampType int``.
- The partitioner is Kafka's Java client default:
  ``murmur2(keyBytes) & 0x7fffffff % numPartitions`` (public algorithm,
  org.apache.kafka.common.utils.Utils#murmur2). Null keys all land in
  one partition (modern Kafka sticky-partitions them; a log emulation
  has no producer batching to stick to).
- Exactly-once publish: writes stage per-task files and a single
  driver-side commit assigns offsets and publishes segments atomically
  via rename — a miniature of the commit-protocol theme the reference
  configures (`PathOutputCommitProtocol`, SURVEY §2.C).

Scale: planning is a driver-side file listing (metadata-sized);
reads/writes are per-segment executor work with no shuffle beyond the
producer's hash partitioning (the same shuffle a real Kafka producer
performs network-side).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass
from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pandas is only used by produce(); importing it
    import pandas as pd  # eagerly costs every DataSource runner ~0.25s

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

KAFKA_SCHEMA_DDL = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int"
)

# optional -b<batchId> tag: streaming-sink segments carry the batch id
# that published them, making replayed micro-batch commits idempotent
_SEG_RE = re.compile(r"^seg-(\d{20})-(\d{20})(?:-b(\d{20}))?\.parquet$")


def murmur2(data: bytes) -> int:
    """Kafka's murmur2 (org.apache.kafka.common.utils.Utils#murmur2),
    32-bit, seed 0x9747b28c — the hash behind the Java client's default
    partitioner. Pure-python re-implementation of the public algorithm."""
    length = len(data)
    seed = 0x9747B28C
    m = 0x5BD1E995
    mask = 0xFFFFFFFF
    h = (seed ^ length) & mask
    n4 = length & ~3
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * m) & mask
        k ^= k >> 24
        k = (k * m) & mask
        h = (h * m) & mask
        h ^= k
    extra = length & 3
    if extra == 3:
        h ^= (data[n4 + 2] & 0xFF) << 16
    if extra >= 2:
        h ^= (data[n4 + 1] & 0xFF) << 8
    if extra >= 1:
        h ^= data[n4] & 0xFF
        h = (h * m) & mask
    h ^= h >> 13
    h = (h * m) & mask
    h ^= h >> 15
    return h


def default_partition(key: bytes | None, num_partitions: int) -> int:
    """Kafka default-partitioner placement for a key (None → 0: a log
    emulation has no sticky producer batch to spread null keys over)."""
    if key is None:
        return 0
    return (murmur2(key) & 0x7FFFFFFF) % num_partitions


# ---------------------------------------------------------------------
# Log file helpers (shared by producer, readers, writer commit)
# ---------------------------------------------------------------------

def _topic_dir(root: str, topic: str) -> str:
    return os.path.join(root, topic)


def _partition_dir(root: str, topic: str, pid: int) -> str:
    return os.path.join(root, topic, f"p={pid}")


def read_meta(root: str, topic: str) -> dict:
    with open(os.path.join(_topic_dir(root, topic), "meta.json")) as f:
        return json.load(f)


def ensure_topic(root: str, topic: str, num_partitions: int) -> dict:
    """Create the topic layout if absent; validate partition count if
    present (Kafka topics cannot shrink/grow implicitly)."""
    tdir = _topic_dir(root, topic)
    meta_path = os.path.join(tdir, "meta.json")
    if os.path.exists(meta_path):
        meta = read_meta(root, topic)
        if meta["num_partitions"] != num_partitions:
            raise ValueError(
                f"topic {topic!r} exists with "
                f"{meta['num_partitions']} partitions, got {num_partitions}"
            )
        return meta
    os.makedirs(tdir, exist_ok=True)
    for pid in range(num_partitions):
        os.makedirs(_partition_dir(root, topic, pid), exist_ok=True)
    meta = {"num_partitions": num_partitions}
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, meta_path)
    return meta


def list_segments(root: str, topic: str, pid: int) -> list[tuple[int, int, str]]:
    """Sorted (start, end, path) for a partition's published segments."""
    pdir = _partition_dir(root, topic, pid)
    out = []
    if not os.path.isdir(pdir):
        return out
    for name in os.listdir(pdir):
        m = _SEG_RE.match(name)
        if m:
            out.append((int(m.group(1)), int(m.group(2)), os.path.join(pdir, name)))
    out.sort()
    return out


def _watermark_path(root: str, topic: str, pid: int) -> str:
    return os.path.join(_partition_dir(root, topic, pid), "_next-offset")


def _read_watermark(root: str, topic: str, pid: int) -> int:
    try:
        with open(_watermark_path(root, topic, pid)) as f:
            return int(f.read().strip() or 0)
    except (OSError, ValueError):
        return 0


def _bump_watermark(root: str, topic: str, pid: int, value: int) -> None:
    """Monotonically raise the partition's next-offset watermark
    (tmp + rename). The watermark survives retention truncation, so a
    partition whose every segment was deleted keeps assigning offsets
    where it left off — Kafka never reuses offsets."""
    if value <= _read_watermark(root, topic, pid):
        return
    path = _watermark_path(root, topic, pid)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(value))
    os.replace(tmp, path)


def partition_end_offset(root: str, topic: str, pid: int) -> int:
    segs = list_segments(root, topic, pid)
    seg_end = segs[-1][1] if segs else 0
    # the watermark wins when truncation deleted the tail segments
    return max(seg_end, _read_watermark(root, topic, pid))


def end_offsets(root: str, topic: str) -> dict[int, int]:
    n = read_meta(root, topic)["num_partitions"]
    return {pid: partition_end_offset(root, topic, pid) for pid in range(n)}


def _write_segment(
    root: str,
    topic: str,
    pid: int,
    base: int,
    keys,
    values,
    ts_us,
    batch_id: int | None = None,
) -> int:
    """Publish one immutable segment atomically (write temp + rename);
    returns the new end offset. Caller owns offset-range exclusivity.
    ``batch_id`` tags the filename (streaming-sink idempotence); the
    partition's next-offset watermark is bumped after publish so
    retention truncation can never rewind offset assignment."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(values)
    if n == 0:
        return base
    table = pa.table(
        {
            "key": pa.array(keys, type=pa.binary()),
            "value": pa.array(values, type=pa.binary()),
            "offset": pa.array(range(base, base + n), type=pa.int64()),
            "ts_us": pa.array(ts_us, type=pa.int64()),
        }
    )
    pdir = _partition_dir(root, topic, pid)
    tag = "" if batch_id is None else f"-b{batch_id:020d}"
    final = os.path.join(
        pdir, f"seg-{base:020d}-{base + n:020d}{tag}.parquet"
    )
    tmp = os.path.join(pdir, f".tmp-{base:020d}-{os.getpid()}.parquet")
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    _bump_watermark(root, topic, pid, base + n)
    return base + n


# ---------------------------------------------------------------------
# Producer (batch DataFrame → topic)
# ---------------------------------------------------------------------

def produce(
    df,
    root: str,
    topic: str,
    *,
    num_partitions: int = 4,
    key_col: str = "key",
    value_col: str = "value",
    ts_col: str | None = None,
):
    """Append a DataFrame of (key, value[, timestamp]) messages to a
    file topic with Kafka-default key placement and per-partition
    contiguous offsets.

    Distributed shape: one hash-partitioning pass (the producer's
    network shuffle in real Kafka), then ONE writer task per
    topic-partition appends ONE segment. Within a produce call each
    partition's rows are ordered by (key, value) bytes so replays are
    deterministic. Returns {pid: (base_offset, count)} (bounded:
    num_partitions rows).

    Placement is the Kafka Java client's murmur2, computed exactly by
    an Arrow-batched Python hash.
    """
    # bind pandas as a module global on first use: produce() is the
    # only pandas consumer here, and pandas_udf resolves the stringized
    # pd.Series hints against module globals — while the DataSource
    # runner processes that unpickle this module never pay the import
    global pd
    import pandas as pd

    from pyspark.sql import functions as F

    ensure_topic(root, topic, num_partitions)
    cols = [
        F.col(key_col).cast("binary").alias("key"),
        F.col(value_col).cast("binary").alias("value"),
    ]
    if ts_col is not None:
        cols.append(
            (F.col(ts_col).cast("timestamp").cast("double") * F.lit(1e6))
            .cast("bigint")
            .alias("ts_us")
        )
    else:
        cols.append(F.lit(0).cast("bigint").alias("ts_us"))
    from spark_extensions_spark.session import ensure_parallelism

    # the murmur2 placement below is an Arrow/pandas-UDF stage: a
    # one-split source would serialize every message through ONE
    # Python worker before the 8-way placement shuffle (the kafka CDC
    # flagship measured 12.6 -> 8.6 s bench one-shot from this fix);
    # no-op on already-wide inputs
    msgs = ensure_parallelism(df.select(*cols))

    parts = num_partitions

    @F.pandas_udf("int")
    def _placement(key: pd.Series) -> pd.Series:
        # one murmur2 per DISTINCT key per batch (keys are entity
        # ids and repeat heavily; the hash was the per-row cost)
        place = _memoized_placement(parts)
        return key.map(
            lambda k: place(None if k is None else bytes(k))
        ).astype("int32")

    placed = msgs.withColumn("pid", _placement(F.col("key")))

    def _append(pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(pdf["pid"].iloc[0])
        pdf = pdf.sort_values(
            ["key", "value"],
            key=lambda s: s.map(lambda b: b"" if b is None else bytes(b)),
        )
        base = partition_end_offset(root, topic, pid)
        end = _write_segment(
            root,
            topic,
            pid,
            base,
            [None if k is None else bytes(k) for k in pdf["key"]],
            [bytes(v) for v in pdf["value"]],
            list(pdf["ts_us"]),
        )
        return pd.DataFrame(
            {"pid": [pid], "base": [base], "count": [end - base]}
        )

    report = placed.groupBy("pid").applyInPandas(
        _append, "pid int, base bigint, count bigint"
    )
    return {r["pid"]: (r["base"], r["count"]) for r in report.collect()}


# ---------------------------------------------------------------------
# Readers
# ---------------------------------------------------------------------

@dataclass
class _SegmentSlice(InputPartition):
    """One ranged read: a published segment ∩ requested offset range."""

    topic: str
    pid: int
    path: str
    lo: int
    hi: int


def _read_slice(part: _SegmentSlice):
    """Yield Kafka-schema Arrow RecordBatches for one segment slice
    (executor side): a columnar parquet scan + offset-range filter with
    zero per-row Python — the Python-DataSource fast path."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(part.path)
    # row-group pruning on the offset column (segments are written in
    # offset order, so stats are tight): a chunked slice of a large
    # compacted segment reads only its own row groups, not the file
    names = [pf.metadata.row_group(0).column(i).path_in_schema
             for i in range(pf.metadata.row_group(0).num_columns)]
    oi = names.index("offset")
    keep = []
    for g in range(pf.metadata.num_row_groups):
        st = pf.metadata.row_group(g).column(oi).statistics
        if st is None or st.min is None:
            keep.append(g)
        elif st.max >= part.lo and st.min < part.hi:
            keep.append(g)
    if not keep:
        return
    table = pf.read_row_groups(keep)
    off = table.column("offset")
    mask = pc.and_(pc.greater_equal(off, part.lo), pc.less(off, part.hi))
    table = table.filter(mask)
    n = table.num_rows
    if n == 0:
        return
    out = pa.table(
        {
            "key": table.column("key"),
            "value": table.column("value"),
            "topic": pa.array([part.topic] * n, type=pa.string()),
            "partition": pa.array([part.pid] * n, type=pa.int32()),
            "offset": table.column("offset"),
            "timestamp": table.column("ts_us").cast(
                pa.timestamp("us", tz="UTC")
            ),
            "timestampType": pa.array([0] * n, type=pa.int32()),
        }
    )
    yield from out.to_batches()


def _parse_offsets(opt: str | None, default: str) -> str | dict[int, int]:
    """'earliest' | 'latest' | JSON {"pid": offset} (Kafka option shape)."""
    raw = (opt or default).strip()
    if raw in ("earliest", "latest"):
        return raw
    parsed = json.loads(raw)
    return {int(k): int(v) for k, v in parsed.items()}


def _resolve(spec, root, topic, *, ends: dict[int, int]) -> dict[int, int]:
    if spec == "earliest":
        return {pid: 0 for pid in ends}
    if spec == "latest":
        return dict(ends)
    out = {pid: 0 for pid in ends}
    out.update(spec)
    return out


def _live_segments(root: str, topic: str, pid: int) -> list[tuple[int, int, str]]:
    """Segments to plan, with containment dedupe: a segment whose range
    is fully covered by a LARGER segment is skipped. This makes segment
    compaction crash-safe — the merged segment is renamed in first
    (overlapping the originals), readers immediately prefer it, and the
    originals can be deleted at leisure without a lock."""
    segs = list_segments(root, topic, pid)
    live = []
    for s, e, path in segs:
        covered = any(
            (s2 <= s and e <= e2 and (e2 - s2) > (e - s))
            for s2, e2, _ in segs
        )
        if not covered:
            live.append((s, e, path))
    return live


DEFAULT_SLICE_SIZE = 500_000


def _plan_slices(
    root: str,
    topic: str,
    start: dict[int, int],
    end: dict[int, int],
    slice_size: int = DEFAULT_SLICE_SIZE,
) -> list[_SegmentSlice]:
    """One input partition per (segment ∩ offset-range), with wide
    ranges CHUNKED at ``slice_size`` offsets: a freshly compacted
    partition is one huge segment, and without chunking its read
    parallelism would collapse to one task — chunked ranged reads keep
    scan parallelism independent of segment layout (parquet row-group
    pruning inside the reader makes each chunk a partial file read)."""
    slices = []
    for pid, hi in end.items():
        lo = start.get(pid, 0)
        if hi <= lo:
            continue
        for s, e, path in _live_segments(root, topic, pid):
            if e <= lo or s >= hi:
                continue
            a, b = max(s, lo), min(e, hi)
            for c in range(a, b, slice_size):
                slices.append(
                    _SegmentSlice(topic, pid, path, c, min(c + slice_size, b))
                )
    return slices


# ---------------------------------------------------------------------
# Log maintenance: segment compaction + retention truncation
# ---------------------------------------------------------------------

def compact_segments(root: str, topic: str, pid: int | None = None) -> int:
    """Merge each partition's segments into ONE covering segment
    (offsets preserved byte-for-byte) — the small-files maintenance a
    long-lived log accumulates from many small produces.

    Crash-safe without locks: the merged segment is PUBLISHED FIRST
    (write temp + rename); from that instant planners prefer it via
    containment dedupe (:func:`_live_segments`), so a crash before the
    old segments are unlinked leaves duplicates on disk but never
    duplicate READS. Returns the number of partitions rewritten.
    Single-maintainer discipline per topic (like every log compactor).
    """
    import pyarrow.parquet as pq

    meta = read_meta(root, topic)
    pids = [pid] if pid is not None else list(range(meta["num_partitions"]))
    rewritten = 0
    for p in pids:
        live = _live_segments(root, topic, p)
        if len(live) > 1:
            keys, vals, tss = [], [], []
            expect = live[0][0]
            for s, e, path in live:
                if s != expect:  # non-contiguous (should not happen)
                    raise RuntimeError(
                        f"offset gap in {topic}/p={p}: expected {expect}, "
                        f"got {s}"
                    )
                expect = e
                t = pq.read_table(path)
                keys.extend(t.column("key").to_pylist())
                vals.extend(t.column("value").to_pylist())
                tss.extend(t.column("ts_us").to_pylist())
            _write_segment(root, topic, p, live[0][0], keys, vals, tss)
            rewritten += 1
            live = _live_segments(root, topic, p)
        # garbage-collect covered segments — both this run's merge
        # inputs and any leftovers from a crashed earlier compaction
        keep = {path for _, _, path in live}
        for s, e, path in list_segments(root, topic, p):
            if path not in keep:
                try:
                    os.remove(path)
                except OSError:
                    pass
    return rewritten


def truncate_before(root: str, topic: str, offsets: dict[int, int]) -> int:
    """Kafka-retention truncation: drop every segment whose range lies
    entirely below the retained offset for its partition (whole-segment
    granularity, like Kafka's time/size retention). Readers resolve
    ``earliest`` from the surviving segments, so a truncated log starts
    at the retention floor, not 0. Returns segments deleted.

    Offset continuity: the per-partition next-offset watermark is
    raised to the current end before anything is deleted, so even when
    truncation removes EVERY segment of a partition the next produce
    continues from the old end — offsets are never reused (Kafka's
    log-start/log-end invariant)."""
    deleted = 0
    for pid, keep_from in offsets.items():
        _bump_watermark(
            root, topic, pid, partition_end_offset(root, topic, pid)
        )
        for s, e, path in list_segments(root, topic, pid):
            if e <= keep_from:
                try:
                    os.remove(path)
                    deleted += 1
                except OSError:
                    pass
    return deleted


class _FileKafkaBatchReader(DataSourceReader):
    def __init__(self, options):
        self.root = options["path"]
        self.topic = options["topic"]
        self.start = _parse_offsets(options.get("startingoffsets"), "earliest")
        self.end = _parse_offsets(options.get("endingoffsets"), "latest")
        self.pid_eq: int | None = None
        self.off_lo = 0
        self.off_hi: int | None = None
        self.slice_size = int(
            options.get("slicesize", DEFAULT_SLICE_SIZE)
        )

    def pushFilters(self, filters):
        """Prune SEGMENT FILES with partition/offset predicates (the
        log's native pruning dimensions): a consumed predicate never
        plans its segments at all — the custom-source analogue of
        parquet row-group pruning. Anything else is handed back for
        Spark to evaluate."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr == ("partition",) and isinstance(f, EqualTo):
                self.pid_eq = int(f.value)
                continue
            if attr == ("offset",):
                if isinstance(f, GreaterThanOrEqual):
                    self.off_lo = max(self.off_lo, int(f.value))
                    continue
                if isinstance(f, GreaterThan):
                    self.off_lo = max(self.off_lo, int(f.value) + 1)
                    continue
                if isinstance(f, LessThan):
                    hi = int(f.value)
                    self.off_hi = hi if self.off_hi is None else min(self.off_hi, hi)
                    continue
                if isinstance(f, LessThanOrEqual):
                    hi = int(f.value) + 1
                    self.off_hi = hi if self.off_hi is None else min(self.off_hi, hi)
                    continue
            yield f

    def partitions(self):
        ends = end_offsets(self.root, self.topic)
        start = _resolve(self.start, self.root, self.topic, ends=ends)
        end = _resolve(self.end, self.root, self.topic, ends=ends)
        if self.pid_eq is not None:
            start = {p: v for p, v in start.items() if p == self.pid_eq}
            end = {p: v for p, v in end.items() if p == self.pid_eq}
        start = {p: max(v, self.off_lo) for p, v in start.items()}
        if self.off_hi is not None:
            end = {p: min(v, self.off_hi) for p, v in end.items()}
        return _plan_slices(
            self.root, self.topic, start, end, self.slice_size
        ) or [_SegmentSlice(self.topic, 0, "", 0, 0)]

    def read(self, partition: _SegmentSlice):
        if not partition.path:
            return iter(())
        return _read_slice(partition)


class _FileKafkaStreamReader(DataSourceStreamReader):
    """Micro-batch planner over the topic log: offsets are
    ``{pid: next_offset}`` dicts (the same shape Kafka checkpoints);
    each batch reads [start, latest) per partition, optionally capped
    by maxOffsetsPerTrigger (budget spread fairly, smallest lag first,
    so leftover budget flows to the laggards).

    ``groupId`` (Kafka's consumer-group concept) persists each planned
    batch end to ``<topic>/_groups/<groupId>.json``. After a restart
    from checkpoint Spark calls ``latestOffset()`` without
    ``initialOffset()``, so the reader's position is unknown and the
    maxOffsetsPerTrigger cap cannot be applied to the first recovery
    batch — unless a group id is set, in which case the position is
    re-seeded from the group file and the cap holds across restarts.
    The file records the PLANNED end at latestOffset time (max-merged,
    never regressing), which is always >= any offset Spark's offset log
    can hold — so a recovered cap base can never fall below the
    checkpoint start and re-plan already-processed offsets."""

    def __init__(self, options):
        self.root = options["path"]
        self.topic = options["topic"]
        self.start = _parse_offsets(options.get("startingoffsets"), "earliest")
        cap = options.get("maxoffsetspertrigger")
        self.max_per_trigger = int(cap) if cap else None
        self.slice_size = int(
            options.get("slicesize", DEFAULT_SLICE_SIZE)
        )
        self.group = options.get("groupid")
        self._pos: dict[int, int] | None = None

    def _group_path(self) -> str:
        return os.path.join(
            _topic_dir(self.root, self.topic), "_groups", f"{self.group}.json"
        )

    def initialOffset(self):
        ends = end_offsets(self.root, self.topic)
        pos = _resolve(self.start, self.root, self.topic, ends=ends)
        self._pos = pos
        return {str(pid): off for pid, off in pos.items()}

    def latestOffset(self):
        ends = end_offsets(self.root, self.topic)
        if self._pos is None and self.group is not None:
            # restart path: recover the position from the group file so
            # the per-trigger cap applies to the first recovery batch
            try:
                with open(self._group_path()) as f:
                    self._pos = {
                        int(k): int(v) for k, v in json.load(f).items()
                    }
            except (OSError, ValueError):
                pass
        if self.max_per_trigger is not None and self._pos is not None:
            budget = self.max_per_trigger
            capped = {}
            lagging = sorted(
                ((pid, ends[pid] - self._pos.get(pid, 0)) for pid in ends),
                key=lambda t: (t[1], t[0]),
            )
            remaining = [p for p, lag in lagging if lag > 0]
            for i, pid in enumerate(remaining):
                share = max(1, budget // max(1, len(remaining) - i))
                take = min(share, ends[pid] - self._pos.get(pid, 0), budget)
                capped[pid] = self._pos.get(pid, 0) + take
                budget -= take
            for pid in ends:
                capped.setdefault(pid, self._pos.get(pid, 0))
            ends = capped
        self._pos = dict(ends)
        if self.group is not None:
            self._save_group_pos(self._pos)
        return {str(pid): off for pid, off in ends.items()}

    def _save_group_pos(self, pos: dict[int, int]) -> None:
        """Persist the planned position, max-merged with the existing
        file so concurrent/late writers can only advance it."""
        path = self._group_path()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        merged = dict(pos)
        try:
            with open(path) as f:
                for k, v in json.load(f).items():
                    k = int(k)
                    merged[k] = max(merged.get(k, 0), int(v))
        except (OSError, ValueError):
            pass
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({str(k): int(v) for k, v in merged.items()}, f)
        os.replace(tmp, path)

    def partitions(self, start, end):
        s = {int(k): int(v) for k, v in start.items()}
        e = {int(k): int(v) for k, v in end.items()}
        for pid in e:
            s.setdefault(pid, 0)  # partition first seen this batch
        # keep the planner position at least at the batch start — on a
        # group-less restart this re-seeds the cap base for batch 2+
        if self._pos is not None:
            for pid, v in s.items():
                self._pos[pid] = max(self._pos.get(pid, 0), v)
        return _plan_slices(
            self.root, self.topic, s, e, self.slice_size
        ) or [_SegmentSlice(self.topic, 0, "", 0, 0)]

    def read(self, partition: _SegmentSlice):
        if not partition.path:
            return iter(())
        return _read_slice(partition)

    def commit(self, end):
        # group position is persisted at latestOffset (planning) time:
        # writing the COMMITTED end here could race a newer planned end
        # and regress the file below Spark's offset log, which on
        # recovery would re-plan already-processed offsets
        pass


# ---------------------------------------------------------------------
# Exactly-once sink (batch + streaming): stage per task, publish on
# driver commit — offsets are assigned only at commit time, so a failed
# job publishes nothing (no torn offsets), mirroring the reference's
# commit-protocol configuration surface (SURVEY §2.C).
# ---------------------------------------------------------------------


def _memoized_placement(num_partitions, max_entries: int = 1 << 20):
    """Per-task placement function caching murmur2 per DISTINCT key —
    keys repeat heavily (entity ids), and the pure-Python murmur2 was
    the dominant per-row cost of the staging path. The cache stops
    admitting past ``max_entries`` (≈60 MB of key bytes at typical id
    sizes) so a near-unique key distribution cannot hold every key's
    bytes in executor memory for the task lifetime with no hit-rate
    benefit (ADVICE r10)."""
    cache: dict[bytes | None, int] = {}

    def place(k):
        pid = cache.get(k)
        if pid is None:
            pid = default_partition(k, num_partitions)
            if len(cache) < max_entries:
                cache[k] = pid
        return pid

    return place


def _write_staged(root, topic, task_id, buckets):
    """Write one uniquely named staged parquet file per touched
    partition from {pid: [(key, value, ts_us), ...]} buckets."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    sdir = os.path.join(_topic_dir(root, topic), ".staging")
    os.makedirs(sdir, exist_ok=True)
    staged = []
    for pid, items in buckets.items():
        items.sort(key=lambda t: (t[0] or b"", t[1]))
        path = os.path.join(
            sdir, f"t{task_id}-p{pid}-{uuid.uuid4().hex}.parquet"
        )
        pq.write_table(
            pa.table(
                {
                    "key": pa.array([i[0] for i in items], type=pa.binary()),
                    "value": pa.array([i[1] for i in items], type=pa.binary()),
                    "ts_us": pa.array([i[2] for i in items], type=pa.int64()),
                }
            ),
            path,
        )
        staged.append((pid, path, len(items)))
    return staged


def _stage_batches(root, topic, num_partitions, task_id, batches):
    """Executor side of the DataSourceArrowWriter sinks: bucket the
    RecordBatches' rows by placement and stage one uniquely named file
    per touched partition; returns [(pid, staged_path, count), ...].
    Offsets are NOT assigned here — only the single driver-side commit
    does that, so task retries / speculative duplicates are shed at
    commit (last message per task wins) and a failed job publishes
    nothing. Binary columns unwrap to ``bytes`` in one call."""
    place = _memoized_placement(num_partitions)
    buckets: dict[int, list] = {}
    for b in batches:
        names = b.schema.names
        keys = b.column(names.index("key")).to_pylist()
        vals = b.column(names.index("value")).to_pylist()
        if "ts_us" in names:
            tss = b.column(names.index("ts_us")).to_pylist()
        else:
            tss = [0] * b.num_rows
        for k, v, ts in zip(keys, vals, tss):
            if v is None:
                # a NULL value must not silently stage as a parquet
                # null or surface later as an opaque sort TypeError
                raise ValueError(
                    "filekafka message 'value' must not be NULL"
                )
            buckets.setdefault(place(k), []).append((k, v, int(ts or 0)))
    return _write_staged(root, topic, task_id, buckets)


def _staged_by_pid(messages) -> dict[int, list[str]]:
    """{pid: sorted staged paths} from the writers' commit messages
    (a failed task's message is None)."""
    by_pid: dict[int, list[str]] = {}
    for m in messages:
        if m is None:
            continue
        for pid, path, _ in m.staged:
            by_pid.setdefault(pid, []).append(path)
    for pid in by_pid:
        by_pid[pid].sort()
    return by_pid


def _commit_marker_path(root, topic, pid, batch_id) -> str:
    return os.path.join(
        _topic_dir(root, topic), "_commits", f"b{batch_id:020d}-p{pid}"
    )


def _batch_published(root, topic, pid, batch_id) -> bool:
    """Has streaming batch ``batch_id`` already published to ``pid``?
    True if the commit marker exists OR a segment tagged with the batch
    id is still on disk (the marker write is the last step, so a crash
    between segment rename and marker leaves the tag as evidence)."""
    if os.path.exists(_commit_marker_path(root, topic, pid, batch_id)):
        return True
    pdir = _partition_dir(root, topic, pid)
    if not os.path.isdir(pdir):
        return False
    want = f"{batch_id:020d}"
    for name in os.listdir(pdir):
        m = _SEG_RE.match(name)
        if m and m.group(3) == want:
            return True
    return False


def _write_commit_marker(root, topic, pid, batch_id) -> None:
    path = _commit_marker_path(root, topic, pid, batch_id)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        f.write("")
    os.replace(tmp, path)


def _publish_staged(root, topic, staged_by_pid, batch_id=None):
    """Driver side: concatenate each partition's staged files in task
    order and publish ONE segment per partition at the current end;
    staged files are removed after publish.

    ``batch_id`` (streaming sink) makes the publish idempotent per
    (batch, partition): a partition the batch already published —
    detected via the commit marker or the batch-tagged segment name —
    is skipped, so a micro-batch replayed after a crash between the
    sink commit and Spark's checkpoint commit-log write does NOT
    duplicate records. (Caveat: compaction rewrites segments without
    their batch tags; run the compactor only while no crashed batch
    awaits replay — the single-maintainer discipline compaction already
    requires. The durable markers close that window for every batch
    whose commit completed.)"""
    import pyarrow.parquet as pq

    for pid in sorted(staged_by_pid):
        if batch_id is not None and _batch_published(
            root, topic, pid, batch_id
        ):
            continue
        keys, vals, tss = [], [], []
        for path in staged_by_pid[pid]:
            t = pq.read_table(path)
            keys.extend(t.column("key").to_pylist())
            vals.extend(t.column("value").to_pylist())
            tss.extend(t.column("ts_us").to_pylist())
        base = partition_end_offset(root, topic, pid)
        _write_segment(
            root, topic, pid, base, keys, vals, tss, batch_id=batch_id
        )
        if batch_id is not None:
            _write_commit_marker(root, topic, pid, batch_id)
    _remove_staged(staged_by_pid)


def _remove_staged(staged_by_pid):
    for paths in staged_by_pid.values():
        for path in paths:
            try:
                os.remove(path)
            except OSError:
                pass


class FileKafkaDataSource(DataSource):
    """``spark.read/readStream/writeStream.format("filekafka")`` over a
    directory topic log. Options: ``path`` (log root), ``topic``,
    ``startingOffsets``/``endingOffsets`` (batch read),
    ``maxOffsetsPerTrigger`` (stream read), ``numPartitions`` (sink
    topic creation)."""

    @classmethod
    def name(cls) -> str:
        return "filekafka"

    def schema(self) -> str:
        return KAFKA_SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return _FileKafkaBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _FileKafkaStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        from pyspark.sql.datasource import (
            DataSourceArrowWriter,
            WriterCommitMessage,
        )

        options = self.options

        class _Msg(WriterCommitMessage):
            def __init__(self, staged):
                self.staged = staged

        class _BatchWriter(DataSourceArrowWriter):
            def __init__(self):
                self.root = options["path"]
                self.topic = options["topic"]
                self.parts = int(options.get("numpartitions", 4))
                ensure_topic(self.root, self.topic, self.parts)

            def write(self, iterator):
                from pyspark import TaskContext

                tid = TaskContext.get().partitionId()
                return _Msg(
                    _stage_batches(
                        self.root, self.topic, self.parts, tid, iterator
                    )
                )

            def commit(self, messages):
                _publish_staged(
                    self.root, self.topic, _staged_by_pid(messages)
                )

            def abort(self, messages):
                _remove_staged(_staged_by_pid(messages))

        return _BatchWriter()

    def streamWriter(self, schema: StructType, overwrite: bool):
        from pyspark.sql.datasource import (
            DataSourceStreamArrowWriter,
            WriterCommitMessage,
        )

        options = self.options

        class _Msg(WriterCommitMessage):
            def __init__(self, staged):
                self.staged = staged

        class _StreamWriter(DataSourceStreamArrowWriter):
            def __init__(self):
                self.root = options["path"]
                self.topic = options["topic"]
                self.parts = int(options.get("numpartitions", 4))
                ensure_topic(self.root, self.topic, self.parts)

            def write(self, iterator):
                from pyspark import TaskContext

                ctx = TaskContext.get()
                return _Msg(
                    _stage_batches(
                        self.root, self.topic, self.parts,
                        ctx.partitionId(), iterator,
                    )
                )

            def commit(self, messages, batchId):
                by_pid = _staged_by_pid(messages)
                # batchId keys the idempotence check: a replayed batch
                # (crash between sink commit and Spark's commit-log
                # write) publishes nothing the second time
                _publish_staged(
                    self.root, self.topic, by_pid, batch_id=int(batchId)
                )

            def abort(self, messages, batchId):
                _remove_staged(_staged_by_pid(messages))

        return _StreamWriter()


def compact_latest(messages):
    """Log-compaction view of a topic read: the LATEST record per key,
    "latest" meaning highest (offset, partition) — within a partition
    Kafka's compaction keeps the record with the greatest offset, and a
    key normally lives in exactly one partition (hash placement), so
    the partition tie-break only matters for manually-placed keys.

    One hash aggregate (map-side combinable ``max_by``), no window —
    scale-safe at any key cardinality.
    """
    from pyspark.sql import functions as F

    latest = F.max_by(
        F.struct("value", "timestamp", "partition", "offset"),
        F.struct("offset", "partition"),
    ).alias("latest")
    out = messages.groupBy("key").agg(latest)
    return out.select(
        "key",
        F.col("latest.value").alias("value"),
        F.col("latest.timestamp").alias("timestamp"),
        F.col("latest.partition").alias("partition"),
        F.col("latest.offset").alias("offset"),
    )


def register_filekafka(spark) -> None:
    """Idempotently register the filekafka source (by-value pickled so
    foreign-cwd drivers and the streaming source runner need no
    importable package — same rationale as python_ds.py)."""
    if getattr(spark, "_sx_filekafka", False):
        return
    from pyspark import cloudpickle

    from spark_extensions_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    import spark_extensions_spark.sources.filekafka as _this_module

    cloudpickle.register_pickle_by_value(_this_module)
    # required for pushFilters (off by default in Spark 4.1; a reader
    # implementing it fails analysis without the conf)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(FileKafkaDataSource)
    spark._sx_filekafka = True
