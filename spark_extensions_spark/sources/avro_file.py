"""Avro Object Container File source/sink on the pure-Python codec.

This container does not ship the spark-avro JVM connector, so the
``avro`` format row of SURVEY §2.E is served by a DataFrame-native
reader/writer over the public Avro 1.11 container spec:

``Obj\\x01`` magic → file-metadata map (``avro.schema`` JSON,
``avro.codec``: null | deflate) → 16-byte sync marker → blocks of
``(count, byte_size, records…, sync)``.

Read path: files are listed (``binaryFile`` metadata only — content is
never shipped through Spark rows) and cut into ``split_size`` byte
ranges; each task seeks to its range, scans forward to the next 16-byte
sync marker (the same convention Hadoop's ``DataFileReader.sync`` uses)
and decodes the blocks that START inside its range with
:mod:`spark_extensions_spark.schema.avro_codec`, honoring classic
writer→reader schema resolution when ``reader_schema`` is given. A
single multi-gigabyte container therefore fans out across tasks instead
of pinning one task per file.

Write path: each partition serializes to one ``part-*.avro`` container
(deflate optional) via ``foreachPartition``. Plain ``open()`` I/O —
local/NFS paths; object stores need a Hadoop-FS shim here.
"""

from __future__ import annotations

import io
import json
import os
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from spark_extensions_spark.schema.avro import avro_to_spark, spark_to_avro
from spark_extensions_spark.schema.avro_codec import (
    _read_long,
    _write_long,
    make_encoder,
)

MAGIC = b"Obj\x01"


def _read_header(buf: bytes) -> tuple[dict, bytes, int]:
    """Returns (metadata, sync_marker, offset_after_header)."""
    if buf[:4] != MAGIC:
        raise ValueError("not an Avro object container file (bad magic)")
    mv = memoryview(buf)
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        n, pos = _read_long(mv, pos)
        if n == 0:
            break
        if n < 0:
            n = -n
            _, pos = _read_long(mv, pos)  # block byte size, unused
        for _ in range(n):
            klen, pos = _read_long(mv, pos)
            key = bytes(mv[pos : pos + klen]).decode("utf-8")
            pos += klen
            vlen, pos = _read_long(mv, pos)
            meta[key] = bytes(mv[pos : pos + vlen])
            pos += vlen
    sync = bytes(mv[pos : pos + 16])
    return meta, sync, pos + 16


def _local_path(uri: str) -> str:
    if uri.startswith("file:"):
        p = uri[5:]
        while p.startswith("//"):
            p = p[1:]
        return p
    return uri


def _header_from_file(f) -> tuple[dict, bytes, int]:
    """Parse the container header reading a bounded file prefix."""
    size = 1 << 16
    while True:
        f.seek(0)
        buf = f.read(size)
        try:
            meta, sync, end = _read_header(buf)
        except IndexError:
            meta, end = None, size + 1  # truncated mid-varint: grow
        if meta is not None and end <= len(buf):
            return meta, sync, end
        if len(buf) < size:
            raise ValueError("Avro container corrupt: header exceeds file")
        if size > (64 << 20):
            raise ValueError("Avro header larger than 64 MB — refusing")
        size *= 2


def _scan_sync(f, sync: bytes, from_pos: int) -> int | None:
    """Absolute position just AFTER the first sync marker at or beyond
    ``from_pos`` (None when no further marker exists)."""
    f.seek(from_pos)
    pos = from_pos
    prev = b""
    while True:
        chunk = f.read(1 << 20)
        if not chunk:
            return None
        hay = prev + chunk
        i = hay.find(sync)
        if i >= 0:
            return pos - len(prev) + i + 16
        prev = hay[-15:]
        pos += len(chunk)


def _read_long_file(f) -> int | None:
    """Zigzag-varint from the file's current position (None at EOF)."""
    shift = 0
    acc = 0
    while True:
        b = f.read(1)
        if not b:
            return None
        byte = b[0]
        acc |= (byte & 0x7F) << shift
        if not (byte & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)


def _iter_records_range(f, sync: bytes, decoder, codec: str, start: int, end: int):
    """Decode records of every block whose first byte lies in
    [start, end) — the split-ownership rule that makes ranges disjoint
    and exhaustive across tasks."""
    pos = start
    while pos < end:
        f.seek(pos)
        count = _read_long_file(f)
        if count is None:
            return  # EOF
        size = _read_long_file(f)
        block = f.read(size)
        if f.read(16) != sync:
            raise ValueError("Avro container corrupt: sync marker mismatch")
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        bmv = memoryview(block)
        bpos = 0
        for _ in range(count):
            rec, bpos = decoder(bmv, bpos)
            yield rec
        pos = f.tell()


def read_avro(
    spark: SparkSession,
    path: str,
    reader_schema: dict | str | None = None,
    split_size: int = 32 << 20,
) -> DataFrame:
    """Read Avro container files into a DataFrame.

    ``reader_schema`` (Avro JSON) activates schema resolution against
    each file's writer schema; default reads with the writer schema of
    the first file. Files larger than ``split_size`` are processed as
    multiple byte-range splits (block-aligned via sync-marker scan), so
    one giant file does not serialize onto one task.
    """
    import pandas as pd

    from spark_extensions_spark.schema.avro_codec import _resolver

    listing = (
        spark.read.format("binaryFile")
        .load(path)
        .select("path", "length")
        .collect()
    )
    if not listing:
        raise ValueError(f"no files at {path}")
    with open(_local_path(listing[0]["path"]), "rb") as f0:
        meta, _, _ = _header_from_file(f0)
    writer0 = json.loads(meta["avro.schema"])
    if reader_schema is None:
        reader = writer0
    elif isinstance(reader_schema, str):
        reader = json.loads(reader_schema)
    else:
        reader = reader_schema
    spark_type, _ = avro_to_spark(reader)
    if not isinstance(spark_type, StructType):
        raise ValueError("top-level Avro schema must be a record")
    field_names = [f.name for f in spark_type.fields]

    from spark_extensions_spark.session import ensure_workers_can_import

    ensure_workers_can_import(spark)
    split_rows = []
    for r in listing:
        local = _local_path(r["path"])
        length = int(r["length"])
        for s in range(0, max(length, 1), split_size):
            split_rows.append((local, s, min(s + split_size, length)))
    splits = spark.createDataFrame(
        split_rows, "path string, start long, end long"
    ).repartition(len(split_rows))

    def parse(batches):
        decoders: dict[str, object] = {}
        for pdf in batches:
            rows = []
            for fpath, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                with open(fpath, "rb") as f:
                    meta_f, sync, header_end = _header_from_file(f)
                    schema_key = meta_f["avro.schema"].decode("utf-8")
                    codec = meta_f.get("avro.codec", b"null").decode("utf-8")
                    dec = decoders.get(schema_key)
                    if dec is None:
                        dec = _resolver(json.loads(schema_key), reader)
                        decoders[schema_key] = dec
                    if s == 0:
                        first = header_end
                    else:
                        # first block starting at or after byte s: a sync
                        # ending exactly at s puts the block boundary at s.
                        # Floor at header_end-16 (the header's trailing
                        # sync) so a header crossing the split boundary
                        # still yields the first block to this split.
                        first = _scan_sync(
                            f, sync, max(int(s) - 16, header_end - 16)
                        )
                    if first is not None:
                        rows.extend(
                            _iter_records_range(
                                f, sync, dec, codec, first, int(e)
                            )
                        )
            yield pd.DataFrame(
                [[r.get(c) for c in field_names] for r in rows],
                columns=field_names,
            )

    return splits.mapInPandas(parse, spark_type)


def write_avro(
    df: DataFrame,
    path: str,
    codec: str = "null",
    record_name: str = "topLevelRecord",
) -> None:
    """Write a DataFrame as Avro container files (one per partition).

    Deterministic layout: the 16-byte sync marker derives from the
    schema + partition id (reproducible bytes for identical input).
    """
    import hashlib

    if codec not in ("null", "deflate"):
        raise ValueError("codec must be null|deflate")
    avro_schema = spark_to_avro(df.schema, nullable=False, record_name=record_name)
    schema_json = json.dumps(avro_schema)
    field_names = [f.name for f in df.schema.fields]
    os.makedirs(path, exist_ok=True)

    from pyspark import TaskContext

    def write_partition(rows) -> None:
        enc = make_encoder(avro_schema)
        pid = TaskContext.get().partitionId()
        sync = hashlib.md5(f"{schema_json}:{pid}".encode()).digest()
        body = io.BytesIO()
        count = 0
        for row in rows:
            body.write(enc({c: row[c] for c in field_names}))
            count += 1
        if count == 0:
            return
        out = io.BytesIO()
        out.write(MAGIC)
        meta = {"avro.schema": schema_json.encode(), "avro.codec": codec.encode()}
        _write_long(out, len(meta))
        for k, v in meta.items():
            kb = k.encode()
            _write_long(out, len(kb))
            out.write(kb)
            _write_long(out, len(v))
            out.write(v)
        _write_long(out, 0)
        out.write(sync)
        block = body.getvalue()
        if codec == "deflate":
            comp = zlib.compressobj(9, zlib.DEFLATED, -15)
            block = comp.compress(block) + comp.flush()
        _write_long(out, count)
        _write_long(out, len(block))
        out.write(block)
        out.write(sync)
        with open(os.path.join(path, f"part-{pid:05d}.avro"), "wb") as f:
            f.write(out.getvalue())

    df.foreachPartition(write_partition)
