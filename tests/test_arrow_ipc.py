"""Arrow IPC source/sink roundtrips (sources/arrow_ipc.py)."""

from __future__ import annotations

import glob
import os

import pyarrow.ipc as pa_ipc
import pytest

from pyspark.sql import functions as F

from spark_extensions_spark.sources.arrow_ipc import (
    read_arrow_ipc,
    write_arrow_ipc,
)


def test_roundtrip_multi_partition(spark, tmp_path):
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
    ).repartition(4)
    path = str(tmp_path)
    write_arrow_ipc(df, path)
    files = glob.glob(path + "/*.arrow")
    assert len(files) == 4
    back = read_arrow_ipc(spark, path)
    assert back.schema == df.schema
    assert sorted(r.id for r in back.collect()) == list(range(1000))
    got = {r.id: (r.v, r.s) for r in back.collect()}
    assert got[13] == (13 % 7 * 1.0, "s13")


def test_files_are_readable_by_plain_pyarrow(spark, tmp_path):
    df = spark.range(10).select(F.col("id"), F.lit("x").alias("tag"))
    path = str(tmp_path)
    write_arrow_ipc(df.coalesce(1), path)
    [f] = glob.glob(path + "/*.arrow")
    table = pa_ipc.open_file(f).read_all()
    assert table.num_rows == 10
    assert table.column_names == ["id", "tag"]


def test_read_empty_dir_raises(spark, tmp_path):
    path = str(tmp_path)
    with pytest.raises(ValueError):
        read_arrow_ipc(spark, path)


def test_nulls_roundtrip(spark, tmp_path):
    df = spark.range(6).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.col("id").cast("double")).alias("v"),
    )
    path = str(tmp_path)
    write_arrow_ipc(df, path)
    back = read_arrow_ipc(spark, path)
    vals = {r.id: r.v for r in back.collect()}
    assert vals[1] is None and vals[2] == 2.0


def test_webdataset_roundtrip_and_determinism(spark, tmp_path):
    import glob
    import hashlib

    from spark_extensions_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    df = spark.range(100).select(
        F.concat(F.lit("doc"), F.col("id").cast("string")).alias("k"),
        F.concat(F.lit("text-"), F.col("id").cast("string")).alias("t"),
        (F.col("id") % 3).alias("grp"),
    ).repartition(3)
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    os.mkdir(p1)
    os.mkdir(p2)
    write_webdataset(df.coalesce(1), p1, "k", "t", ["grp"])
    write_webdataset(df.coalesce(1), p2, "k", "t", ["grp"])
    # reproducible bytes: identical content hash for identical input
    h1, h2 = (
        hashlib.sha256(open(glob.glob(p + "/*.tar")[0], "rb").read()).hexdigest()
        for p in (p1, p2)
    )
    assert h1 == h2

    back = read_webdataset(spark, p1)
    rows = {r.key: r for r in back.collect()}
    assert len(rows) == 100
    assert rows["doc7"].text == "text-7"
    import json as _json

    assert _json.loads(rows["doc7"].meta) == {"grp": 1}


def test_webdataset_multi_shard(spark, tmp_path):
    import glob

    from spark_extensions_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    df = spark.range(50).select(
        F.col("id").cast("string").alias("k"),
        F.lit("x").alias("t"),
    ).repartition(4)
    p = str(tmp_path)
    write_webdataset(df, p, "k", "t")
    assert len(glob.glob(p + "/*.tar")) == 4
    assert read_webdataset(spark, p).count() == 50
