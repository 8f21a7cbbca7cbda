"""Fixed costs paid on every task or query, removed without changing
results: the worker daemon's zip importers (``_pydaemon.py``), the
per-session parquet schema memo of ``load_tables`` and the CDC fold's
write width (``operators/incremental.py``)."""

from __future__ import annotations

import json
import os
import shutil
import uuid
import zipfile
import zipimport

import duckdb
from pyspark.sql import functions as F

from spark_extensions_spark import _pydaemon
from spark_extensions_spark.operators.incremental import (
    apply_cdc_batch,
    read_cdc_state,
)
from spark_extensions_spark.session import load_tables


def _jobs_started(spark, action) -> int:
    """Spark jobs ``action()`` starts, counted in a job group of its own."""
    sc = spark.sparkContext
    group = f"fixed-costs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# --- worker daemon ---------------------------------------------------

def test_python_workers_run_the_daemon_replacement(spark):
    @F.udf("string")
    def importer_fn_module(_):
        import zipimport

        return zipimport.zipimporter.invalidate_caches.__module__

    got = spark.range(1).select(importer_fn_module("id")).first()[0]
    assert got == "spark_extensions_spark._pydaemon"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_directory_is_reread_only_when_the_archive_changed(
    tmp_path, monkeypatch
):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"m1": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    _pydaemon.invalidate_caches(importer)  # first call stamps the archive
    reads.clear()
    _pydaemon.invalidate_caches(importer)
    _pydaemon.invalidate_caches(importer)
    assert reads == []

    _write_zip(archive, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _pydaemon.invalidate_caches(importer)
    assert reads == [archive]
    assert importer.find_spec("m2") is not None


# --- load_tables schema memo ------------------------------------------

def test_repeat_load_starts_no_job(spark, sf_dir, tmp_path):
    shutil.copy(
        os.path.join(sf_dir, "nation.parquet"), tmp_path / "memo_nation.parquet"
    )

    def load():
        load_tables(spark, str(tmp_path), "memo_nation")

    assert _jobs_started(spark, load) >= 1  # schema inference
    assert _jobs_started(spark, load) == 0


def test_two_loads_self_join_like_duckdb(spark, sf_dir):
    a = load_tables(spark, sf_dir, "nation")["nation"]
    b = load_tables(spark, sf_dir, "nation")["nation"]
    got = a.join(b, a["n_regionkey"] == b["n_regionkey"]).count()
    path = os.path.join(sf_dir, "nation.parquet")
    want = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{path}') a "
        f"JOIN read_parquet('{path}') b ON a.n_regionkey = b.n_regionkey"
    ).fetchone()[0]
    assert got == want


def test_rewritten_file_shows_its_new_column(spark, tmp_path):
    path = tmp_path / "memo_probe.parquet"
    duckdb.sql(f"COPY (SELECT 1 AS a) TO '{path}' (FORMAT parquet)")
    assert load_tables(spark, str(tmp_path), "memo_probe")[
        "memo_probe"
    ].columns == ["a"]
    duckdb.sql(f"COPY (SELECT 1 AS a, 2 AS b) TO '{path}' (FORMAT parquet)")
    df = load_tables(spark, str(tmp_path), "memo_probe")["memo_probe"]
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(1, 2)]


# --- CDC fold --------------------------------------------------------

def test_cdc_fold_writes_one_file_per_bucket(spark, tmp_path):
    assert spark.sparkContext.defaultParallelism < 16
    batch = spark.range(400).select(
        F.col("id").alias("k"), F.lit("U").alias("op"), F.col("id").alias("seq")
    )
    state = str(tmp_path / "state")
    apply_cdc_batch(batch, state, ["k"], "seq", n_buckets=16)
    with open(os.path.join(state, "_CURRENT")) as f:
        version = f.read().strip()
    with open(os.path.join(version, "manifest.json")) as f:
        buckets = json.load(f)["buckets"]
    assert len(buckets) == 16
    for bucket_dir in buckets.values():
        files = [n for n in os.listdir(bucket_dir) if n.endswith(".parquet")]
        assert len(files) == 1, (bucket_dir, files)
    assert read_cdc_state(spark, state).count() == 400


def test_cdc_deletes_only_batch_with_spaced_column_reads_back(spark, tmp_path):
    schema = "k int, seq bigint, op string, `event id` bigint"
    state = str(tmp_path / "state")
    deletes = spark.createDataFrame([(1, 1, "D", 7)], schema)
    apply_cdc_batch(deletes, state, ["k"], "seq")
    empty = read_cdc_state(spark, state)
    assert empty.columns == ["k", "seq", "event id"]
    assert empty.count() == 0

    upsert = spark.createDataFrame([(2, 2, "U", 9)], schema)
    apply_cdc_batch(upsert, state, ["k"], "seq")
    assert [tuple(r) for r in read_cdc_state(spark, state).collect()] == [
        (2, 2, 9)
    ]
