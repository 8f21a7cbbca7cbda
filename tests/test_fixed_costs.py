"""Fixed costs paid on every task or query, removed without changing
results: the start-up hook of Spark's Python processes
(``_boot/sitecustomize.py``), the session's shuffle width, the
per-session parquet schema memo of ``load_tables`` and the CDC fold's
write width (``operators/incremental.py``)."""

from __future__ import annotations

import fnmatch
import json
import os
import shutil
import subprocess
import sys
import uuid
import zipfile
import zipimport

import duckdb
import pyspark
from pyspark.sql import functions as F

from spark_extensions_spark._boot import sitecustomize as boot
from spark_extensions_spark.operators.incremental import (
    apply_cdc_batch,
    read_cdc_state,
)
from spark_extensions_spark.operators.graph import pagerank
from spark_extensions_spark.session import default_cpus, load_tables
from tools.measure import measure


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


# --- start-up hook of Spark's Python processes ------------------------

BOOT_DIR = os.path.dirname(boot.__file__)
SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")


def _assert_installed_pyspark(pyspark_file: str, path: list) -> None:
    # a module loaded from an archive has a __file__ inside it, which is
    # no file of its own
    assert os.path.isfile(pyspark_file), pyspark_file
    on_path = [
        p for p in path
        if any(fnmatch.fnmatch(os.path.basename(p), a) for a in SPARK_ARCHIVES)
    ]
    assert on_path == [], on_path


def test_udf_workers_import_the_installed_pyspark(spark):
    @F.udf("string")
    def where(_):
        import json
        import sys
        import zipimport

        import pyspark

        importer = zipimport.zipimporter.invalidate_caches.__module__
        return json.dumps([pyspark.__file__, sys.path, importer])

    pyspark_file, path, importer = json.loads(
        spark.range(1).select(where("id")).first()[0]
    )
    _assert_installed_pyspark(pyspark_file, path)
    assert importer == "sitecustomize"


def test_streaming_source_runner_imports_the_installed_pyspark(spark, tmp_path):
    from pyspark.sql.datasource import DataSource, DataSourceStreamReader

    out = str(tmp_path / "runner.json")

    class Reader(DataSourceStreamReader):
        def initialOffset(self):
            # runs in the streaming source runner, not a task worker
            import json
            import sys

            import pyspark

            with open(out, "w") as f:
                json.dump([pyspark.__file__, sys.path], f)
            return {"pos": 0}

        def latestOffset(self):
            return {"pos": 0}

        def partitions(self, start, end):
            return []

        def read(self, partition):
            return iter(())

    class RunnerProbe(DataSource):
        @classmethod
        def name(cls):
            return "boot_runner_probe"

        def schema(self):
            return "x int"

        def streamReader(self, schema):
            return Reader()

    spark.dataSource.register(RunnerProbe)
    query = (
        spark.readStream.format("boot_runner_probe").load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    with open(out) as f:
        pyspark_file, path = json.load(f)
    _assert_installed_pyspark(pyspark_file, path)


def test_jvm_pythonpath_reaches_the_boot_hook(spark):
    # Spark merges the JVM's PYTHONPATH into every Python worker's path,
    # which is how each Python process Spark starts gets the package and
    # the hook; the driver's own variable is put back after the launch
    assert BOOT_DIR in spark._jvm.java.lang.System.getenv("PYTHONPATH").split(
        os.pathsep
    )
    assert BOOT_DIR not in os.environ.get("PYTHONPATH", "").split(os.pathsep)


def _spark_path(root, version_py: bytes) -> list:
    """A worker-like path: Spark's three archives, a zip of other code,
    and the directory that holds the installed pyspark and py4j."""
    os.makedirs(root)
    archives = [
        os.path.join(root, n)
        for n in ("pyspark.zip", "py4j-0.10.9.9-src.zip", "spark-core_2.13.jar")
    ]
    with zipfile.ZipFile(archives[0], "w") as z:
        z.writestr("pyspark/version.py", version_py)
    for a in archives[1:]:
        _write_zip(a, {"placeholder": ""})
    other = os.path.join(root, "app.zip")
    _write_zip(other, {"app": ""})
    return [*archives, other, os.path.dirname(os.path.dirname(pyspark.__file__))]


def test_trim_drops_only_spark_archives_of_the_installed_version(tmp_path):
    version_py = os.path.join(os.path.dirname(pyspark.__file__), "version.py")
    with open(version_py, "rb") as f:
        installed = f.read()
    path = _spark_path(tmp_path / "same", installed)
    assert boot.trim(path) == path[3:]

    path = _spark_path(tmp_path / "other", b"__version__: str = '0.0.1'\n")
    assert boot.trim(path) == path


def test_a_sitecustomize_the_hook_hides_still_runs(tmp_path):
    hidden = tmp_path / "hidden"
    hidden.mkdir()
    (hidden / "sitecustomize.py").write_text("print('hidden sitecustomize ran')\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([BOOT_DIR, str(hidden)]))
    got = subprocess.run(
        [
            sys.executable,
            "-c",
            "import zipimport;"
            "print(zipimport.zipimporter.invalidate_caches.__module__)",
        ],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert got == ["hidden", "sitecustomize", "ran", "sitecustomize"]


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
    boot.invalidate_caches(importer)  # first call stamps the archive
    reads.clear()
    boot.invalidate_caches(importer)
    boot.invalidate_caches(importer)
    assert reads == []

    _write_zip(archive, {"m1": "X = 1\n", "m2": "Y = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    boot.invalidate_caches(importer)
    assert reads == [archive]
    assert importer.find_spec("m2") is not None


# --- shuffle width ---------------------------------------------------

def test_local_session_width_is_its_cores(spark):
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == (
        spark.sparkContext.defaultParallelism
    )


def test_default_master_takes_the_affinity_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_warm_pagerank_runs_no_job_wider_than_the_cores(spark):
    edges = spark.createDataFrame(
        [(i, (7 * i + 1) % 40) for i in range(120)], "src long, dst long"
    )
    measure(spark, lambda: pagerank(edges))
    warm = measure(spark, lambda: pagerank(edges))
    assert warm.jobs
    widest = max(j["tasks"] for j in warm.jobs)
    assert widest <= spark.sparkContext.defaultParallelism, warm.jobs


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
