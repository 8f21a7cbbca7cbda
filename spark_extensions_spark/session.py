"""SparkSession factory with scale-minded defaults.

The reference library configures nothing session-level (it is a passive
Catalyst extension, ``/root/reference/README.md:1-2``); our engine owns the
session and pins the settings that matter for a 1000-executor / 100 TB
deployment while staying correct on ``local[N]`` test runs:

- AQE on (runtime join-strategy re-pick, partition coalescing, skew-join
  splitting) — the single biggest lever at scale.
- ``spark.sql.session.timeZone=UTC`` — deterministic timestamp semantics
  (matches the DuckDB oracle's naive timestamps).
- Arrow on for any pandas-UDF path.
- One width rule: on a local master, shuffle partitions equal the
  session's cores (``defaultParallelism``; ``local[N]`` → N), so the
  bench, the profilers, the tests and the benchmark plan at the same
  width. AQE cannot coalesce the partitions of cached plans, explicit
  ``repartition`` calls or checkpointed round states, so a wider
  setting only adds tasks there: each of pagerank's round jobs ran 32
  tasks over a few thousand edges on a 4-core box. Other masters keep
  32, and an explicit ``extra_conf`` value wins everywhere.
- The default master is ``local[$SPARK_GRAFT_CPUS]``, else one thread
  per core this process may run on (``os.sched_getaffinity``).
- On a local master, every Python process Spark starts (the worker
  daemon, the Python DataSource planners, the streaming source runner)
  can import this package and runs ``_boot/sitecustomize.py`` at
  interpreter start: ``get_spark`` launches the JVM with both on its
  ``PYTHONPATH``, which Spark merges into every Python worker's path.
  Spark puts ``pyspark.zip`` first on
  a worker's path, and the zip holds no bytecode, so each fresh
  interpreter compiled pyspark: about 1 s for every streaming query's
  source runner. The hook drops Spark's archives when the installed
  pyspark is the same version, so imports load its compiled copy, and
  makes zip importers re-read an archive on each task's
  ``importlib.invalidate_caches()`` only when it changed (up to Python
  3.11 each call re-read every zip on the path, about 0.3 s a task).
  Local masters only: executors elsewhere may not have this package, so
  other masters keep Spark's stock workers.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# Defaults chosen for local[N] testing; every one of these is safe (or
# strictly better) on a large cluster, where AQE re-derives parallelism.
# get_spark sizes shuffle partitions to the cores on a local master.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.ui.enabled": "false",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The fixture events.parquet stores ts as TIMESTAMP(NANOS), which the
    # Spark parquet reader rejects by default; read as long and convert
    # (load_tables) — matches DuckDB's microsecond-truncated values.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_BOOT_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_boot")
_SCRATCH: dict[int, str] = {}  # pid -> this process's scratch root


def _remove_scratch(pid: int, root: str) -> None:
    # a forked child inherits the hook; only the creating process cleans
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def _scratch_root() -> str:
    pid = os.getpid()
    if pid not in _SCRATCH:
        _SCRATCH[pid] = tempfile.mkdtemp(prefix="spark_graft_")
        atexit.register(_remove_scratch, pid, _SCRATCH[pid])
    return _SCRATCH[pid]


def scratch_dir(prefix: str) -> str:
    """A fresh directory for the package's scratch output (query staging
    tables, stream sources, default streaming checkpoints), made under a
    per-process root in the system temp dir that an ``atexit`` hook
    removes when the interpreter exits."""
    return tempfile.mkdtemp(prefix=prefix, dir=_scratch_root())


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cores this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


@contextlib.contextmanager
def _jvm_pythonpath(*dirs: str):
    """``dirs`` first on ``PYTHONPATH`` for the body of a ``with`` block,
    which launches the JVM; the variable is put back on exit, so the
    driver's own subprocesses see it unchanged."""
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = os.pathsep.join([*dirs, prev] if prev else dirs)
    try:
        yield
    finally:
        if prev is None:
            del os.environ["PYTHONPATH"]
        else:
            os.environ["PYTHONPATH"] = prev


def get_spark(
    app_name: str = "spark_extensions_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[default_cpus()]`` when no cluster
    master is supplied — mirrors the driver harness. On a local master
    ``spark.sql.shuffle.partitions`` is the session's
    ``defaultParallelism`` (elsewhere 32) unless ``extra_conf`` sets it.
    """
    if master is None:
        master = f"local[{default_cpus()}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    # local[N] runs driver + all executor threads in ONE JVM whose
    # default heap is 1g — far too small for N-way parallel shuffles /
    # broadcasts (observed OOM at ~50k-doc similarity joins). Only
    # effective at JVM launch: the first get_spark in the process wins;
    # sessions we didn't build (driver harness) keep their own setting.
    if master.startswith("local"):
        conf.setdefault(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    launch = contextlib.nullcontext()
    if master.startswith("local") and SparkContext._gateway is None:
        # Spark merges the JVM's PYTHONPATH into every Python worker's
        # path: each one can import this package whatever the driver's
        # cwd, and runs _boot/sitecustomize.py
        launch = _jvm_pythonpath(_PACKAGE_ROOT, _BOOT_DIR)
    with launch:
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    width = "spark.sql.shuffle.partitions"
    if spark.sparkContext.master.startswith("local") and width not in (
        extra_conf or {}
    ):
        spark.conf.set(width, str(spark.sparkContext.defaultParallelism))
    return spark


@contextlib.contextmanager
def conf_override(spark: SparkSession, conf: dict):
    """Set runtime SQL confs for the body of a ``with`` block and put
    each key back on exit: a key that was set gets its old value, a key
    that was unset is unset again. A ``None`` value leaves its key
    alone, so callers can pass optional settings straight through."""
    conf = {k: str(v) for k, v in conf.items() if v is not None}
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def recommended_conf(
    input_bytes: int,
    executor_cores: int = 4,
    num_executors: int | None = None,
    executor_mem_bytes: int = 16 * 1024**3,
) -> dict[str, str]:
    """Scale-out configuration for a given input size — the 100 TB
    sizing rules of thumb, encoded.

    - ``shuffle.partitions``: target ~192 MiB of shuffled data per
      partition (fits a task comfortably in a few GiB of heap with
      2-3x expansion), rounded up to a multiple of the total core
      count so no wave runs ragged; floor of 2x cores.
    - ``files.maxPartitionBytes``: 256 MiB — big enough that a 100 TB
      scan is ~400k tasks (scheduler-fine), small enough to rebalance
      skewed file layouts.
    - ``autoBroadcastJoinThreshold``: min(10% of executor memory,
      256 MiB) — broadcast as much as safely fits; AQE upgrades at
      runtime anyway.
    - AQE on with skew-join handling (non-negotiable at scale).

    Pass the result to ``get_spark(extra_conf=...)`` or a cluster
    submit; values are strings, ready for ``--conf``.
    """
    target_part = 192 * 1024**2
    parts = max(1, (input_bytes + target_part - 1) // target_part)
    total_cores = executor_cores * (num_executors or 1)
    if num_executors is not None:
        parts = max(parts, 2 * total_cores)
        parts = ((parts + total_cores - 1) // total_cores) * total_cores
    bcast = min(executor_mem_bytes // 10, 256 * 1024**2)
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(256 * 1024**2),
        "spark.sql.autoBroadcastJoinThreshold": str(bcast),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
    }


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    pandas-UDF closures reference module-level functions, which pickle by
    reference — workers must import ``spark_extensions_spark`` even when
    the driver process launched from a foreign cwd with no PYTHONPATH.
    Idempotent per session; the zip is tiny (pure Python).
    """
    if getattr(spark, "_sx_pyfiles_added", False):
        return
    import zipfile

    root = _PACKAGE_ROOT
    pkg_dir = os.path.join(root, "spark_extensions_spark")
    zpath = os.path.join(
        _scratch_root(), f"spark_extensions_spark_pkg_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)
    spark._sx_pyfiles_added = True


def _read_parquet_memo(spark: SparkSession, path: str):
    """``spark.read.parquet(path)`` with the session's schema memo (see
    :func:`load_tables`); a path that cannot be stat'ed is inferred."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size)
    memo = getattr(spark, "_sx_schemas", None)
    if memo is None:
        memo = spark._sx_schemas = {}
    if key in memo:
        return spark.read.schema(memo[key]).parquet(path)
    df = spark.read.parquet(path)
    memo[key] = df.schema
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Read the driver's parquet fixtures and register temp views.

    Returns a dict name -> DataFrame. Scans stay lazy; Catalyst prunes
    columns/filters down to the parquet reader.

    Inferring a parquet schema starts a Spark job, so each table's
    inferred ``StructType`` is kept on the session, keyed by
    ``(path, st_mtime_ns, st_size)``: a repeat load of an unchanged file
    reads with that schema and starts no job, and a rewritten file is
    inferred afresh. Only the schema is kept, never the DataFrame: each
    load is a new relation with its own expression ids, so a self-join
    of two loads stays a join of two sides.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    # Callers may hand us a session we didn't build (the driver harness
    # does); pin the runtime confs correctness depends on, and make the
    # package importable on executor workers (pandas-UDF paths).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ensure_workers_can_import(spark)

    out = {}
    for name in names:
        df = _read_parquet_memo(spark, os.path.join(sf_dir, f"{name}.parquet"))
        # TIMESTAMP(NANOS) columns arrive as long (nanosAsLong); restore
        # them to timestamps at microsecond precision (exact division —
        # the fixtures carry at most µs resolution).
        if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts", F.expr("timestamp_micros(cast(ts div 1000 as long))")
            )
        # Fixtures that store ts as TIMESTAMP(MICROS, isAdjustedToUTC=false)
        # read as TIMESTAMP_NTZ in Spark 4; watermarks (streaming paths)
        # require TIMESTAMP. Session tz is pinned UTC, so the cast is
        # value-preserving and matches DuckDB's naive timestamps.
        if name == "events" and isinstance(
            df.schema["ts"].dataType, TimestampNTZType
        ):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def ensure_parallelism(df, min_parts: int | None = None):
    """Restore scan parallelism on unsplittable small inputs.

    A parquet file with a single row group is one scan task no matter
    how large ``maxPartitionBytes`` splits it — so a CPU-heavy
    row-local stage (shingling, per-doc sorts, entropy folds) runs on
    ONE core over a one-file fixture. When the planned scan has fewer
    partitions than the session's parallelism, repartition round-robin
    so the heavy projection lands AFTER the exchange (verified: the
    optimizer does not push the projection back through it).

    At 100 TB inputs arrive as thousands of splits and this is a no-op
    — the check costs one driver-side planning call, no job. Shuffle
    cost when it does fire is one pass over the (small, by
    construction) input bytes, repaid many times over by the restored
    cores (measured 5x on the dup-ngram pass at sf0.1).
    """
    spark = df.sparkSession
    want = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


def expansion_width(spark) -> int:
    """Partition count for a KEYED exchange that feeds a row-expanding
    or compute-heavy stage and therefore must not be AQE-bytes-coalesced
    (AQE sizes post-shuffle partitions by the exchange's bytes and is
    blind to downstream O(w²) expansion — measured 2-task 0.8 s stages
    on a 32-core session at sf0.1). Returns the LARGER of the session's
    shuffle width and core count, so pinning never lowers real-scale
    parallelism; an explicit ``repartition(expansion_width(s), key)``
    replaces the exchange the following groupBy would have inserted
    anyway (same key ⇒ the aggregation reuses the partitioning)."""
    sc_width = spark.sparkContext.defaultParallelism
    try:
        conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_width = 0
    return max(sc_width, conf_width)


ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
