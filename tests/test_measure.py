"""The shared measurement module (tools/measure.py) reads a run's jobs
from the JVM status store while the session keeps the Spark UI off, and
bench.py's JSON line records the environment it ran on."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.measure import measure  # noqa: E402


def test_measure_reads_jobs_with_ui_off(spark):
    run = measure(spark, lambda: spark.range(1000).selectExpr("sum(id) AS s"))
    assert len(run.jobs) >= 1
    assert 0 <= run.job_s <= run.wall
    assert spark.conf.get("spark.ui.enabled") == "false"


def test_bench_line_records_its_environment(spark):
    from bench import environment

    env = environment(spark)
    assert set(env) == {
        "master", "default_parallelism", "shuffle_partitions", "nproc",
        "pyspark", "duckdb", "python", "git_sha", "worker_pyspark",
    }
    assert env["master"] == spark.sparkContext.master
    assert env["default_parallelism"] == spark.sparkContext.defaultParallelism
    assert env["nproc"] >= 1
    # a get_spark session on a local master starts its workers on the
    # installed pyspark
    assert env["worker_pyspark"] == "installed"
    assert len(json.dumps(env)) < 300  # the bench line stays compact
