"""The shared measurement module (tools/measure.py) reads a run's jobs
from the JVM status store while the session keeps the Spark UI off, and
bench.py's JSON line records the environment it ran on."""

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.measure import measure  # noqa: E402


def test_measure_reads_jobs_with_ui_off(spark):
    run = measure(spark, lambda: spark.range(1000).selectExpr("sum(id) AS s"))
    assert len(run.jobs) >= 1
    assert 0 <= run.job_s <= run.wall
    assert spark.conf.get("spark.ui.enabled") == "false"


# A job of 31 stages in a session whose status store keeps 20: the
# store evicts the oldest stages, which the job's row must count as
# missing rather than skip. retainedStages is fixed at JVM launch, so
# this runs in a process of its own.
_EVICTION = """
import json, sys, time
sys.path.insert(0, sys.argv[1])
from spark_extensions_spark.session import get_spark
from tools.measure import JobStore
spark = get_spark(
    "eviction", master="local[1]",
    extra_conf={"spark.ui.retainedStages": "20"},
)
rdd = spark.sparkContext.parallelize(range(8), 1).map(lambda x: (x, 1))
for _ in range(30):
    rdd = rdd.map(lambda kv: kv).reduceByKey(lambda a, b: a + b, 1)
store = JobStore(spark)
first = store.last_job_id()
rdd.count()
for _ in range(20):  # the store evicts on a thread of its own
    (row,) = store.job_rows(first)
    if row["missing"]:
        break
    time.sleep(0.5)
print(json.dumps(row))
"""


def test_stages_the_store_evicted_count_as_missing(tmp_path):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, "-c", _EVICTION, root],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    row = json.loads(p.stdout.splitlines()[-1])
    assert row["tasks"] == 31
    assert row["stages"] + row["missing"] == 31
    assert row["missing"] >= 31 - 20


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
