"""The shared measurement module (tools/measure.py) reads a run's jobs
from the JVM status store while the session keeps the Spark UI off."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.measure import measure  # noqa: E402


def test_measure_reads_jobs_with_ui_off(spark):
    run = measure(spark, lambda: spark.range(1000).selectExpr("sum(id) AS s"))
    assert len(run.jobs) >= 1
    assert 0 <= run.job_s <= run.wall
    assert spark.conf.get("spark.ui.enabled") == "false"
