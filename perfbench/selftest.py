"""Self-test of the benchmark: every workload, one pass at sf0.001,
untraced and traced.

    python3 perfbench/selftest.py

Run it from the root of a source checkout. It checks that each run
prints every metric ``BENCHMARK.json`` names, with its unit, that no
query fails, and that the traced run reports ``trace.overhead_frac``
and a nonzero ``spark.job_s``. It also checks in a small session of
its own that the tracer's job totals include streaming micro-batch
jobs, which run in their query's job group. It exits with 1 on the
first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    label = f"{workload} trace={trace}"
    if out.returncode != 0:
        return [f"{label}: exit {out.returncode}\n{out.stderr[-3000:]}"]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{label}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
        problems.append(f"{label}: correct={result['correct']} failed={result['failed']}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    for m in wanted:
        if m["name"] not in got:
            problems.append(f"{label}: {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            problems.append(f"{label}: {m['name']} unit {got[m['name']]['unit']}")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        problems.append(f"{label}: metrics not in BENCHMARK.json: {sorted(extra)}")
    if not trace and got.get("pass_ratio", {}).get("value") != 1.0:
        problems.append(f"{label}: pass_ratio is not 1")
    if trace and "trace.overhead_frac" not in got:
        problems.append(f"{label}: trace.overhead_frac missing")
    if trace and not got.get("spark.job_s", {}).get("value", 0) > 0:
        problems.append(f"{label}: spark.job_s is not above 0")
    return problems


def check_streaming_jobs() -> list[str]:
    """The status-store totals count an availableNow query's jobs."""
    sys.path.insert(0, HERE)
    import tracing
    from pyspark.sql import SparkSession
    from run import stop_jvm

    src = tempfile.mkdtemp(prefix="perfbench_selftest_")
    spark = SparkSession.builder.master("local[1]").getOrCreate()
    try:
        spark.range(100).write.mode("overwrite").parquet(src)
        store = tracing.StatusStore(spark)
        first = store.last_job_id()
        query = (
            spark.readStream.schema("id long").parquet(src).groupBy().count()
            .writeStream.outputMode("complete").format("memory")
            .queryName("perfbench_selftest").trigger(availableNow=True).start()
        )
        query.awaitTermination()
        jobs = store.jobs_after(first)
    finally:
        stop_jvm()
        shutil.rmtree(src, ignore_errors=True)
    if jobs["jobs"] < 1 or not jobs["job_s"] > 0:
        return [f"streaming jobs not counted: {jobs}"]
    return []


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    problems = check_streaming_jobs()
    for p in problems:
        print(f"FAIL {p}")
    if problems:
        return 1
    print("ok   streaming jobs counted")
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = check_run(w["name"], trace, spec)
            for p in problems:
                print(f"FAIL {p}")
            if problems:
                return 1
            print(f"ok   {w['name']} trace={trace}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
