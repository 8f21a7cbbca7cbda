"""Self-defending bench re-measure pass (VERDICT r8 #3).

The round-8 driver bench recorded a 654.9s suite on a contended
machine — untouched sub-second queries inflated 5-11x — and nothing in
bench.py could distinguish that from a real regression. The fix:
bench.py re-measures (same session, back-to-back after the suite)
every query whose first timing tripped the 2x rolling-baseline gate,
records {"first", "remeasured"} in BENCH_DETAIL.json, and
tools/bench_diff.py gates on the re-measured value.

Covered here:
- mechanics: exactly the gate-tripping rows re-run, others don't;
- bench_diff consumes the remeasured field (a contended first timing
  no longer fails the gate; a reproducing slow timing still does);
- a synthetic-contention demo: a CPU-bound Spark query timed while a
  multiprocessing spin pool saturates the cores trips the gate, and
  the re-measure pass (spin pool stopped) absorbs it.
"""

import json
import multiprocessing
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import remeasure_contended  # noqa: E402
from tools.bench_diff import diff  # noqa: E402


def test_remeasure_reruns_exactly_the_gate_tripping_rows():
    calls = []

    def run_one(name):
        calls.append(name)
        return 1.0

    timings = {
        "fast_ok": 0.5,          # above ratio vs 0.2 but under 1s floor
        "slow_ok": 5.0,          # 1.25x vs 4.0 — under ratio
        "tripped": 4.2,          # 4.2x vs 1.0 — re-measure
        "brand_new": 9.9,        # no baseline — nothing to gate against
    }
    baseline = {"fast_ok": 0.2, "slow_ok": 4.0, "tripped": 1.0}
    out = remeasure_contended(run_one, timings, baseline)
    assert calls == ["tripped"]
    assert out == {"tripped": {"first": 4.2, "remeasured": 1.0}}


def test_bench_diff_gates_on_the_remeasured_value(tmp_path):
    base_p = tmp_path / "base.json"
    base_p.write_text(json.dumps({"queries": {"q": 1.0}}))
    cur = {"q": 5.0}

    # without a re-measurement the 5x row fails the gate
    assert diff(str(base_p), cur, 2.0, "rolling") == 1
    # a contention artifact re-measures at baseline -> absorbed
    rm = {"q": {"first": 5.0, "remeasured": 1.05}}
    assert diff(str(base_p), cur, 2.0, "rolling", rm) == 0
    # a real regression reproduces back-to-back -> still fails
    rm_bad = {"q": {"first": 5.0, "remeasured": 4.8}}
    assert diff(str(base_p), cur, 2.0, "rolling", rm_bad) == 1


def _spin(deadline: float) -> None:
    while time.time() < deadline:
        pass


def test_remeasure_absorbs_synthetic_contention(spark):
    from pyspark.sql import functions as F

    n = 40_000_000

    def run_one(_name: str) -> float:
        t0 = time.time()
        spark.range(n).select(
            F.md5(F.col("id").cast("string")).alias("h")
        ).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    run_one("warm")
    t_idle = run_one("q")
    if not 0.3 < t_idle < 10.0:
        pytest.skip(f"workload mis-sized for this machine ({t_idle}s)")

    # Three spinners per thread the cores or the query's tasks can run,
    # so the tasks keep at most about a quarter of the CPU they had idle.
    # Two per core left a local[8] session on 4 cores half of it: the
    # query ran 1.8-1.9x slower, under the 2x gate, and the test skipped
    # itself about half the time.
    threads = max(os.cpu_count() or 8, spark.sparkContext.defaultParallelism)
    procs = [
        multiprocessing.Process(target=_spin, args=(time.time() + 120,))
        for _ in range(3 * threads)
    ]
    for p in procs:
        p.start()
    try:
        time.sleep(0.5)
        t_contended = run_one("q")
    finally:
        for p in procs:
            p.terminate()
        for p in procs:
            p.join()

    if t_contended <= 2.0 * t_idle or t_contended <= 1.0:
        pytest.skip(
            f"spin pool did not contend enough on this machine "
            f"(idle {t_idle}s, contended {t_contended}s)"
        )

    rm = remeasure_contended(
        run_one, {"q": t_contended}, {"q": t_idle}
    )
    assert "q" in rm, "contended row must be re-measured"
    assert rm["q"]["remeasured"] < rm["q"]["first"]
    # the differ sees the idle re-measurement and passes the gate the
    # contended first timing would have failed
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as fh:
        json.dump({"queries": {"q": t_idle}}, fh)
        base_p = fh.name
    try:
        assert diff(base_p, {"q": t_contended}, 2.0, "rolling") == 1
        assert diff(base_p, {"q": t_contended}, 2.0, "rolling", rm) == 0
    finally:
        os.unlink(base_p)
