"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
COMPACT JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {<worst 10 only>}, "sf": ..., "env": {...}} — the full per-query timing map
goes to BENCH_DETAIL.json next to this file (the driver's stdout capture
truncates long lines, which nulled round 1's parsed bench).

Session, warm-up and noop-sink timing come from tools/measure.py, shared
with the profiling tools. Session build and warm-up time are excluded.
``env`` records what the timings ran on (see :func:`environment`), so a
run is read against its own master, width, cores, versions and the
place its Python workers import pyspark from.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_extensions_spark.queries import registry  # noqa: E402
from spark_extensions_spark.session import get_spark  # noqa: E402
from tools.measure import (  # noqa: E402
    time_noop,
    warm_up,
    worker_pyspark,
)

# Re-measure thresholds shared with tools/bench_diff.py's gate so the
# rows the differ would flag are exactly the rows that get a second,
# back-to-back measurement (single source of truth — round-9 review).
from tools.bench_diff import DEFAULT_RATIO as REMEASURE_RATIO  # noqa: E402
from tools.bench_diff import MIN_SECONDS as REMEASURE_MIN_SECONDS  # noqa: E402


def remeasure_contended(
    run_one,
    timings: dict[str, float],
    baseline: dict[str, float],
    ratio: float = REMEASURE_RATIO,
    min_seconds: float = REMEASURE_MIN_SECONDS,
) -> dict[str, dict[str, float]]:
    """Re-run every query whose first timing tripped the regression
    gate vs ``baseline`` and return {name: {first, remeasured}}.

    The second measurement runs back-to-back in the same session after
    the whole suite, so transient machine contention during the first
    pass (the round-8 driver-run artifact: untouched sub-second queries
    recorded 5-11x) is absorbed while a real code regression reproduces.
    bench_diff gates on the re-measured value when present.
    """
    out: dict[str, dict[str, float]] = {}
    for name, t in sorted(timings.items()):
        b = baseline.get(name)
        if b is None or b <= 0:
            continue
        if t > min_seconds and t / b > ratio:
            out[name] = {"first": t, "remeasured": run_one(name)}
    return out


def environment(spark) -> dict:
    """Master, session widths, visible cores, versions and git commit."""
    import subprocess

    import duckdb
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "--short=12", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        sha = None
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "git_sha": sha,
        "worker_pyspark": worker_pyspark(spark),
    }


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("bench")
    warm_up(spark, sf_dir)

    # De-positioned timing order (VERDICT r7 #4): time the suite in a
    # FIXED md5(name) order decoupled from registry order. Rotation
    # reorders the registry head every round; when it moved queries
    # into positions 1-2 their timings absorbed first-in-session
    # per-shape codegen cost (measured 3-4x vs isolated-warm) and the
    # advanced rolling baseline baked those positional costs in,
    # desensitizing the 2x gate. Hash order is stable across rounds,
    # so the queries paying the residual front-of-suite cost are the
    # SAME queries every round and baselines stay comparable.
    import hashlib

    def _bench_order(name: str) -> str:
        return hashlib.md5(name.encode()).hexdigest()

    by_name = {q.name: q for q in registry()}

    def run_one(name: str) -> float:
        return round(time_noop(lambda: by_name[name].spark(spark, sf_dir)), 3)

    timings: dict[str, float] = {}
    for q in sorted(registry(), key=lambda q: _bench_order(q.name)):
        timings[q.name] = run_one(q.name)

    # Self-defending re-measure pass (VERDICT r8 #3): a contended bench
    # machine inflates untouched sub-second queries 5-11x and nothing
    # distinguishes that from a real regression. Re-measure (same
    # session, right after the suite) every query whose first timing
    # exceeded the gate ratio vs the rolling baseline; BENCH_DETAIL
    # records {"first", "remeasured"} per such row and bench_diff gates
    # on the re-measured value. A real regression re-measures slow; a
    # contention artifact re-measures at baseline.
    # trigger baseline = per-query MIN over BOTH gates (rolling AND the
    # frozen epoch): bench_diff gates against both, so a row only the
    # epoch would flag must also get its back-to-back re-measurement
    here = os.path.dirname(os.path.abspath(__file__))
    base_q: dict[str, float] = {}
    for fname in ("BENCH_BASELINE.json", "BENCH_EPOCH.json"):
        try:
            with open(os.path.join(here, fname)) as fh:
                for k, v in json.load(fh)["queries"].items():
                    if k not in base_q or v < base_q[k]:
                        base_q[k] = v
        except (FileNotFoundError, KeyError, json.JSONDecodeError):
            pass
    remeasured = remeasure_contended(run_one, timings, base_q)
    # fold the re-measurement into the canonical per-query map: the
    # documented baseline advance is `cp BENCH_DETAIL.json
    # BENCH_BASELINE.json`, and recording the contended FIRST timing
    # there would loosen every future gate by the contention factor
    # (round-9 review: text_readability would have advanced at 1.87s
    # against a true 0.34s). {first, remeasured} keeps provenance.
    for name, rm in remeasured.items():
        timings[name] = min(timings[name], rm["remeasured"])

    total = round(sum(timings.values()), 3)
    ordered = sorted(timings.values())
    median = round(ordered[len(ordered) // 2], 3) if ordered else 0.0
    worst10 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(
            {
                "sf": sf,
                "n_queries": len(timings),
                "queries": timings,
                # gate on these where present (see remeasure_contended)
                "remeasured": remeasured,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
    print(
        json.dumps(
            {
                "metric": "t2_query_suite_wall",
                "value": total,
                "unit": "sec",
                # compact: worst-10 only; full map in BENCH_DETAIL.json
                "queries": worst10,
                # normalization aids: the suite GROWS between rounds, so
                # total wall is not comparable round-over-round — per-query
                # median and count are.
                "n_queries": len(timings),
                "median_query_sec": median,
                "n_remeasured": len(remeasured),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "env": environment(spark),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
