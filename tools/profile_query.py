"""Per-job wall-clock decomposition of registered queries.

Optimization work needs to know WHERE a query's seconds go before
touching it (guide §1). After bench.py's warm-up, in one session at the
bench's plan width, each named query runs noop-sinked once cold
(JVM/codegen warmup charged to run 1) and ``--repeat`` more times warm.
A header line names the master, the fixture dir and where the Python
workers import pyspark from. For the last run it prints the wall, the job-time sum and the driver
gap (wall outside every job: Python, commits, collects), then every job
that took at least ``--min`` seconds — duration, task and stage count,
shuffle read/write, spill and description. Iterative/streaming queries
show their per-round/per-batch job structure directly.

A job whose duration is large while its task count is far below the
core count is leaving cores idle — either a single-row-group scan doing
heavy row-local work on one task (ensure_parallelism territory) or an
AQE bytes-coalesced exchange feeding a compute-heavy stage (guide §2:
AQE sizes partitions by bytes and cannot see downstream row expansion).

Run:  SPARK_GRAFT_SF_DIR=<fixture dir> \\
          python tools/profile_query.py NAME... [--top N] [--repeat N] [--min S]

``--top N`` adds the N slowest queries of BENCH_DETAIL.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import MIB  # noqa: E402
from spark_extensions_spark.queries import registry  # noqa: E402
from spark_extensions_spark.session import get_spark  # noqa: E402
from tools.measure import (  # noqa: E402
    measure,
    warm_up,
    worker_pyspark,
)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="*", metavar="NAME")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--min", type=float, default=0.0)
    args = ap.parse_args()
    names = args.names
    if args.top:
        with open(os.path.join(ROOT, "BENCH_DETAIL.json")) as fh:
            detail = json.load(fh)["queries"]
        names += sorted(detail, key=lambda k: -detail[k])[: args.top]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    by_name = {q.name: q for q in registry()}
    spark = get_spark("profile")
    warm_up(spark, sf_dir)
    print(
        f"master {spark.sparkContext.master}, sf_dir {sf_dir}, "
        f"worker_pyspark {worker_pyspark(spark)}",
        flush=True,
    )
    for name in names:
        try:
            runs = [
                measure(spark, lambda: by_name[name].spark(spark, sf_dir))
                for _ in range(1 + args.repeat)
            ]
        except Exception as exc:  # noqa: BLE001 — keep sweeping
            print(f"{name}: ERROR {type(exc).__name__}: {exc}", flush=True)
            continue
        run = runs[-1]
        walls = ", ".join(f"{r.wall:.3f}" for r in runs)
        print(f"{name}: walls [{walls}] s (first = cold)")
        for j in run.jobs:
            if j["seconds"] < args.min:
                continue
            print(
                f"  {j['seconds']:7.3f}s  tasks={j['tasks']:4d} "
                f"stages={j['stages']:2d}  missing={j['missing']}  shuffle r/w "
                f"{j['shuffle_read'] / MIB:.1f}/{j['shuffle_write'] / MIB:.1f}"
                f" MiB  spill {j['disk_spill'] / MIB:.1f} MiB  "
                f"{' '.join(j['desc'].split())[:80]}"
            )
        print(
            f"  job-time sum: {run.job_s:.3f}s over {len(run.jobs)} jobs "
            f"(gap = driver/python time: {run.gap_s:.3f}s)",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
