"""Full-registry bench at an arbitrary fixture dir — the persisted
form of the per-round sf1 scale audit (VERDICT r6 "What's wrong" #3
asked for this to be a standing wrap gate; the previous rounds ran an
ad-hoc chunked loop that never landed in tools/).

Runs every registry query against ``sf_dir`` with bench.py's warmup and
noop-sink timing (tools/measure.py), restarting the session every
``chunk`` queries (long single sessions accumulate JVM/codegen/state
overhead that poisons tail timings at 10x data), and writes the full
timing map as JSON.

Usage:
  python tools/bench_full.py [sf_dir] [--out BENCH_sf1_full.json]
      [--chunk 60]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_extensions_spark.queries import registry  # noqa: E402
from spark_extensions_spark.session import get_spark  # noqa: E402
from tools.measure import time_noop, warm_up  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and not args[0].startswith("--") else "/tmp/sf1"
    out = "BENCH_sf1_full.json"
    chunk = 60
    if "--out" in args:
        out = args[args.index("--out") + 1]
    if "--chunk" in args:
        chunk = int(args[args.index("--chunk") + 1])

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    qs = registry()
    for start in range(0, len(qs), chunk):
        batch = qs[start : start + chunk]
        spark = get_spark(f"bench_full_{start}")
        warm_up(spark, sf_dir)
        for q in batch:
            try:
                timings[q.name] = round(
                    time_noop(lambda: q.spark(spark, sf_dir)), 3
                )
            except Exception as e:  # noqa: BLE001 — record, keep going
                errors[q.name] = f"{type(e).__name__}: {e}"[:300]
            print(
                f"{q.name}: {timings.get(q.name, 'ERROR')}",
                flush=True,
            )
        spark.stop()

    payload = {
        "sf": sf_dir,
        "n_queries": len(timings),
        "queries": timings,
        "errors": errors,
    }
    with open(out, "w") as fh:
        json.dump(payload, fh, indent=1)
    total = round(sum(timings.values()), 1)
    print(
        json.dumps(
            {
                "metric": "bench_full_total_sec",
                "value": total,
                "n_queries": len(timings),
                "n_errors": len(errors),
                "out": out,
            }
        )
    )
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
