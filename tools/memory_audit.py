"""Memory-pressure audit of the heavy-state families (VERDICT r9 #4).

Every prior audit measured wall-time under a 128 GiB heap; at 100× the
binding constraint is MEMORY. This tool re-runs the largest-state
families at sf1 inside a session capped at ``$SPARK_GRAFT_DRIVER_MEM``
(pass 4g; local-mode driver heap holds all executor threads) with the
session's status store (tools/measure.py) read back, and records
per-family:

- wall seconds,
- shuffle memory/disk spill bytes, summed over the query's stages,
- JVM peak heap across executors (``peakMemoryMetrics.JVMHeapMemory``).

Completion without OOM is the gate; the spill column is the evidence
that the operators DEGRADE to disk instead of dying when state
exceeds heap — exactly what a 100 TB run needs from them.

Run:  SPARK_GRAFT_DRIVER_MEM=4g SPARK_GRAFT_CPUS=8 \
          python tools/memory_audit.py /tmp/sf1 [out.json]

(Fewer CPUs than the bench default on purpose: concurrent task count
multiplies live execution memory; 8 threads under 4g approximates a
realistically-packed 0.5 g/core executor.)

Each query runs in its OWN subprocess/JVM: a java.lang.OutOfMemoryError
kills the whole local-mode JVM (SparkUncaughtExceptionHandler exits),
so in-process isolation cannot survive it — the first audit run proved
this by dying inside graph_communities. The parent records the OOM as
that query's row and continues.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_extensions_spark.queries import registry  # noqa: E402
from spark_extensions_spark.session import default_cpus, get_spark  # noqa: E402
from tools.measure import JobStore, measure  # noqa: E402

# the largest-state families: window frames, collect_list/listagg,
# graph fixed-rounds, ANN codebooks/kmeans, pack/chunk, CDC fold,
# plus the two output-heaviest joins and the banded dedup shuffle
AUDIT_QUERIES = [
    "window_range_frame",
    "window_sliding_distinct",
    "agg_collect_list",
    "agg_listagg",
    "graph_pagerank",
    "graph_communities",
    "embedding_kmeans",
    "ann_ivfpq",
    "pipeline_tokenize_pack",
    "text_pack_sequences",
    "kafka_cdc_stream_apply",
    "join_interval",
    "dedup_minhash_lsh",
    "tpch_q21",
]


def run_one(name: str, sf_dir: str) -> int:
    """Child-process entry: run one query in a fresh capped JVM and
    print its metrics row as the single MEMROW: line."""
    spark = get_spark(f"memory-audit-{name}")
    q = {q.name: q for q in registry()}[name]
    run = measure(spark, lambda: q.spark(spark, sf_dir))
    print(
        "MEMROW:"
        + json.dumps(
            {
                "query": name,
                "wall_s": round(run.wall, 2),
                "memory_spill_mb": round(run.total("memory_spill") / 1e6, 1),
                "disk_spill_mb": round(run.total("disk_spill") / 1e6, 1),
                "jvm_peak_heap_mb": round(
                    JobStore(spark).peak_heap_bytes() / 1e6, 1
                ),
                "err": None,
            }
        ),
        flush=True,
    )
    return 0


def main() -> int:
    import subprocess

    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        return run_one(sys.argv[2], sys.argv[3])

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    results = []
    for name in AUDIT_QUERIES:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--one", name, sf_dir],
            capture_output=True,
            text=True,
            timeout=1800,
        )
        row = None
        for ln in p.stdout.splitlines():
            if ln.startswith("MEMROW:"):
                row = json.loads(ln[len("MEMROW:"):])
        if row is None:
            tail = (p.stdout + p.stderr)[-4000:]
            oom = "OutOfMemoryError" in tail
            row = {
                "query": name,
                "wall_s": None,
                "memory_spill_mb": None,
                "disk_spill_mb": None,
                "jvm_peak_heap_mb": None,
                "err": "java.lang.OutOfMemoryError" if oom else (
                    f"exit {p.returncode}: {tail[-200:]}"
                ),
            }
        results.append(row)
        print(json.dumps(row), flush=True)

    summary = {
        "sf_dir": sf_dir,
        "driver_memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        "cpus": default_cpus(),
        "n_ok": sum(1 for r in results if r["err"] is None),
        "n_err": sum(1 for r in results if r["err"] is not None),
        "rows": results,
    }
    if out_path:
        with open(out_path, "w") as f:
            json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "rows"}))
    return 0 if summary["n_err"] == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
