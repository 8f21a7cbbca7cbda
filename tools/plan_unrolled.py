"""Non-vacuous plan evidence for ITERATIVE operators (VERDICT r10 #4/#7).

The per-round ``localCheckpoint`` calls that truncate lineage also make
``.explain`` on the final DataFrame vacuous (a 2-line checkpoint-scan
stub). This tool captures the plan with lineage truncation disabled —
``DataFrame.localCheckpoint`` patched to identity — so the FULL
unrolled multi-round plan is visible: every per-round Exchange (or its
absence) can be counted and reviewed.

Caveats: the patched run still executes the query function's eager
actions (collects, counts), just without materialization barriers, so
use a tiny scale factor; plans captured this way show MORE than the
executed plan (the real run cuts at each checkpoint) but exactly the
per-round operator shape optimization claims are about.

Usage: python tools/plan_unrolled.py <query> [<query> ...]
       [--sf-dir SF_DIR] [--out DIR]
Prints an Exchange/BroadcastHashJoin/SortMergeJoin summary line per
query; with --out also writes <DIR>/<query>_unrolled.txt.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=None)
    ap.add_argument("--suffix", default="_unrolled")
    args = ap.parse_args()

    # Spark 4 dispatches methods on the CLASSIC implementation class,
    # not the pyspark.sql.DataFrame API base — patch the former.
    from pyspark.sql.classic.dataframe import DataFrame

    from spark_extensions_spark.queries import registry
    from spark_extensions_spark.session import get_spark

    spark = get_spark("plan_unrolled")
    reg = {q.name: q for q in registry()}
    orig = DataFrame.localCheckpoint

    for name in args.queries:
        q = reg[name]
        DataFrame.localCheckpoint = lambda self, eager=True: self
        try:
            df = q.spark(spark, args.sf_dir)
        finally:
            DataFrame.localCheckpoint = orig
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        n_ex = plan.count("Exchange")
        n_bhj = plan.count("BroadcastHashJoin")
        n_smj = plan.count("SortMergeJoin")
        print(
            f"{name}: {n_ex} Exchange, {n_bhj} BroadcastHashJoin, "
            f"{n_smj} SortMergeJoin, {len(plan)} chars"
        )
        if args.out:
            os.makedirs(args.out, exist_ok=True)
            path = os.path.join(args.out, f"{name}{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"  -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
