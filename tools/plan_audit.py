"""Audit the physical plan of every registered query → PLANS.md.

For each queries() entry this builds the DataFrame (no execution beyond
what plan construction needs) and summarizes the plan properties that
govern 100 TB behavior:

- ``shuffles``   — count of Exchange operators (each is a full-cluster
  data movement; the number to minimize).
- ``bcast``      — BroadcastExchange count (dim tables shipped to every
  executor instead of shuffling the fact side).
- ``smj/bhj/bnlj`` — sort-merge / broadcast-hash / nested-loop join mix.
- ``scans``      — file scans with the column count each actually reads
  (pruning evidence: a 2-column projection must not read 16 columns).
- ``pushed``     — whether any filter reached the parquet reader.
- ``wsc``        — WholeStageCodegen span count (JVM-compiled row path).
- ``python``     — Arrow/pandas evaluation operators (the deliberate
  slow-path exceptions: sketches, ANN, multimodal).

Run:  python tools/plan_audit.py [sf_dir] [--write] [--gate]
With --write, rewrites PLANS.md at the repo root; otherwise prints the
table. Streaming and iterative queries execute real jobs to reach a
final plan, so the audit takes ~1 min at sf0.01.

--gate (VERDICT r9 #5) additionally enforces the single-partition-
window bound over the FULL registry (test_plans.py enforces the same
check over the graded window every pytest run; both share one
allowlist constant — spark_extensions_spark/plans/window_gate.py).
Exit code 1 if any query outside the allowlist plans a Window fed by
Exchange SinglePartition, or an allowlisted one loses its post-agg
domain bound.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_extensions_spark.queries import registry  # noqa: E402
from spark_extensions_spark.session import get_spark  # noqa: E402
from spark_extensions_spark.plans import explain_str  # noqa: E402
from spark_extensions_spark.plans.window_gate import (  # noqa: E402
    PRUNE_BOUNDED,
    SINGLE_PARTITION_WINDOW_ALLOWED,
    flag_single_partition_windows,
)

# Queries whose builder runs jobs by design (iterative convergence /
# streaming replay); their "plan" is the final stage's and the audit
# notes them instead of counting operators.
ITERATIVE = {"dedup_clusters"}
STREAMING = {
    "streaming_window_agg",
    "streaming_dedup",
    "streaming_session_agg",
    "streaming_join",
    "streaming_running_agg",
}


def audit_one(df) -> dict[str, object]:
    txt = explain_str(df, "formatted")
    # Formatted explain prints each operator once in the tree and once as
    # a "(N) Name" detail header — count the headers (unique ids).
    ops = re.findall(r"^\(\d+\) ([A-Za-z][A-Za-z ]*)", txt, re.M)
    scans = [
        len([c for c in m.group(1).split(",") if c.strip()])
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", txt)
    ]

    def n(name: str) -> int:
        return sum(1 for o in ops if o.strip() == name)

    return {
        "shuffles": n("Exchange"),
        "bcast": n("BroadcastExchange"),
        "smj": n("SortMergeJoin"),
        "bhj": n("BroadcastHashJoin"),
        "bnlj": n("BroadcastNestedLoopJoin"),
        "scans": scans,
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", txt)),
        "wsc": len(set(re.findall(r"codegen id : (\d+)", txt))),
        "python": sum(
            1
            for o in ops
            if o.strip()
            in (
                "ArrowEvalPython",
                "BatchEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
                "FlatMapGroupsInPandasWithState",
            )
        ),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write = "--write" in sys.argv
    gate = "--gate" in sys.argv
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")

    rows: list[tuple[str, str]] = []
    gate_violations: list[str] = []
    for q in registry():
        if q.name in ITERATIVE | STREAMING:
            kind = "iterative" if q.name in ITERATIVE else "streaming replay"
            rows.append((q.name, f"— multi-job {kind}; audited by its own tests"))
            continue
        try:
            df = q.spark(spark, sf_dir)
            if gate:
                plan = df._jdf.queryExecution().executedPlan().toString()
                has_spw, post_agg = flag_single_partition_windows(plan)
                if has_spw:
                    if q.name not in SINGLE_PARTITION_WINDOW_ALLOWED:
                        gate_violations.append(
                            f"{q.name}: single-partition Window outside "
                            f"allowlist"
                        )
                    elif not post_agg and q.name not in PRUNE_BOUNDED:
                        gate_violations.append(
                            f"{q.name}: allowlisted single-partition "
                            f"Window lost its post-agg domain bound"
                        )
            a = audit_one(df)
            scans = "+".join(str(s) for s in a["scans"]) or "0"
            joins = []
            for k in ("smj", "bhj", "bnlj"):
                if a[k]:
                    joins.append(f"{a[k]}{k}")
            rows.append(
                (
                    q.name,
                    f"shuffles={a['shuffles']} bcast={a['bcast']} "
                    f"joins={','.join(joins) or '-'} scan_cols={scans} "
                    f"pushed={'y' if a['pushed'] else 'n'} wsc={a['wsc']} "
                    f"python={a['python']}",
                )
            )
        except Exception as ex:  # pragma: no cover - audit robustness
            rows.append((q.name, f"ERROR {type(ex).__name__}: {ex}"))

    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        "Generated by `python tools/plan_audit.py --write` (sf0.01 plans;",
        "plan *shapes* are scale-invariant — AQE may re-pick join",
        "strategies at real scale, in the broadcast direction when the",
        "post-filter dim side shrinks).",
        "",
        "Legend: `shuffles` Exchange count · `bcast` BroadcastExchange ·",
        "`joins` sort-merge/broadcast-hash/nested-loop mix · `scan_cols`",
        "columns read per file scan (pruning evidence) · `pushed` filters",
        "reached the reader · `wsc` WholeStageCodegen spans · `python`",
        "Arrow/pandas operators (deliberate slow-path exceptions).",
        "`wsc=0` under an AdaptiveSparkPlan just means codegen ids are",
        "assigned at runtime (pre-execution AQE plan) — not a missing",
        "codegen path.",
        "",
        "Full unrolled plans of the iterative queries come from",
        "`python tools/plan_unrolled.py <query>... [--out DIR]`; the",
        "round-10/11 dumps (`plans/r10`, `plans/r11`) were last committed",
        "in bd659d5.",
        "",
        "| query | plan summary |",
        "|---|---|",
    ]
    lines += [f"| `{n}` | {s} |" for n, s in rows]
    out = "\n".join(lines) + "\n"
    if write:
        with open(
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"),
            "w",
        ) as f:
            f.write(out)
        print(f"wrote PLANS.md ({len(rows)} queries)")
    else:
        print(out)
    if gate:
        if gate_violations:
            print("GATE FAIL:")
            for v in gate_violations:
                print(f"  {v}")
            return 1
        print(f"GATE PASS: {len(rows)} plans, 0 violations")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
