"""Operator-layer differential fuzzer (VERDICT r7 #8).

The relational fuzzer (``fuzz_oracle.py``) probes random SQL trees; the
operators with hand-rolled exact-integer math (the stats/evals battery)
were verified only at fixture + hand-picked twin points — their
zero-discordant / zero-expected-disagreement edges were found by manual
review, which a fuzzer would have caught first. This tool generates
seed-pinned randomized SMALL inputs per operator — including
adversarial profiles (empty input, all-tied, single label, NULLs,
negative values) — runs the Spark operator and its DuckDB
``*_oracle_sql`` twin on the SAME typed rows (shipped to DuckDB as an
Arrow table so integer/NULL fidelity is exact), and compares row count,
columns, and the order-insensitive value hash.

Reproduce one case standalone:
``python tools/fuzz_operators.py [sf_ignored] --op wilcoxon --case 7``

Forty-seven operators x 30 pinned cases = 1410 (the pytest gate).
"""

from __future__ import annotations

import random
import sys
from dataclasses import dataclass
from typing import Callable

import pyarrow as pa

_ARROW = {
    "bigint": pa.int64(),
    "int": pa.int32(),
    "string": pa.string(),
    "boolean": pa.bool_(),
    "double": pa.float64(),
}


@dataclass
class OpCase:
    name: str
    schema: str  # spark DDL, e.g. "d bigint"
    gen: Callable[[random.Random], list[tuple]]
    spark_fn: Callable  # (DataFrame) -> DataFrame
    oracle: Callable[[str, list], str]  # (src_sql, rows) -> oracle SQL


def _profile(rng: random.Random) -> str:
    return rng.choice(
        ["normal", "normal", "normal", "tiny", "ties", "degenerate",
         "nulls", "empty"]
    )


def _maybe_null(rng: random.Random, v, p: float):
    return None if rng.random() < p else v


# ---- generators ------------------------------------------------------

def gen_diffs(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    if prof == "degenerate":
        # all zero diffs — the n_pairs=0 branch
        return [(0,) for _ in range(n)]
    lo, hi = (-2, 2) if prof == "ties" else (-9, 9)
    p_null = 0.3 if prof == "nulls" else 0.05
    return [
        (_maybe_null(rng, rng.randint(lo, hi), p_null),) for _ in range(n)
    ]


def gen_ratings(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    n_units = 2 if prof == "ties" else rng.randint(2, 8)
    n_labels = 1 if prof == "degenerate" else rng.randint(2, 4)
    return [
        (rng.randrange(n_units), rng.randrange(n_labels)) for _ in range(n)
    ]


def gen_two_sample(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(2, 8) if prof == "tiny" else rng.randint(6, 40)
    lo, hi = (0, 2) if prof in ("ties", "degenerate") else (-9, 9)
    groups = ["a", "b"] if prof != "nulls" else ["a", "b", "c", None]
    rows = []
    for _ in range(n):
        rows.append(
            (
                _maybe_null(rng, rng.randint(lo, hi), 0.05),
                rng.choice(groups),
            )
        )
    return rows


def gen_xy(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    lo, hi = (0, 2) if prof in ("ties", "degenerate") else (-9, 9)
    p_null = 0.3 if prof == "nulls" else 0.0
    return [
        (
            _maybe_null(rng, rng.randint(lo, hi), p_null),
            _maybe_null(rng, rng.randint(lo, hi), p_null),
        )
        for _ in range(n)
    ]


def gen_raters(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    n_labels = 1 if prof == "degenerate" else rng.randint(2, 4)
    rows = []
    for _ in range(n):
        a = rng.randrange(n_labels)
        # correlate raters sometimes so kappa isn't always ~0
        b = a if rng.random() < 0.5 else rng.randrange(n_labels)
        rows.append((str(a), str(b)))
    return rows


def gen_values(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    hi = 1 if prof == "degenerate" else (3 if prof == "ties" else 50)
    p_null = 0.3 if prof == "nulls" else 0.0
    return [
        (_maybe_null(rng, rng.randint(0, hi), p_null),) for _ in range(n)
    ]


def gen_scored(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(2, 8) if prof == "tiny" else rng.randint(6, 40)
    hi = 2 if prof == "ties" else 9
    rows = []
    for _ in range(n):
        s = rng.randint(0, hi)
        if prof == "degenerate":
            y = True  # single class: n_neg = 0 division edge
        else:
            y = rng.random() < 0.5
        rows.append((s, y))
    return rows


# ---- operator registry ----------------------------------------------

def _ops() -> list[OpCase]:
    from spark_extensions_spark.operators.evals import (
        auc_exact,
        auc_exact_oracle_sql,
        krippendorff_alpha_nominal,
        krippendorff_oracle_sql,
    )
    from spark_extensions_spark.operators.stats import (
        cohen_kappa,
        ks_oracle_sql,
        ks_statistic,
        cohen_kappa_oracle_sql,
        gini_exact,
        gini_oracle_sql,
        kendall_tau,
        kendall_tau_oracle_sql,
        mannwhitney_oracle_sql,
        mannwhitney_u,
        spearman_oracle_sql,
        spearman_rho,
        wilcoxon_oracle_sql,
        wilcoxon_signed_rank,
    )

    return [
        OpCase(
            "wilcoxon",
            "d bigint",
            gen_diffs,
            lambda df: wilcoxon_signed_rank(df, "d"),
            lambda src, rows: wilcoxon_oracle_sql(src, "d"),
        ),
        OpCase(
            "krippendorff",
            "u int, c int",
            gen_ratings,
            lambda df: krippendorff_alpha_nominal(df, "u", "c"),
            # scale_l: the Spark side derives L = lcm{m_u - 1} from
            # the observed data; the harness recomputes the SAME L
            # from the generated rows (the caller knows the design)
            # so every output column is hash-comparable.
            _krippendorff_oracle_with_l,
        ),
        OpCase(
            "mannwhitney",
            "v bigint, g string",
            gen_two_sample,
            lambda df: mannwhitney_u(
                df, "v", "g", "a", "b", allow_unbounded_domain=True
            ),
            # this builder takes a TABLE name (it writes FROM {table})
            lambda src, rows: mannwhitney_oracle_sql(
                f"({src}) mw_src", "v", "g", "a", "b"
            ),
        ),
        OpCase(
            "ks",
            "v bigint, g string",
            gen_two_sample,
            lambda df: ks_statistic(
                df, "v", "g", "a", "b", allow_unbounded_domain=True
            ),
            lambda src, rows: ks_oracle_sql(
                f"({src}) ks_src", "v", "g", "a", "b"
            ),
        ),
        OpCase(
            "kendall",
            "x bigint, y bigint",
            gen_xy,
            lambda df: kendall_tau(df, "x", "y"),
            lambda src, rows: kendall_tau_oracle_sql(src, "x", "y"),
        ),
        OpCase(
            "spearman",
            "x bigint, y bigint",
            gen_xy,
            lambda df: spearman_rho(df, "x", "y"),
            lambda src, rows: spearman_oracle_sql(src, "x", "y"),
        ),
        OpCase(
            "cohen_kappa",
            "ra string, rb string",
            gen_raters,
            lambda df: cohen_kappa(df, "ra", "rb"),
            lambda src, rows: cohen_kappa_oracle_sql(src, "ra", "rb"),
        ),
        OpCase(
            "gini",
            "v bigint",
            gen_values,
            lambda df: gini_exact(df, "v"),
            lambda src, rows: gini_oracle_sql(src, "v"),
        ),
        OpCase(
            "auc",
            "s bigint, y boolean",
            gen_scored,
            lambda df: auc_exact(df, "s", "y"),
            lambda src, rows: auc_exact_oracle_sql(src, "s", "y"),
        ),
    ]


def _krippendorff_oracle_with_l(src: str, rows: list) -> str:
    """Recompute L = lcm{m_u - 1 : m_u >= 2} from the generated rows —
    the same derivation the Spark operator performs over the observed
    per-unit rating counts — so do_scaled/scale_l hash-match."""
    import math
    from collections import Counter

    from spark_extensions_spark.operators.evals import (
        krippendorff_oracle_sql,
    )

    m = Counter(r[0] for r in rows)
    ls = [c - 1 for c in m.values() if c >= 2]
    scale_l = math.lcm(*ls) if ls else 1
    return krippendorff_oracle_sql(src, "u", "c", scale_l=scale_l)


def operator_cases() -> dict[str, OpCase]:
    return {
        op.name: op
        for op in _ops() + _second_wave_ops() + _third_wave_ops()
        + _fourth_wave_ops() + _fifth_wave_ops() + _sixth_wave_ops()
        + _seventh_wave_ops()
    }


def run_case(
    spark, con, op: OpCase, case_idx: int, seed: str = "opfuzz-r8"
) -> list[str]:
    """Run one pinned case; returns compare problems (empty = match)."""
    from spark_extensions_spark.testing import compare_result_sets

    rng = random.Random(f"{seed}:{op.name}:{case_idx}")
    rows = op.gen(rng)
    cols = [c.strip().split()[0] for c in op.schema.split(",")]
    types = [c.strip().split()[1] for c in op.schema.split(",")]
    arrays = [
        pa.array([r[i] for r in rows], type=_ARROW[t])
        for i, t in enumerate(types)
    ]
    tbl = pa.table(dict(zip(cols, arrays)))
    con.register("fuzz_src", tbl)
    oracle = op.oracle("SELECT * FROM fuzz_src", rows)
    rel = con.sql(oracle)
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    sdf = op.spark_fn(spark.createDataFrame(rows, op.schema))
    srows = [tuple(r) for r in sdf.collect()]
    problems = compare_result_sets(sdf.columns, srows, dcols, drows)
    con.unregister("fuzz_src")
    return problems


def run_fuzz(
    spark, n_per_op: int = 30, seed: str = "opfuzz-r8",
    only: str | None = None,
) -> tuple[int, list[tuple[str, int, str]]]:
    import duckdb

    con = duckdb.connect()
    n_pass, failures = 0, []
    for op in operator_cases().values():
        if only and op.name != only:
            continue
        for i in range(n_per_op):
            try:
                problems = run_case(spark, con, op, i, seed)
            except Exception as e:  # divergence includes hard errors
                problems = [f"error: {type(e).__name__}: {str(e)[:200]}"]
            if problems:
                failures.append((op.name, i, "; ".join(problems)))
            else:
                n_pass += 1
    return n_pass, failures


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--op", default=None)
    ap.add_argument("--case", type=int, default=None)
    ap.add_argument("--n", type=int, default=30)
    ap.add_argument("--seed", default="opfuzz-r8")
    args = ap.parse_args()

    sys.path.insert(0, __file__.rsplit("/", 2)[0])
    from spark_extensions_spark.session import get_spark

    spark = get_spark("fuzz_operators")
    import duckdb

    con = duckdb.connect()
    ops = operator_cases()
    if args.op and args.case is not None:
        problems = run_case(spark, con, ops[args.op], args.case, args.seed)
        print(problems or "MATCH")
        return 1 if problems else 0
    n_pass, failures = run_fuzz(spark, args.n, args.seed, only=args.op)
    for op_name, i, p in failures:
        print(f"DIVERGE {op_name}#{i}: {p}")
    print(f"{n_pass} pass, {len(failures)} diverge")
    return 1 if failures else 0




# ---- round-8 second-wave generators ---------------------------------

_FZ_CATS_X = ["a", "b", "c"]
_FZ_CATS_Y = ["u", "v"]


def gen_cats(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    xs = _FZ_CATS_X[:1] if prof == "degenerate" else _FZ_CATS_X
    extra = ["zz", None] if prof == "nulls" else []
    return [
        (rng.choice(xs + extra), rng.choice(_FZ_CATS_Y + extra))
        for _ in range(n)
    ]


def gen_grouped(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    groups = ["a"] if prof == "degenerate" else ["a", "b", "c", "d"]
    lo, hi = (2, 2) if prof == "ties" else (-9, 9)
    return [
        (rng.choice(groups), rng.randint(lo, hi)) for _ in range(n)
    ]


def gen_bucket_flag(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    flags = [True] if prof == "degenerate" else [True, False]
    return [
        (str(rng.randint(0, 4)), rng.choice(flags)) for _ in range(n)
    ]


def _second_wave_ops() -> list[OpCase]:
    from pyspark.sql import functions as _F

    from spark_extensions_spark.operators.stats import (
        anova_f,
        anova_oracle_sql,
        chi2_oracle_sql,
        chi_squared,
        cramers_v,
        cramers_v_oracle_sql,
        group_moments,
        lorenz_oracle_sql,
        lorenz_points,
        moments_oracle_sql,
        psi_drift,
        psi_oracle_sql,
        tvd_drift,
        tvd_oracle_sql,
        welch_oracle_sql,
        welch_ttest,
    )

    return [
        OpCase(
            "chi2",
            "x string, y string",
            gen_cats,
            lambda df: chi_squared(df, "x", _FZ_CATS_X, "y", _FZ_CATS_Y),
            lambda src, rows: chi2_oracle_sql(
                f"({src}) c2_src", "x", _FZ_CATS_X, "y", _FZ_CATS_Y
            ),
        ),
        OpCase(
            "cramers_v",
            "x string, y string",
            gen_cats,
            lambda df: cramers_v(df, "x", _FZ_CATS_X, "y", _FZ_CATS_Y),
            lambda src, rows: cramers_v_oracle_sql(
                f"({src}) cv_src", "x", _FZ_CATS_X, "y", _FZ_CATS_Y
            ),
        ),
        OpCase(
            "welch",
            "v bigint, g string",
            gen_two_sample,
            lambda df: welch_ttest(df, "v", "g", "a", "b", scale=1),
            lambda src, rows: welch_oracle_sql(
                f"({src}) wt_src", "v", "g", "a", "b", scale=1
            ),
        ),
        OpCase(
            "anova",
            "g string, v bigint",
            gen_grouped,
            lambda df: anova_f(df, "v", "g", scale=1),
            lambda src, rows: anova_oracle_sql(
                f"({src}) av_src", "v", "g", scale=1
            ),
        ),
        OpCase(
            "moments",
            "g string, v bigint",
            gen_grouped,
            lambda df: group_moments(df, "g", "v", scale=1),
            lambda src, rows: moments_oracle_sql(
                f"({src}) mo_src", "g", "v", scale=1
            ),
        ),
        OpCase(
            "tvd",
            "b string, f boolean",
            gen_bucket_flag,
            lambda df: tvd_drift(df, "b", _F.col("f")),
            lambda src, rows: tvd_oracle_sql(f"({src}) tv_src", "b", "f"),
        ),
        OpCase(
            "psi",
            "b string, f boolean",
            gen_bucket_flag,
            lambda df: psi_drift(df, "b", _F.col("f")),
            lambda src, rows: psi_oracle_sql(f"({src}) ps_src", "b", "f"),
        ),
        OpCase(
            "lorenz",
            "v bigint",
            gen_values,
            lambda df: lorenz_points(df, "v", n_bands=4),
            lambda src, rows: lorenz_oracle_sql(src, "v", n_bands=4),
        ),
    ]




# ---- round-8 third wave: evals + unicode text -----------------------

_FZ_WORDS = [
    "the", "cat", "sat", "on", "mat", "dog", "ran", "fast",
    # unicode probes: NFC/NFD seams, CJK, emoji, accents — the
    # tokenizer regex and md5 hashing must agree across engines
    "café", "café", "日本語", "\U0001f600",
    "straße", "ñandú", "123", "a1b2",
]


def gen_text_pairs(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 4) if prof == "tiny" else rng.randint(3, 15)
    rows = []
    for i in range(n):
        if prof == "degenerate":
            ref, hyp = "", ""
        else:
            nw = rng.randint(0, 8)
            ref = " ".join(rng.choice(_FZ_WORDS) for _ in range(nw))
            hyp = (
                ref
                if rng.random() < 0.3
                else " ".join(
                    rng.choice(_FZ_WORDS)
                    for _ in range(rng.randint(0, 8))
                )
            )
        if prof == "nulls" and rng.random() < 0.3:
            hyp = None
        rows.append((i, ref, hyp))
    return rows


def gen_scored_conf(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    rows = []
    for _ in range(n):
        if prof == "degenerate":
            c = 1000  # all max-confidence: the top-bin clamp edge
        elif prof == "ties":
            c = rng.choice([0, 500, 1000])
        else:
            c = rng.randint(0, 1000)
        rows.append((c, rng.random() < 0.5))
    return rows


def gen_samples(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(2, 8) if prof == "tiny" else rng.randint(6, 40)
    n_problems = rng.randint(1, 5)
    rows = []
    for _ in range(n):
        p = rng.randrange(n_problems)
        passed = (
            False if prof == "degenerate" else rng.random() < 0.3
        )
        rows.append((p, passed))
    return rows


def gen_id_values(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 30)
    return [(i, rng.randint(-9, 9)) for i in range(n)]


def _third_wave_ops() -> list[OpCase]:
    from spark_extensions_spark.operators.evals import (
        auc_pr,
        auc_pr_oracle_sql,
        bleu_counts,
        bleu_oracle_sql,
        calibration_ece,
        calibration_ece_oracle_sql,
        pass_at_k,
        pass_at_k_oracle_sql,
        poisson_bootstrap_oracle_sql,
        poisson_bootstrap_replicates,
        rouge_n,
        rouge_n_oracle_sql,
    )

    return [
        OpCase(
            "auc_pr",
            "s bigint, y boolean",
            gen_scored,
            lambda df: auc_pr(df, "s", "y"),
            lambda src, rows: auc_pr_oracle_sql(src, "s", "y"),
        ),
        OpCase(
            "rouge",
            "id int, ref string, hyp string",
            gen_text_pairs,
            lambda df: rouge_n(df, "id", "ref", "hyp", n=2),
            lambda src, rows: rouge_n_oracle_sql(
                src, "id", "ref", "hyp", n=2
            ),
        ),
        OpCase(
            "bleu",
            "id int, ref string, hyp string",
            gen_text_pairs,
            lambda df: bleu_counts(df, "id", "ref", "hyp", max_n=2),
            lambda src, rows: bleu_oracle_sql(
                src, "id", "ref", "hyp", max_n=2
            ),
        ),
        OpCase(
            "ece",
            "c bigint, y boolean",
            gen_scored_conf,
            lambda df: calibration_ece(df, "c", "y", bins=10),
            # builder wraps FROM ({scored_sql}) itself
            lambda src, rows: calibration_ece_oracle_sql(
                src, "c", "y", bins=10
            ),
        ),
        OpCase(
            "pass_at_k",
            "p int, ok boolean",
            gen_samples,
            lambda df: pass_at_k(df, "p", "ok", k=3),
            # builder wraps the source in a WITH samples AS (...) CTE
            lambda src, rows: pass_at_k_oracle_sql(
                src, "p", "ok", k=3
            ),
        ),
        OpCase(
            "poisson_bootstrap",
            "id int, v bigint",
            gen_id_values,
            lambda df: poisson_bootstrap_replicates(
                df, "id", "v", n_replicates=8, salt="fz"
            ),
            lambda src, rows: poisson_bootstrap_oracle_sql(
                src, "id", "v", n_replicates=8, salt="fz"
            ),
        ),
    ]




# ---- round-8 fourth wave: dedup/text/quality/classify ----------------

def gen_docs(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 4) if prof == "tiny" else rng.randint(3, 12)
    rows = []
    base = [rng.choice(_FZ_WORDS) for _ in range(10)]
    for i in range(n):
        if prof == "degenerate":
            text = ""
        elif prof == "ties":
            # near-dups: shared base with small edits — exercises the
            # candidate + verify path, not just empty intersections
            text = " ".join(
                base[: rng.randint(6, 10)]
                + [rng.choice(_FZ_WORDS) for _ in range(rng.randint(0, 3))]
            )
        else:
            text = " ".join(
                rng.choice(_FZ_WORDS)
                for _ in range(rng.randint(0, 14))
            )
        if prof == "nulls" and rng.random() < 0.3:
            text = None
        rows.append((i, text))
    return rows


def gen_amounts(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    rows = []
    for _ in range(n):
        if prof == "degenerate":
            v = 0.5  # below-1 exclusion edge
        else:
            v = rng.choice(
                [rng.uniform(0, 1), rng.uniform(1, 9), rng.uniform(10, 999),
                 float(rng.randint(1, 10**6))]
            )
        rows.append((_maybe_null(rng, v, 0.1 if prof == "nulls" else 0.0),))
    return rows


def gen_keys(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    hot = prof in ("ties", "degenerate")
    return [
        (
            "hot"
            if hot and rng.random() < 0.8
            else str(rng.randint(0, 9)),
        )
        for _ in range(n)
    ]


def gen_features(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    f1s = ["a"] if prof == "degenerate" else ["a", "b", "c"]
    return [
        (
            rng.choice(f1s),
            str(rng.randint(0, 3)),
            rng.random() < 0.5,
        )
        for _ in range(n)
    ]


def _fourth_wave_ops() -> list[OpCase]:
    from spark_extensions_spark.operators.classify import (
        gini_split,
        gini_split_oracle_sql,
    )
    from spark_extensions_spark.operators.dedup import (
        ngram_containment_oracle_sql,
        ngram_containment_pairs,
        winnow_fingerprints,
        winnow_fingerprints_oracle_sql,
    )
    from spark_extensions_spark.operators.quality import (
        benford_audit,
        benford_oracle_sql,
        diagnose_skew,
        skew_oracle_sql,
    )

    return [
        OpCase(
            "winnow",
            "id int, text string",
            gen_docs,
            lambda df: winnow_fingerprints(df, "id", "text", k=2, w=2),
            lambda src, rows: winnow_fingerprints_oracle_sql(
                src, "id", "text", k=2, w=2
            ),
        ),
        OpCase(
            "containment",
            "id int, text string",
            gen_docs,
            lambda df: ngram_containment_pairs(
                df, "id", "text", n=2, max_df=20,
                min_shared=1, min_cont_e6=0,
            ),
            lambda src, rows: ngram_containment_oracle_sql(
                src, "id", "text", n=2, max_df=20,
                min_shared=1, min_cont_e6=0,
            ),
        ),
        OpCase(
            "benford",
            "v double",
            gen_amounts,
            lambda df: benford_audit(df, "v"),
            lambda src, rows: benford_oracle_sql(src, "v"),
        ),
        OpCase(
            "skew",
            "k string",
            gen_keys,
            lambda df: diagnose_skew(df, "k", top_k=3),
            lambda src, rows: skew_oracle_sql(
                f"({src}) sk_src", "k", top_k=3
            ),
        ),
        OpCase(
            "gini_split",
            "f1 string, f2 string, y boolean",
            gen_features,
            lambda df: gini_split(df, ["f1", "f2"], "y"),
            lambda src, rows: gini_split_oracle_sql(
                src, ["f1", "f2"], "y"
            ),
        ),
    ]




# ---- round-8 fifth wave: sketches / skyline / graph / timeseries ----

def gen_terms(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    dom = 1 if prof == "degenerate" else (3 if prof == "ties" else 20)
    p_null = 0.3 if prof == "nulls" else 0.0
    return [
        (_maybe_null(rng, f"t{rng.randrange(dom)}", p_null),)
        for _ in range(n)
    ]


def gen_points(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    hi = 1 if prof in ("degenerate", "ties") else 9
    return [
        (rng.randint(0, hi), rng.randint(0, hi)) for _ in range(n)
    ]


def gen_memberships(rng: random.Random) -> list[tuple]:
    """(group, item) rows — the co-occurrence graph source."""
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(2, 8) if prof == "tiny" else rng.randint(6, 30)
    n_groups = 1 if prof == "degenerate" else rng.randint(2, 6)
    n_items = 3 if prof == "ties" else rng.randint(3, 10)
    return [
        (rng.randrange(n_groups), rng.randrange(n_items))
        for _ in range(n)
    ]


def gen_series(rng: random.Random) -> list[tuple]:
    """(key, ts, id, value) rows for the per-key window operators."""
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(2, 8) if prof == "tiny" else rng.randint(6, 40)
    keys = ["a"] if prof == "degenerate" else ["a", "b", "c"]
    rows = []
    for i in range(n):
        v = 5 if prof == "ties" else rng.randint(-9, 9)
        rows.append((rng.choice(keys), i // 3, i, v))
    return rows


def _fifth_wave_ops() -> list[OpCase]:
    from spark_extensions_spark.operators.graph import (
        degree_distribution,
        degree_oracle_sql,
        grouped_pair_edges,
        triangle_count,
        triangle_oracle_sql,
    )
    from spark_extensions_spark.operators.sketches import (
        count_min_oracle_sql,
        count_min_table,
        hll_estimate,
        hll_estimate_oracle_sql,
        hll_register_oracle_sql,
        hll_register_table,
        kmv_oracle_sql,
        kmv_sketch,
    )
    from spark_extensions_spark.operators.skyline import (
        skyline_2d,
        skyline_oracle_sql,
    )
    from spark_extensions_spark.operators.timeseries import (
        ewma,
        ewma_oracle_sql,
        rolling_zscore,
        zscore_oracle_sql,
    )

    return [
        OpCase(
            "kmv",
            "t string",
            gen_terms,
            lambda df: kmv_sketch(df, "t", k=8, salt="fz"),
            lambda src, rows: kmv_oracle_sql(
                f"({src}) km_src", "t", k=8, salt="fz"
            ),
        ),
        OpCase(
            "count_min",
            "t string",
            gen_terms,
            lambda df: count_min_table(df, "t", d=2, w=8),
            lambda src, rows: count_min_oracle_sql(src, "t", d=2, w=8),
        ),
        OpCase(
            "hll_register",
            "t string",
            gen_terms,
            lambda df: hll_register_table(df, "t"),
            lambda src, rows: hll_register_oracle_sql(src, "t"),
        ),
        OpCase(
            "hll_estimate",
            "t string",
            gen_terms,
            lambda df: hll_estimate(df, "t"),
            lambda src, rows: hll_estimate_oracle_sql(src, "t"),
        ),
        OpCase(
            "skyline",
            "x bigint, y bigint",
            gen_points,
            lambda df: skyline_2d(df, "x", "y", n_buckets=4),
            lambda src, rows: skyline_oracle_sql(src, "x", "y"),
        ),
        OpCase(
            "triangles",
            "grp int, item int",
            gen_memberships,
            lambda df: triangle_count(
                grouped_pair_edges(df, "grp", "item")
            ),
            lambda src, rows: triangle_oracle_sql(
                f"({src})", "grp", "item"
            ),
        ),
        OpCase(
            "degrees",
            "grp int, item int",
            gen_memberships,
            lambda df: degree_distribution(
                grouped_pair_edges(df, "grp", "item")
            ),
            lambda src, rows: degree_oracle_sql(
                f"({src})", "grp", "item"
            ),
        ),
        OpCase(
            "ewma",
            "k string, ts bigint, id bigint, v bigint",
            gen_series,
            lambda df: ewma(df, "k", "ts", "id", "v", alpha=0.5, k=4),
            lambda src, rows: ewma_oracle_sql(
                f"({src}) ew_src", "k", "ts", "id", "v", alpha=0.5, k=4
            ),
        ),
        OpCase(
            "zscore",
            "k string, ts bigint, id bigint, v bigint",
            gen_series,
            lambda df: rolling_zscore(
                df, "k", "ts", "id", "v", k=4, scale=1
            ),
            lambda src, rows: zscore_oracle_sql(
                f"({src}) zs_src", "k", "ts", "id", "v", k=4, scale=1
            ),
        ),
    ]




# ---- round-8 sixth wave: sampling --------------------------------

def gen_weighted_keys(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    w_hi = 1 if prof == "degenerate" else (3 if prof == "ties" else 50)
    return [
        (i, rng.randint(1, w_hi)) for i in range(n)
    ]


def gen_domain_rows(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(5, 40)
    n_dom = 1 if prof in ("degenerate", "ties") else rng.randint(2, 5)
    return [(i, f"d{rng.randrange(n_dom)}") for i in range(n)]


def gen_ids(rng: random.Random) -> list[tuple]:
    prof = _profile(rng)
    if prof == "empty":
        return []
    n = rng.randint(1, 6) if prof == "tiny" else rng.randint(3, 30)
    return [(i,) for i in range(n)]


def _sixth_wave_ops() -> list[OpCase]:
    from spark_extensions_spark.operators.sampling import (
        domain_cap,
        domain_cap_oracle_sql,
        pps_oracle_sql,
        pps_systematic,
        ring_negatives,
        ring_negatives_oracle_sql,
    )

    return [
        OpCase(
            "pps",
            "k bigint, w bigint",
            gen_weighted_keys,
            lambda df: pps_systematic(df, "k", "w", k=5, salt="fz"),
            lambda src, rows: pps_oracle_sql(
                f"({src}) pp_src", "k", "w", k=5, salt="fz"
            ),
        ),
        OpCase(
            "domain_cap",
            "id bigint, dom string",
            gen_domain_rows,
            lambda df: domain_cap(df, "id", "dom", cap=3, salt="fz"),
            # builder writes FROM {table_sql} directly
            lambda src, rows: domain_cap_oracle_sql(
                f"({src})", "id", "dom", cap=3, salt="fz"
            ),
        ),
        OpCase(
            "ring_negatives",
            "id bigint",
            gen_ids,
            lambda df: ring_negatives(df, "id", k=3, salt="fz"),
            lambda src, rows: ring_negatives_oracle_sql(
                src, "id", k=3, salt="fz"
            ),
        ),
    ]




# ---- round-8 seventh wave: iterative graph operators -----------------

def gen_edges(rng: random.Random) -> list[tuple]:
    """Random small graphs: paths, cliques-ish, disconnected pieces."""
    prof = _profile(rng)
    if prof == "empty":
        return []
    n_nodes = rng.randint(2, 4) if prof == "tiny" else rng.randint(3, 10)
    edges = set()
    if prof == "degenerate":
        # a path — the deep-diameter shape fixed-round ops truncate
        for i in range(n_nodes - 1):
            edges.add((i, i + 1))
    else:
        n_edges = rng.randint(1, n_nodes * 2)
        for _ in range(n_edges):
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        if not edges:
            edges.add((0, 1))
    return sorted(edges)


def _edges_sql(src: str) -> str:
    # the oracle builders require DISTINCT canonical src < dst pairs —
    # the generator already emits exactly that shape
    return f"SELECT src, dst FROM ({src}) ge"


def _seventh_wave_ops() -> list[OpCase]:
    from spark_extensions_spark.operators.graph import (
        bfs_layers,
        bfs_oracle_sql,
        cc_oracle_sql,
        connected_components,
        connected_components_star,
        k_core,
        kcore_oracle_sql,
        label_propagation,
        lpa_oracle_sql,
        pagerank,
        pagerank_oracle_sql,
    )

    def seeds(df):
        from pyspark.sql import functions as _F

        return (
            df.select(_F.col("src").alias("node"))
            .unionByName(df.select(_F.col("dst").alias("node")))
            .where(_F.col("node") % 3 == 0)
            .distinct()
        )

    seeds_sql = (
        "SELECT DISTINCT node FROM (SELECT src AS node FROM ({src}) s1 "
        "UNION ALL SELECT dst FROM ({src}) s2) WHERE node % 3 = 0"
    )

    return [
        OpCase(
            "pagerank",
            "src bigint, dst bigint",
            gen_edges,
            lambda df: pagerank(df, iterations=2),
            lambda src, rows: pagerank_oracle_sql(
                _edges_sql(src), iterations=2
            ),
        ),
        OpCase(
            "lpa",
            "src bigint, dst bigint",
            gen_edges,
            lambda df: label_propagation(df, iterations=2),
            lambda src, rows: lpa_oracle_sql(
                _edges_sql(src), iterations=2
            ),
        ),
        OpCase(
            "kcore",
            "src bigint, dst bigint",
            gen_edges,
            lambda df: k_core(df, k=2, rounds=2),
            lambda src, rows: kcore_oracle_sql(
                _edges_sql(src), k=2, rounds=2
            ),
        ),
        OpCase(
            "bfs",
            "src bigint, dst bigint",
            gen_edges,
            lambda df: bfs_layers(df, seeds(df), rounds=2),
            lambda src, rows: bfs_oracle_sql(
                _edges_sql(src), seeds_sql.format(src=src), rounds=2
            ),
        ),
        # more rounds than any generated graph's diameter (<= 9): the
        # trailing rounds expand an empty frontier
        OpCase(
            "bfs_deep",
            "src bigint, dst bigint",
            gen_edges,
            lambda df: bfs_layers(df, seeds(df), rounds=12),
            lambda src, rows: bfs_oracle_sql(
                _edges_sql(src), seeds_sql.format(src=src), rounds=12
            ),
        ),
        OpCase(
            "cc",
            "src bigint, dst bigint",
            gen_edges,
            lambda df: connected_components(df, "src", "dst"),
            lambda src, rows: cc_oracle_sql(_edges_sql(src)),
        ),
        OpCase(
            "cc_star",
            "src bigint, dst bigint",
            gen_edges,
            lambda df: connected_components_star(df, "src", "dst"),
            lambda src, rows: cc_oracle_sql(_edges_sql(src)),
        ),
    ]


if __name__ == "__main__":
    sys.path.insert(0, __file__.rsplit("/", 2)[0])
    raise SystemExit(main())
