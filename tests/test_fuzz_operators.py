"""Operator-layer differential fuzzing gate (VERDICT r7 #8).

``tools/fuzz_operators.py`` generates seed-pinned randomized small
inputs per stats/evals operator — including adversarial profiles
(empty, all-tied, single-label, NULLs) — and compares the Spark
operator against its DuckDB ``*_oracle_sql`` twin per case.

Round-8 finds (both fixed at the source, pinned here):
- Mann-Whitney / KS kept NULL values as a tie group, which sorts
  FIRST in Spark's cumulative window but LAST in DuckDB — engine-
  dependent rank sums. Both now drop NULL values (standard
  missing-data handling for rank statistics).
- Spark 4 ANSI throws DIVIDE_BY_ZERO even on DOUBLE division, so an
  empty group (n_a*n_b=0) or zero-variance sample crashed the MW z /
  KS d_stat instead of yielding the oracle's NULL. Both formulas now
  take a CASE-guarded NULL branch (nested CASE — AND does not
  short-circuit in vectorized evaluation).
- The second wave (chi2/cramers_v/welch/anova/moments/tvd/psi/lorenz)
  found the SAME ANSI class in five more shared formulas: empty
  category margins (chi2 e=0 cells — now contribute 0, the standard
  exclusion), single groups / all-singleton groups / zero within-
  variance (anova), <2-row groups and zero pooled variance (welch,
  nested case), constant groups (moments m2=0), one-sided splits
  (tvd). All guarded in the SHARED formula text, so both engines take
  the same defined branch.
- The third wave (rouge/bleu/ece/pass_at_k/poisson_bootstrap) ran
  clean on first pass — including UNICODE text probes (precomposed
  vs decomposed accents, CJK, emoji) through the tokenizer regex and
  md5 hashing paths.
- The fourth wave (winnowing, n-gram containment, Benford, skew
  diagnosis, Gini stump) also ran clean first pass — the shared
  md5-shingle-hash and exact-integer-fixed-point recipes hold on
  randomized near-dup corpora, empty docs, NULL texts, and sub-1
  amounts.
- The fifth wave (KMV, Count-Min, HLL register/estimate, skyline,
  triangles, degrees, EWMA, rolling z-score) found two more real
  seams: a NULL key hashed to a NULL that occupies a KMV k-min slot
  in Spark (NULLS FIRST) but not DuckDB (NULLS LAST), shifting the
  estimate — NULL keys now dropped pre-hash in kmv_sketch AND
  kmv_set_ops and both oracles; and rolling_zscore's zero-variance
  frame hit the ANSI double-divide class — _z_formula now carries
  the shared nested-CASE guard.

Reproduce a divergence standalone:
``python tools/fuzz_operators.py --op <name> --case <i>``
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
    ),
)

from fuzz_operators import operator_cases, run_case, run_fuzz  # noqa: E402


def test_fuzz_generation_is_seed_pinned():
    import random

    for op in operator_cases().values():
        for i in (0, 7):
            a = op.gen(random.Random(f"s:{op.name}:{i}"))
            b = op.gen(random.Random(f"s:{op.name}:{i}"))
            assert a == b, op.name


@pytest.mark.slow
def test_operator_fuzz_1410_cases_no_divergence(spark):
    n_pass, failures = run_fuzz(spark, n_per_op=30, seed="opfuzz-r8")
    msg = "\n".join(f"{o}#{i}: {p}" for o, i, p in failures[:8])
    assert not failures, f"{len(failures)} divergences:\n{msg}"
    assert n_pass == 1410


def test_operator_fuzz_smoke(spark):
    """Fast default-profile twin of the 1410-case gate: the first two
    seed-pinned cases of EVERY operator (same generator, same oracle
    comparison) — catches harness rot and gross divergences in
    seconds; the full sweep runs under ``-m slow``."""
    n_pass, failures = run_fuzz(spark, n_per_op=2, seed="opfuzz-r8")
    msg = "\n".join(f"{o}#{i}: {p}" for o, i, p in failures[:8])
    assert not failures, f"{len(failures)} divergences:\n{msg}"
    assert n_pass == 2 * len(operator_cases())


def test_mannwhitney_empty_group_defined_null(spark):
    """The ANSI divide-by-zero edge the fuzzer found: one empty group
    must yield z=NULL (the oracle's value), not crash."""
    from spark_extensions_spark.operators.stats import mannwhitney_u

    df = spark.createDataFrame([(-6, "b"), (6, "b")], "v bigint, g string")
    row = mannwhitney_u(
        df, "v", "g", "a", "b", allow_unbounded_domain=True
    ).collect()[0]
    assert row["z"] is None
    assert row["u_a"] == 0.0
    assert (row["n_a"], row["n_b"]) == (0, 2)


def test_ks_null_values_dropped(spark):
    """NULL values must not form an engine-ordered tie group."""
    from spark_extensions_spark.operators.stats import ks_statistic

    rows = [(1, "a"), (2, "a"), (None, "a"), (1, "b"), (3, "b"), (None, "b")]
    df = spark.createDataFrame(rows, "v bigint, g string")
    row = ks_statistic(
        df, "v", "g", "a", "b", allow_unbounded_domain=True
    ).collect()[0]
    assert (row["n_a"], row["n_b"]) == (2, 2)  # NULLs excluded
    assert row["d_stat"] == 0.5
