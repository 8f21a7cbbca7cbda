"""Distributed k-means over embedding columns + cluster-diverse
sampling.

Curation pipelines cluster the corpus embedding space and then sample
per cluster — diversity-aware subsetting ("semantic dedup at the
cluster level", topic balancing, coverage-weighted mixes). This module
implements Lloyd's k-means the way it scales on Spark, in EXACT integer
arithmetic over fixed-point quantized vectors, so every iteration is
bit-reproducible on any engine and partitioning:

- **Init**: the k rows with the smallest ``md5(id)`` — deterministic,
  layout-independent, and uniformly spread over the corpus (no
  ``rand()``, no driver sampling).
- **Assign** (per iteration): exact int64 squared-L2 argmin against the
  k centroids, first-min tie-break by centroid index. Zero shuffle.
- **Update**: per-(cluster, dimension) integer sums in one aggregate,
  ``floor(double(Σv)/n)`` means. The driver receives k × dim numbers
  per iteration (the centroids), never row data.

Fixed iteration count (no convergence probe) keeps the job graph static
and the result reproducible, so the ``embedding_kmeans`` query is
hash-checked against an unrolled SQL oracle (queries16).
:func:`sample_diverse` caps every cluster of that assignment.

Reference scope note: the reference has no clustering surface — LLM-
pipeline extension layer (SURVEY.md §7 M5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_extensions_spark.operators.sampling import stratified_cap


def sample_diverse(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    cap: int = 50,
    iters: int = 5,
) -> DataFrame:
    """Cluster-diverse subset: k-means the embedding space, then keep at
    most ``cap`` rows per cluster in deterministic hash order — a
    topic-balanced sample instead of a frequency-weighted one."""
    assigned = df.join(
        kmeans_assignments_det(df, id_col, vec_col, k, iters), id_col
    )
    return stratified_cap(assigned, "cluster", id_col, cap, salt="diverse")


def kmeans_fit_det(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
) -> list[list[int]]:
    """Lloyd's k-means in EXACT integer arithmetic over fixed-point
    quantized vectors — every step bit-reproducible on any engine, so
    the result is hash-checkable against an unrolled SQL oracle.

    - Init: the k smallest-md5(id) rows, quantized
      (``similarity.ivf_centroids_det`` — no RNG state).
    - Assign: exact int64 squared-L2 argmin, first-min tie-break
      (``similarity.ivf_assign_expr`` — row-local codegen, zero
      shuffle).
    - Update: element-wise ``floor(double(Σv)/n)`` means. Portable by
      construction: |Σv| < 2^53 so the double is exact, and the true
      quotient is ≥ 1/n away from the floor boundary whenever it is
      not ON it — double rounding (~1e-16 relative) can't cross.
      (Integer ``div`` is NOT portable here: Spark truncates toward
      zero, DuckDB floors, and negative sums would diverge.)
    - Empty clusters keep their previous centroid.

    Scale shape: one aggregate shuffle per iteration, k×dim numbers to
    the driver, never rows.
    """
    import math

    from spark_extensions_spark.operators.similarity import (
        ivf_assign_int_pandas,
        ivf_centroids_det,
        quantize_vec_expr,
    )
    from spark_extensions_spark.session import ensure_parallelism

    # the per-iteration assign (Arrow-batched argmin) + posexplode is
    # CPU-heavy and row-local — spread an unsplittable one-file input
    df = ensure_parallelism(df)
    cents = ivf_centroids_det(df, id_col, vec_col, k)
    qdf = df.select(
        F.expr(quantize_vec_expr(vec_col)).alias("__qq")
    ).localCheckpoint(eager=False)
    # Per-dim sums as k×dim WIDE aggregate columns instead of
    # posexplode + groupBy(__c, __pos): the explode multiplied the
    # aggregate's input by dim (n·dim rows shuffled per iteration);
    # extracting each position into its own sum keeps the input at n
    # rows and the same exact integer totals reach the driver (k rows
    # of dim columns vs k·dim rows — identical numbers, order-free).
    dim = len(cents[0])
    aggs = [
        F.sum(F.col("__qq")[p]).alias(f"__s{p}") for p in range(dim)
    ] + [F.count(F.lit(1)).alias("__n")]
    for _ in range(iters):
        sums = (
            qdf.select(
                ivf_assign_int_pandas(cents)(F.col("__qq")).alias("__c"),
                "__qq",
            )
            .groupBy("__c")
            .agg(*aggs)
            .collect()
        )
        nxt = [list(c) for c in cents]
        for r in sums:
            ci, n = int(r["__c"]), int(r["__n"])
            nxt[ci] = [
                math.floor(float(r[f"__s{p}"]) / n) for p in range(dim)
            ]
        cents = nxt
    return cents


def kmeans_assignments_det(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """``(id_col, cluster int)`` per row via :func:`kmeans_fit_det` —
    fully deterministic cross-engine."""
    from spark_extensions_spark.operators.similarity import (
        ivf_assign_int_pandas,
        quantize_vec_expr,
    )
    from spark_extensions_spark.session import ensure_parallelism

    cents = kmeans_fit_det(df, id_col, vec_col, k, iters)
    return ensure_parallelism(df).select(
        id_col,
        ivf_assign_int_pandas(cents)(
            F.expr(quantize_vec_expr(vec_col))
        ).alias("cluster"),
    )
