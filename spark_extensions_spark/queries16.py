"""t2 query registry, batch 19: one-scan multi-column statistics.

Registered into the shared registry (imported from queries15 at module
end). Same determinism rules as the queries.py docstring.

These extend the one-aggregate-pass pattern (quality_rules) to feature
statistics: a full pairwise correlation matrix and a column profile,
each computed in a SINGLE scan + single aggregate row, then unpivoted
with ``stack``. The N-statistics-one-scan shape is what a 100 TB
profiling pass must be — never one job per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import _register, _t

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_SHORT = {
    "l_quantity": "qty",
    "l_extendedprice": "price",
    "l_discount": "disc",
    "l_tax": "tax",
}


def _corr_sum_aliases() -> list[tuple[str, str]]:
    """(alias, sql-expr) pairs for the exact power sums.

    The measures carry at most 2 decimal places, so ``round(x*100)`` is
    an exact integer: per-row products run in 64-bit integer arithmetic
    (4x faster than DECIMAL multiplication — measured 5.3s -> 1.3s at
    sf0.1) and only the overflow-safe SUM is decimal. Pearson
    correlation is scale-invariant, so the x100-scaled sums feed the
    same formula unchanged.
    """
    out: list[tuple[str, str]] = []
    for i, x in enumerate(_CORR_COLS):
        out.append(
            (
                f"s_{_SHORT[x]}",
                f"CAST(CAST(ROUND({x} * 100) AS BIGINT) AS DECIMAL(28,0))",
            )
        )
        for y in _CORR_COLS[i:]:
            out.append(
                (
                    f"s_{_SHORT[x]}_{_SHORT[y]}",
                    f"CAST(CAST(ROUND({x} * 100) AS BIGINT) "
                    f"* CAST(ROUND({y} * 100) AS BIGINT) AS DECIMAL(28,0))",
                )
            )
    return out


def _corr_expr(x: str, y: str) -> str:
    """Textually identical corr-from-power-sums formula (both engines).

    Fixed-point floor, not round(x, 6): round's dp-rescale path is
    engine-specific, floor(x*1e6+5e-1)/1e6 is the same IEEE sequence
    everywhere (5e-1/1e6 parse as DOUBLE on both Spark and DuckDB).
    """
    a, b = _SHORT[x], _SHORT[y]
    sxy = f"s_{a}_{b}"
    return (
        f"floor(((n * {sxy} - s_{a} * s_{b}) / "
        f"sqrt((n * s_{a}_{a} - s_{a} * s_{a}) "
        f"* (n * s_{b}_{b} - s_{b} * s_{b}))) * 1e6 + 5e-1) / 1e6"
    )


def _corr_pairs() -> list[tuple[str, str]]:
    return [
        (x, y)
        for i, x in enumerate(_CORR_COLS)
        for y in _CORR_COLS[i + 1 :]
    ]


def _corr_oracle() -> str:
    sums = ", ".join(
        f"CAST(SUM({expr}) AS DOUBLE) AS {alias}"
        for alias, expr in _corr_sum_aliases()
    )
    rows = "\n      UNION ALL\n".join(
        f"SELECT '{_SHORT[x]}' AS col_x, '{_SHORT[y]}' AS col_y, "
        f"{_corr_expr(x, y)} AS corr FROM sums"
        for x, y in _corr_pairs()
    )
    return f"""
    WITH sums AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, {sums} FROM lineitem
    )
    {rows}
    """


@_register(
    "stat_correlation_matrix",
    _corr_oracle(),
    doc="Full pairwise Pearson correlation matrix (6 pairs over 4 "
    "lineitem measures) from exact DECIMAL power sums in ONE scan + "
    "ONE aggregate row, unpivoted with stack — the "
    "N-statistics-one-pass profiling shape. Order-free (decimal sums "
    "are exact) and engine-portable (the corr-from-sums double "
    "arithmetic is textually identical on both sides).",
)
def q_stat_correlation_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for alias, expr in _corr_sum_aliases():
        aggs.append(F.expr(f"SUM({expr})").cast("double").alias(alias))
    sums = li.agg(*aggs)
    parts = []
    for x, y in _corr_pairs():
        parts.append(f"'{_SHORT[x]}', '{_SHORT[y]}', {_corr_expr(x, y)}")
    return sums.select(
        F.expr(
            f"stack({len(_corr_pairs())}, {', '.join(parts)}) "
            "AS (col_x, col_y, corr)"
        )
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _profile_oracle() -> str:
    rows = "\n      UNION ALL\n".join(
        f"""SELECT '{c}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               MIN({c}) AS min_val,
               MAX({c}) AS max_val,
               CAST(CAST(SUM(CAST({c} AS DECIMAL(28,10))) AS DECIMAL(28,6))
                    AS DOUBLE) AS sum_val
           FROM lineitem"""
        for c in _PROFILE_COLS
    )
    return rows


@_register(
    "stat_profile",
    _profile_oracle(),
    doc="Column profile (count / nulls / min / max / exact decimal sum) "
    "for 4 measures in ONE scan + ONE aggregate row, stack-unpivoted "
    "to one row per column — the profiling pass an ingestion pipeline "
    "runs before publishing; never one job per column. Oracle spells "
    "it as per-column UNION ALL (same values, N scans — DuckDB is the "
    "spec here, the Spark plan is the one-scan claim, pinned in "
    "PLANS.md).",
)
def q_stat_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).cast("bigint").alias(
                f"null_{c}"
            ),
            # no round: min/max of raw doubles are already bit-exact
            # and order-free on both engines
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.expr(f"CAST({c} AS DECIMAL(28,10))"))
            .cast("decimal(28,6)")
            .cast("double")
            .alias(f"sum_{c}"),
        ]
    row = li.agg(*aggs)
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            f"'{c}', n, null_{c}, min_{c}, max_{c}, sum_{c}"
        )
    return row.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {', '.join(parts)}) "
            "AS (col_name, n, n_null, min_val, max_val, sum_val)"
        )
    )


@_register(
    "feature_quantile_bucketize",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           CAST(ntile(10) OVER (
             PARTITION BY c_mktsegment
             ORDER BY c_acctbal, c_custkey
           ) AS INT) AS decile
    FROM customer
    """,
    doc="Per-group equi-depth quantile bucketing (decile assignment via "
    "ntile with a total order — value + unique key tiebreak): the "
    "feature-binning pass before hashing/embedding categorical "
    "features. One shuffle (the window partition).",
)
def q_feature_quantile_bucketize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer")["customer"]
    w = Window.partitionBy("c_mktsegment").orderBy(
        "c_acctbal", "c_custkey"
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(10).over(w).cast("int").alias("decile"),
    )


@_register(
    "scd2_time_travel",
    """
    WITH base AS (SELECT c_custkey, c_acctbal, c_mktsegment FROM customer),
    snap AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
      FROM customer WHERE c_custkey % 37 <> 0
      UNION ALL
      SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE), c_mktsegment
      FROM customer WHERE c_custkey % 53 = 0
    )
    SELECT * FROM base
    """,
    doc="SCD2 time travel (operators/incremental.py:scd2_as_of): apply "
    "the load-2 snapshot to the load-1 history, then reconstruct 'as "
    "of load 1' — a pure row-local validity filter (pushes to the "
    "scan, zero shuffle) that must return exactly the original "
    "snapshot. The oracle IS that original snapshot: round-trip "
    "equality is the whole check.",
)
def q_scd2_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.incremental import (
        scd2_apply,
        scd2_as_of,
        scd2_init,
    )
    from spark_extensions_spark.queries14 import _base_and_snap

    base, snap = _base_and_snap(spark, sf_dir)
    hist = scd2_init(
        base, ["c_custkey"], ["c_acctbal", "c_mktsegment"], load_version=1
    )
    hist2 = scd2_apply(
        hist, snap, ["c_custkey"], ["c_acctbal", "c_mktsegment"],
        load_version=2,
    )
    return scd2_as_of(hist2, 1)


@_register(
    "quality_drift",
    """
    WITH per_src AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             floor((CAST(SUM(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*)) * 1e6 + 5e-1) / 1e6 AS mean_chars
      FROM documents GROUP BY source
    ), overall AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
             CAST(COUNT(*) AS BIGINT) AS n_sources,
             floor((CAST(SUM(CAST(mean_chars AS DECIMAL(28,6))) AS DOUBLE)
                   / COUNT(*)) * 1e6 + 5e-1) / 1e6 AS grand_mean
      FROM per_src
    )
    SELECT p.source, p.n_docs, p.mean_chars,
           floor((p.n_docs / (CAST(o.total_docs AS DOUBLE) / o.n_sources))
                 * 1e6 + 5e-1) / 1e6 AS volume_ratio,
           floor((p.mean_chars - o.grand_mean) * 1e6 + 5e-1) / 1e6
             AS mean_chars_delta,
           (p.n_docs < 0.5 * (CAST(o.total_docs AS DOUBLE) / o.n_sources)
            OR p.n_docs > 2.0 * (CAST(o.total_docs AS DOUBLE) / o.n_sources))
             AS volume_anomaly
    FROM per_src p CROSS JOIN overall o
    """,
    doc="Partition-drift check before publishing an ingest: per-source "
    "volume and mean-length vs the cross-source expectation, with a "
    "0.5x/2x volume-anomaly flag — the circuit-breaker an ingestion "
    "pipeline evaluates per load. Two tiny aggregates (source-"
    "cardinality rows) + a broadcast of ONE overall row; the fact "
    "table scans once. Decimal-exact means keep both engines "
    "bit-identical.",
)
def q_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    from spark_extensions_spark.functions.fixedpoint import fp_col

    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        fp_col(
            F.sum(F.expr("CAST(n_chars AS DECIMAL(28,6))")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_chars"),
    )
    overall = per_src.agg(
        F.sum("n_docs").cast("bigint").alias("total_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_sources"),
        fp_col(
            F.sum(F.expr("CAST(mean_chars AS DECIMAL(28,6))")).cast(
                "double"
            )
            / F.count(F.lit(1)),
            6,
        ).alias("grand_mean"),
    )
    expect = F.col("total_docs").cast("double") / F.col("n_sources")
    return (
        per_src.crossJoin(F.broadcast(overall))
        .select(
            "source",
            "n_docs",
            "mean_chars",
            fp_col(F.col("n_docs") / expect, 6).alias("volume_ratio"),
            fp_col(
                F.col("mean_chars") - F.col("grand_mean"), 6
            ).alias("mean_chars_delta"),
            (
                (F.col("n_docs") < 0.5 * expect)
                | (F.col("n_docs") > 2.0 * expect)
            ).alias("volume_anomaly"),
        )
    )


def _shard_manifest_oracle(n_shards: int = 8) -> str:
    from spark_extensions_spark.operators.sampling import hash_bucket_duck

    bucket = hash_bucket_duck("doc_id", "shard", 1 << 60)
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKENS_DUCK_EXPORT} AS n_tok,
             CAST({bucket} % {n_shards} AS INT) AS shard
      FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_sort(list(CAST(doc_id AS VARCHAR))), ','))
             AS content_hash
    FROM toks GROUP BY shard
    """


_TOKENS_DUCK_EXPORT = (
    "CAST(COALESCE(list_sum(list_transform("
    "regexp_extract_all(lower(text), '[a-z0-9]+'), "
    "w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS BIGINT)"
)


@_register(
    "export_shard_manifest",
    _shard_manifest_oracle(),
    doc="Training-export shard manifest (sources/export.py:"
    "shard_manifest): deterministic md5-bucket shard assignment + per-"
    "shard row count, token total, and an order-insensitive content "
    "hash (md5 over the sorted key list) — the receipt the training "
    "side verifies before consuming the shards. One shuffle on the "
    "shard id; pairs with write_shards (one hash repartition + "
    "partitioned write, pytest-verified).",
)
def q_export_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.functions.text import token_count
    from spark_extensions_spark.sources.export import shard_manifest

    docs = _t(spark, sf_dir, "documents")["documents"]
    with_tok = docs.select(
        "doc_id", token_count("text").alias("n_tok")
    )
    return shard_manifest(with_tok, "doc_id", 8, token_col="n_tok")


def _kmeans_det_oracle(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Unrolled-iteration DuckDB twin of kmeans_fit_det +
    kmeans_assignments_det: same md5-ordered quantized init, exact
    int64 argmin assignment, floor(double(sum)/n) centroid means,
    empty-cluster inheritance."""
    from spark_extensions_spark.operators.similarity import lsh_quantize_duck

    dist = (
        "CAST(list_sum(list_transform(list_zip(e.qq, c.cq), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )

    def assign(n: int) -> str:
        return f"""a{n} AS (
      SELECT vec_id, qq, list_id FROM (
        SELECT e.vec_id, e.qq, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.list_id) AS rn
        FROM eq e CROSS JOIN c{n} c
      ) WHERE rn = 1
    )"""

    def update(n: int) -> str:
        return f"""u{n} AS (
      SELECT list_id, list(sm ORDER BY pos) AS cq FROM (
        SELECT a.list_id, i AS pos,
               CAST(floor(CAST(SUM(a.qq[i]) AS DOUBLE) / COUNT(*))
                    AS BIGINT) AS sm
        FROM a{n} a, generate_series(1, {dim}) t(i)
        GROUP BY a.list_id, i
      ) GROUP BY list_id
    ), c{n + 1} AS (
      SELECT list_id, cq FROM u{n}
      UNION ALL
      SELECT c.list_id, c.cq FROM c{n} c
      WHERE c.list_id NOT IN (SELECT list_id FROM u{n})
    )"""

    rounds = ",\n    ".join(
        assign(i) + ",\n    " + update(i) for i in range(iters)
    )
    return f"""
    WITH eq AS (
      SELECT vec_id, {lsh_quantize_duck('embedding')} AS qq
      FROM embeddings
    ), c0 AS (
      SELECT list_id, cq FROM (
        SELECT ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
               qq AS cq
        FROM eq
      ) WHERE list_id < {k}
    ),
    {rounds},
    {assign(iters)}
    SELECT CAST(list_id AS INT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM a{iters} GROUP BY list_id
    """


@_register(
    "embedding_kmeans",
    _kmeans_det_oracle(),
    doc="Distributed k-means over the embedding column in DETERMINISTIC "
    "integer arithmetic (operators/clustering.py:kmeans_fit_det): "
    "md5-picked quantized init, exact int64 squared-L2 argmin "
    "assignment (row-local codegen, zero shuffle), "
    "floor(double(Σv)/n) centroid means (portable: sums < 2^53 are "
    "exact in double and quotients sit ≥1/n from the floor boundary). "
    "Every iteration is bit-reproducible on any engine, so the whole "
    "iterative algorithm is hash-checked against an UNROLLED SQL "
    "oracle. One aggregate shuffle per iteration; driver traffic "
    "k*dim numbers, never rows. sample_diverse caps every cluster of "
    "the same assignment for topic-balanced subsets.",
)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.clustering import (
        kmeans_assignments_det,
    )

    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return (
        kmeans_assignments_det(emb, "vec_id", "embedding", k=8, iters=3)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    )


@_register(
    "sql_udf_battery",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT)
             AS wc,
           CAST(COALESCE(list_sum(list_transform(
                  regexp_extract_all(lower(text), '[a-z0-9]+'),
                  w -> CAST(ceil(length(w) / 4.0) AS BIGINT))), 0) AS BIGINT)
             AS tc,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || 'split'),
                           1, 15))::BIGINT % 10000 AS bucket
    FROM documents
    """,
    doc="The pure-SQL operator surface (functions/sql_registry.py): "
    "word/token counts, content fingerprint, and hash bucketing "
    "invoked as Spark 4 SQL UDFs (CREATE FUNCTION ... RETURN expr) "
    "from a plain spark.sql string — the SQL-only-user path. SQL UDFs "
    "macro-expand in the analyzer (no BatchEvalPython, pinned by "
    "test); bodies are the same fragments the Column builders emit.",
)
def q_sql_udf_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.functions.sql_registry import (
        install_sql_functions,
    )

    install_sql_functions(spark)
    docs = _t(spark, sf_dir, "documents")["documents"]
    docs.createOrReplaceTempView("__sql_udf_docs")
    return spark.sql(
        """
        SELECT doc_id,
               se_word_count(text) AS wc,
               se_token_count(text) AS tc,
               se_fingerprint(text) AS fp,
               se_hash_bucket(CAST(doc_id AS STRING), 'split', 10000)
                 AS bucket
        FROM __sql_udf_docs
        """
    )


from spark_extensions_spark import queries17  # noqa: E402,F401  (registration side effect)
