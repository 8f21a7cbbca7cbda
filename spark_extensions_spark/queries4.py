"""t2 query registry, batch 7: deterministic sampling/splits and
near-dup cluster resolution — the training-data-pipeline layer.

Registered into the shared registry (imported from queries3 at module
end). Same determinism rules as the queries.py docstring. Noteworthy:

- The sampling queries are *fully* oracle-checked because the sampling
  itself is md5-hash-deterministic (operators/sampling.py) — the DuckDB
  side recomputes the identical hex math, so these verify row-level
  membership, not just counts.
- ``dedup_clusters`` checks the iterative hash-min connected-components
  operator (operators/graph.py) against an exact recursive-CTE
  transitive closure in DuckDB — an iterative distributed algorithm
  with an exact relational oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import (
    _jaccard_oracle,
    _register,
    _t,
    dsum,
    dsum_duck,
)
from spark_extensions_spark.operators.dedup import ngram_jaccard_pairs
from spark_extensions_spark.operators.graph import (
    cc_oracle_sql,
    neardup_clusters,
)
from spark_extensions_spark.operators.sampling import (
    hash_bucket,
    hash_bucket_duck,
    hash_split,
    hash_split_case_duck,
    stratified_cap,
)

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


@_register(
    "sample_hash_split",
    f"""
    SELECT doc_id,
           {hash_bucket_duck('doc_id', 'split')} AS bucket,
           {hash_split_case_duck('doc_id', _SPLITS)} AS split
    FROM documents
    """,
    doc="Deterministic train/val/test assignment by key hash — "
    "row-local, zero-shuffle, reproducible on any cluster layout "
    "(operators/sampling.py:hash_split). Row-level oracle: DuckDB "
    "recomputes the identical md5 bucket math.",
)
def q_sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    return hash_split(docs, "doc_id", _SPLITS).select(
        "doc_id", hash_bucket("doc_id", "split").alias("bucket"), "split"
    )


@_register(
    "sample_percent",
    f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
           {dsum_duck('l_extendedprice', 'revenue')}
    FROM lineitem
    WHERE {hash_bucket_duck("l_orderkey || '#' || l_linenumber", 'pct')} < 1000
    GROUP BY l_returnflag
    """,
    doc="Deterministic 10% subsample (hash-bucket filter on the "
    "composite row key) feeding an aggregate — the reproducible "
    "corpus-thinning primitive; the filter is a codegen'd row-local "
    "predicate evaluated at the scan.",
)
def q_sample_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    key = "concat(cast(l_orderkey as string), '#', cast(l_linenumber as string))"
    return (
        li.filter(hash_bucket(key, "pct") < 1000)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_items"), dsum("l_extendedprice").alias("revenue"))
    )


@_register(
    "sample_stratified_cap",
    f"""
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY {hash_bucket_duck('o_orderkey', 'cap', 1 << 60)},
                        o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="At most 3 orders per customer, chosen by deterministic hash "
    "order (operators/sampling.py:stratified_cap) — reproducible "
    "uniform within-group sampling, one shuffle on the group key.",
)
def q_sample_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    capped = stratified_cap(
        o, "o_custkey", "o_orderkey", cap=3, salt="cap", out_col="rn"
    )
    return capped.select("o_custkey", "o_orderkey", F.col("rn").cast("long"))


@_register(
    "join_right",
    """
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           COUNT(l.l_orderkey) AS n_matched,
           COUNT(*) - COUNT(l.l_orderkey) AS n_unmatched
    FROM (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45) l
    RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o_orderstatus
    """,
    doc="Right outer join: every order retained, null-extended where no "
    "high-quantity lineitem matches; counts distinguish matched from "
    "null-extended rows. Same BroadcastHashJoin/shuffle shape as "
    "join_left with build/preserve sides swapped.",
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders")
    big = t["lineitem"].filter(F.col("l_quantity") > 45).select("l_orderkey")
    n_matched = F.count("l_orderkey")
    return (
        big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"), "right")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            n_matched.alias("n_matched"),
            (F.count(F.lit(1)) - n_matched).alias("n_unmatched"),
        )
    )


@_register(
    "scalar_battery3",
    """
    SELECT l_orderkey, l_linenumber,
           array_to_string(list_transform(
             list_transform(
               list_zip([l_quantity, l_extendedprice], [l_discount, l_tax]),
               s -> s[1] + s[2]),
             v -> CAST(FLOOR(v * 1e6 + 0.5) AS BIGINT)), ',')
             AS zipped_e6_csv,
           json_extract_string(
             concat('{"ord":', CAST(l_orderkey AS VARCHAR),
                    ',"line":', CAST(l_linenumber AS VARCHAR), '}'),
             '$.ord') AS ord_json,
           LEAST(GREATEST(CAST(FLOOR(l_discount * 10 / 1.0) AS BIGINT) + 1, 0),
                 11) AS disc_bucket
    FROM lineitem WHERE l_orderkey < 2000
    """,
    doc="Scalar battery 3: zip_with (element-wise lambda over paired "
    "arrays), json_tuple field extraction, width_bucket histogram "
    "binning — all row-local codegen'd expressions; DuckDB mirrors "
    "zip_with via list_zip+list_transform and width_bucket via the "
    "floor/clamp definition. JSON payload is built from integer casts "
    "so string formatting is engine-independent.",
)
def q_scalar_battery3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    payload = F.concat(
        F.lit('{"ord":'), F.col("l_orderkey").cast("string"),
        F.lit(',"line":'), F.col("l_linenumber").cast("string"), F.lit("}"),
    )
    return (
        li.filter(F.col("l_orderkey") < 2000)
        .select(
            "l_orderkey",
            "l_linenumber",
            # element-wise sums fixed-point-rendered to one CSV string:
            # driver canonicalizer cannot hash list cells, and double
            # rendering (sci-notation) differs between engines
            F.array_join(
                F.transform(
                    F.zip_with(
                        F.array("l_quantity", "l_extendedprice"),
                        F.array("l_discount", "l_tax"),
                        lambda x, y: x + y,
                    ),
                    lambda v: F.floor(v * 1e6 + 0.5).cast("bigint"),
                ),
                ",",
            ).alias("zipped_e6_csv"),
            F.json_tuple(payload, "ord").alias("ord_json"),
            F.width_bucket(F.col("l_discount"), F.lit(0.0), F.lit(1.0), F.lit(10))
            .alias("disc_bucket"),
        )
    )


@_register(
    "date_battery3",
    """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN day(l_shipdate) = 15
                THEN CAST((year(l_shipdate) - 1995) * 12
                          + (month(l_shipdate) - 3) AS DOUBLE)
                ELSE CAST((year(l_shipdate) - 1995) * 12
                          + (month(l_shipdate) - 3) AS DOUBLE)
                     + (CAST((day(l_shipdate) - 15) * 86400 AS DOUBLE)
                        / 2678400e0)
           END AS mb_raw,
           last_day(CAST(l_shipdate AS DATE)) AS eom,
           CAST(l_shipdate + INTERVAL 2 MONTH AS DATE) AS plus2m
    FROM lineitem WHERE l_orderkey < 2000
    """,
    doc="Date battery 3: months_between (roundOff=False — the raw "
    "integer-months + day-delta/31 formula, mirrored op-for-op in "
    "DuckDB so the single IEEE division hashes identically; anchor "
    "1995-03-15 is never a month end, so the both-last-day branch is "
    "statically false), last_day, add_months. Timestamps in the "
    "fixtures are midnight-only, so the seconds terms vanish.",
)
def q_date_battery3(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    anchor = F.lit("1995-03-15").cast("timestamp")
    return (
        li.filter(F.col("l_orderkey") < 2000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.months_between(F.col("l_shipdate"), anchor, roundOff=False)
            .alias("mb_raw"),
            F.last_day("l_shipdate").alias("eom"),
            F.add_months("l_shipdate", 2).alias("plus2m"),
        )
    )


@_register(
    "agg_hll_sketch",
    None,
    doc="DataSketches HLL: fine-grained (status, priority) sketches "
    "built in one scan, then hll_union_agg merges them up to status — "
    "sketches as mergeable partial aggregates, so rollups re-aggregate "
    "stored sketch bytes instead of rescanning the fact table (the "
    "100 TB cube-maintenance pattern). Approximate by design → "
    "rows-only driver check; the 5% error bound is pinned by "
    "tests/test_operators.py::test_hll_sketch_error_and_merge.",
)
def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    fine = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    return fine.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("approx_cust")
    )


@_register(
    "text_contamination",
    f"""
    WITH words AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               CASE WHEN len(ws) < 3 THEN []
                    ELSE list_transform(generate_series(0, len(ws) - 3),
                                        i -> array_to_string(ws[i+1:i+3], ' '))
               END,
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))) AS s
      FROM words
    ), bench AS (
      SELECT DISTINCT s FROM sh
      WHERE {hash_bucket_duck('doc_id', 'contam')} < 2000
    )
    SELECT c.doc_id, COUNT(*) AS overlap_cnt
    FROM sh c JOIN bench b ON c.s = b.s
    WHERE NOT ({hash_bucket_duck('doc_id', 'contam')} < 2000)
    GROUP BY c.doc_id
    HAVING COUNT(*) >= 2
    """,
    doc="Benchmark-contamination check: a deterministic 20% hash split "
    "of documents acts as the benchmark; corpus docs sharing >= 2 "
    "distinct 3-gram shingles with it are flagged. The benchmark "
    "collapses to a broadcast distinct-shingle-hash set, so the corpus "
    "side is never shuffled on shingles "
    "(operators/dedup.py:ngram_contamination).",
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.dedup import ngram_contamination

    docs = _t(spark, sf_dir, "documents")["documents"]
    is_bench = hash_bucket("doc_id", "contam") < 2000
    return ngram_contamination(
        docs.filter(~is_bench),
        docs.filter(is_bench),
        "doc_id",
        "text",
        "doc_id",
        "text",
        n=3,
        min_overlap=2,
    )


@_register(
    "streaming_session_agg",
    """
    WITH d AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT user_id, MIN(ts) AS win_start,
           MAX(ts) + INTERVAL '30 minutes' AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="Structured Streaming session windows (F.session_window, 30 min "
    "gap) via availableNow replay — oracle is the batch gaps-and-islands "
    "sessionization. Spark merges sessions only while the half-open "
    "windows overlap, so a gap of exactly 30 minutes starts a NEW "
    "session: the oracle's new-session condition is >=, not >.",
)
def q_streaming_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.queries2 import _events_stream_path
    from spark_extensions_spark.streaming import (
        read_stream_parquet,
        run_available_now,
        session_aggregate,
    )

    stream = read_stream_parquet(spark, _events_stream_path(spark, sf_dir))
    return run_available_now(
        session_aggregate(
            stream,
            "ts",
            "30 minutes",
            aggs=[F.count("*").alias("n_events")],
            keys=["user_id"],
            watermark_delay="1 hour",
        ),
        output_mode="complete",
        state_partitions=8,
    )


# exact transitive closure of the n-gram-Jaccard pair set, shared by
# both connected-components registrations
_CLUSTERS_ORACLE = (
    "SELECT node AS doc_id, component AS cluster_id FROM ("
    + cc_oracle_sql(f"SELECT id_a AS src, id_b AS dst FROM ({_jaccard_oracle()})")
    + ")"
)


@_register(
    "dedup_clusters",
    _CLUSTERS_ORACLE,
    doc="Near-dup pairs resolved to duplicate groups: iterative "
    "hash-min connected components (operators/graph.py) over the "
    "n-gram-Jaccard pair set, checked against DuckDB's exact "
    "recursive-CTE transitive closure.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return neardup_clusters(pairs)


@_register(
    "dedup_clusters_star",
    _CLUSTERS_ORACLE,
    doc="Same duplicate-group resolution as dedup_clusters but via "
    "alternating large-star/small-star (Kiveris et al. SoCC'14, "
    "operators/graph.py:connected_components_star): O(log^2 n) rounds "
    "independent of graph diameter — the variant to reach for when the "
    "near-dup closure contains long chains. Identical recursive-CTE "
    "oracle; both algorithms are exact.",
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.graph import (
        connected_components_star,
    )

    docs = _t(spark, sf_dir, "documents")["documents"]
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return connected_components_star(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


from spark_extensions_spark import queries5  # noqa: E402,F401  (registration side effect)
