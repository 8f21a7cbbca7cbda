"""t2 query registry, batch 2: wider SURVEY §2.E coverage.

Registered into the same registry as :mod:`spark_extensions_spark.queries`
(imported from there at module end). Same determinism rules — see the
queries.py module docstring. Noteworthy here:

- stddev/variance/corr are computed from DECIMAL power sums (n, Σx, Σx²,
  Σxy) so the aggregation is order-free and engine-exact; only the final
  scalar ops run in double, identically on both sides. Inputs are
  integral-valued or 2-decimal columns, so the double→decimal casts can
  never land on a rounding midpoint (no half-up vs half-even drift).
- collect_list/collect_set wrap in sort_array (Spark's element order is
  partition-dependent; sorted lists are engine-portable).
- streaming queries run a real Structured Streaming availableNow replay
  (memory sink) and STILL carry a SQL oracle — single-batch update-mode
  snapshots equal the batch aggregate.
- the Confluent roundtrip query drives encode→decode through the pandas
  UDF codec; its oracle is the identity projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_extensions_spark.queries import (
    _register,
    _t,
    dsum,
    dsum_duck,
)


# =====================================================================
# Joins: full outer, cross  (SURVEY §2.E "Joins")
# =====================================================================

@_register(
    "join_full_outer",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey
    FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_orderkey % 3 = 0) o
      ON c.c_custkey = o.o_custkey
    """,
    doc="Full outer equi-join: unmatched rows preserved on both sides.",
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    c = t["customer"].filter(F.col("c_custkey") % 2 == 0)
    o = t["orders"].filter(F.col("o_orderkey") % 3 == 0)
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "full_outer").select(
        "c_custkey", "c_name", "o_orderkey"
    )


@_register(
    "join_cross",
    """
    SELECT r.r_name, n.n_name,
           CAST(r.r_regionkey = n.n_regionkey AS BOOLEAN) AS is_home
    FROM region r CROSS JOIN nation n
    """,
    doc="Cartesian product over small dims (CartesianProduct / BNLJ).",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "region", "nation")
    return t["region"].crossJoin(t["nation"]).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") == F.col("n_regionkey")).alias("is_home"),
    )


# =====================================================================
# Aggregation: cube, stats, collect, min_by/max_by, percentile
# =====================================================================

@_register(
    "agg_cube",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(2 * GROUPING(l_returnflag) + GROUPING(l_linestatus) AS BIGINT)
             AS gid,
           {dsum_duck('l_quantity', 'sum_qty')},
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
    doc="CUBE over two dims with an explicit grouping-id bit vector.",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            (
                F.grouping("l_returnflag").cast("bigint") * 2
                + F.grouping("l_linestatus").cast("bigint")
            ).alias("gid"),
            dsum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")
    )


@_register(
    "agg_stats",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SQRT((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*))
                 / (COUNT(*) - 1)), 6) AS qty_stddev,
           ROUND((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*))
                 / (COUNT(*) - 1), 6) AS qty_var,
           ROUND((CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(20,6))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(20,4))) AS DOUBLE)
                    * CAST(SUM(CAST(l_discount AS DECIMAL(20,4))) AS DOUBLE) / COUNT(*))
                 / (COUNT(*) - 1), 6) AS qty_disc_covar
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="stddev/variance/covariance from decimal power sums — order-free "
    "and engine-exact (no merge-formula FP drift).",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    n = F.count("*")
    sx = F.sum(F.expr("cast(l_quantity as decimal(20,4))")).cast("double")
    sxx = F.sum(F.expr("cast(l_quantity * l_quantity as decimal(20,4))")).cast(
        "double"
    )
    sd = F.sum(F.expr("cast(l_discount as decimal(20,4))")).cast("double")
    sxd = F.sum(F.expr("cast(l_quantity * l_discount as decimal(20,6))")).cast(
        "double"
    )
    var = (sxx - sx * sx / n) / (n - F.lit(1))
    covar = (sxd - sx * sd / n) / (n - F.lit(1))
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        F.round(F.sqrt(var), 6).alias("qty_stddev"),
        F.round(var, 6).alias("qty_var"),
        F.round(covar, 6).alias("qty_disc_covar"),
    )


@_register(
    "agg_collect_list",
    """
    SELECT o_custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',')
               AS priorities
    FROM orders GROUP BY o_custkey
    """,
    doc="collect_list / collect_set wrapped in sort_array for portable "
    "element order; emitted as a canonical comma-joined string so the "
    "driver's pandas canonicalizer can hash the column (raw "
    "array<bigint> cells are unhashable in pandas.sort_values).",
)
def q_agg_collect_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.groupBy("o_custkey").agg(
        F.array_join(
            F.sort_array(F.collect_list("o_orderkey")), ","
        ).alias("order_keys"),
        F.array_join(
            F.sort_array(F.collect_set("o_orderpriority")), ","
        ).alias("priorities"),
    )


@_register(
    "agg_min_max_by",
    """
    SELECT o_custkey,
           arg_min(o_orderkey, printf('%018d|%018d',
             CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey))
             AS cheapest_order,
           arg_max(o_orderkey, printf('%018d|%018d',
             CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey))
             AS priciest_order,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM (SELECT o_custkey, o_orderkey, o_totalprice FROM orders) GROUP BY o_custkey
    """,
    doc="min_by/max_by (argmin/argmax) with a DETERMINISTIC composite "
    "order key: zero-padded (price-cents | orderkey) string, so equal "
    "prices argmin to the smallest orderkey in both engines. The "
    "plain-price form was tie-free on the driver fixture but "
    "hash-diverged on the round-10 copied/skewed fixture, where the "
    "10x key-shifted copies put identical prices under one customer "
    "— min_by ties are engine-arbitrary; min/max alongside.",
)
def q_agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    okey = F.format_string(
        "%018d|%018d",
        F.expr("cast(round(o_totalprice * 100) as bigint)"),
        F.col("o_orderkey"),
    )
    return o.groupBy("o_custkey").agg(
        F.min_by("o_orderkey", okey).alias("cheapest_order"),
        F.max_by("o_orderkey", okey).alias("priciest_order"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@_register(
    "agg_percentile_exact",
    """
    SELECT l_returnflag,
           floor(quantile_cont(l_quantity, 0.5) * 1e6 + 5e-1) / 1e6
             AS qty_p50,
           floor(quantile_cont(l_quantity, 0.9) * 1e6 + 5e-1) / 1e6
             AS qty_p90,
           floor(quantile_cont(l_extendedprice, 0.25) * 1e2 + 5e-1) / 1e2
             AS price_p25
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact interpolated percentiles (Spark percentile == DuckDB "
    "quantile_cont: same (1-f)*a+f*b interpolation), fixed-point "
    "quantized portably.",
)
def q_agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.functions.fixedpoint import fp_col

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return li.groupBy("l_returnflag").agg(
        fp_col(F.expr("percentile(l_quantity, 0.5)"), 6).alias("qty_p50"),
        fp_col(F.expr("percentile(l_quantity, 0.9)"), 6).alias("qty_p90"),
        fp_col(F.expr("percentile(l_extendedprice, 0.25)"), 2).alias(
            "price_p25"
        ),
    )


@_register(
    "agg_approx_count_distinct",
    None,  # HLL++ sketch differs from DuckDB's approx algorithm: rows-only
    doc="approx_count_distinct (HyperLogLog++) — approximate by design, "
    "verified rows-only plus a relative-error unit test.",
)
def q_agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.agg(
        F.approx_count_distinct("o_custkey").alias("approx_cust"),
        F.count("*").alias("n_rows"),
    )


# =====================================================================
# Set ops (bag semantics) + unionByName + dedup-keep-first
# =====================================================================

@_register(
    "set_intersect_all",
    """
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 100000
    INTERSECT ALL
    SELECT o_custkey AS k FROM orders WHERE o_orderdate >= DATE '1995-01-01'
    """,
    doc="INTERSECT ALL (bag semantics, multiplicity = min of both sides).",
)
def q_set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    a = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("k")
    )
    b = o.filter(F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")).select(
        F.col("o_custkey").alias("k")
    )
    return a.intersectAll(b)


@_register(
    "set_except_all",
    """
    SELECT o_custkey AS k FROM orders
    EXCEPT ALL
    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 200000
    """,
    doc="EXCEPT ALL (bag semantics, multiplicity subtraction).",
)
def q_set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    a = o.select(F.col("o_custkey").alias("k"))
    b = o.filter(F.col("o_totalprice") > 200000).select(
        F.col("o_custkey").alias("k")
    )
    return a.exceptAll(b)


@_register(
    "set_union_by_name",
    """
    SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer
    UNION ALL
    SELECT s_suppkey AS k, s_name AS name, NULL AS bal FROM supplier
    """,
    doc="unionByName with allowMissingColumns (schema aligned by name, "
    "missing columns null-filled).",
)
def q_set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "supplier")
    c = t["customer"].select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("bal"),
    )
    s = t["supplier"].select(
        F.col("s_suppkey").alias("k"), F.col("s_name").alias("name")
    )
    return c.unionByName(s, allowMissingColumns=True)


@_register(
    "dedup_keep_first",
    """
    SELECT o_custkey, o_orderkey, o_orderdate FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
    doc="Deterministic dropDuplicates: keep-first-by-order via window "
    "(plain dropDuplicates keeps an arbitrary row — not portable).",
)
def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


# =====================================================================
# Pivot / unpivot
# =====================================================================

@_register(
    "pivot_wide",
    f"""
    SELECT l_returnflag,
           {dsum_duck("CASE WHEN l_linestatus = 'F' THEN l_quantity END", 'F')},
           {dsum_duck("CASE WHEN l_linestatus = 'O' THEN l_quantity END", 'O')}
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="groupBy().pivot() — wide conditional aggregation.",
)
def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_quantity"))
    )


@_register(
    "unpivot_long",
    """
    SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'o_custkey' AS metric,
           CAST(o_custkey AS DOUBLE) AS value
    FROM orders
    """,
    doc="unpivot/melt: wide columns → (metric, value) long form.",
)
def q_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_custkey").cast("double").alias("o_custkey"),
    ).unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "o_custkey"],
        variableColumnName="metric",
        valueColumnName="value",
    )


# =====================================================================
# Lateral: explode / posexplode
# =====================================================================

@_register(
    "explode_positional",
    """
    SELECT p_partkey,
           CAST(unnest(range(0, len(string_split(p_type, ' ')))) AS INT) AS pos,
           unnest(string_split(p_type, ' ')) AS tok
    FROM part
    """,
    doc="posexplode over split tokens (generator/table function; aligned "
    "multi-unnest in the oracle).",
)
def q_explode_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_type", " ")).alias("pos", "tok"),
    ).withColumn("pos", F.col("pos").cast("int"))


# =====================================================================
# Scalar batteries, round 2
# =====================================================================

@_register(
    "string_battery2",
    """
    SELECT p_partkey,
           printf('%s-%03d', p_brand, p_size) AS brand_size,
           translate(p_name, 'aeiou', 'AEIOU') AS shouty,
           split_part(p_type, ' ', 1) AS type_head,
           repeat(p_brand, 2) AS brand_twice,
           reverse(p_brand) AS brand_rev,
           CAST(ascii(p_name) AS INT) AS first_cp,
           trim(BOTH 'aeiou' FROM p_name) AS name_trim,
           array_to_string(
             list_transform(string_split(p_name, ' '),
                            w -> upper(substr(w, 1, 1)) || substr(w, 2)), ' ')
             AS name_title
    FROM part
    """,
    doc="String battery 2: format_string/translate/split_part/repeat/"
    "reverse/ascii/btrim/initcap.",
)
def q_string_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    return p.select(
        "p_partkey",
        F.format_string("%s-%03d", F.col("p_brand"), F.col("p_size")).alias(
            "brand_size"
        ),
        F.translate("p_name", "aeiou", "AEIOU").alias("shouty"),
        F.expr("split_part(p_type, ' ', 1)").alias("type_head"),
        F.repeat(F.col("p_brand"), 2).alias("brand_twice"),
        F.reverse("p_brand").alias("brand_rev"),
        F.ascii("p_name").cast("int").alias("first_cp"),
        F.expr("trim(BOTH 'aeiou' FROM p_name)").alias("name_trim"),
        F.initcap("p_name").alias("name_title"),
    )


@_register(
    "date_battery2",
    """
    SELECT o_orderkey,
           (o_orderdate + INTERVAL 3 MONTH)::DATE AS plus_3m,
           last_day(o_orderdate)::DATE AS month_end,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           strftime(o_orderdate, '%Y-%m') AS year_month,
           (o_orderdate::DATE + to_days(CAST(
            CASE WHEN (8 - isodow(o_orderdate::DATE)) % 7 = 0 THEN 7
                 ELSE (8 - isodow(o_orderdate::DATE)) % 7 END AS INT)))::DATE
             AS next_monday
    FROM orders
    """,
    doc="Date battery 2: add_months, last_day, ISO week, dayofweek, "
    "date_format, next_day.",
)
def q_date_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).alias("plus_3m"),
        F.last_day("o_orderdate").alias("month_end"),
        F.weekofyear("o_orderdate").cast("int").alias("iso_week"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
        F.next_day("o_orderdate", "Mon").alias("next_monday"),
    )


@_register(
    "array_battery2",
    """
    SELECT p_partkey,
           array_to_string(range(1, least(p_size, 5) + 1), ',') AS seq_csv,
           CAST(list_sum(range(1, least(p_size, 5) + 1)) AS BIGINT) AS seq_sum,
           array_to_string(flatten([range(1, 3),
                                    range(1, least(p_size, 5) + 1)]), ',')
             AS flat_csv,
           array_to_string(
             list_transform(range(1, least(p_size, 5) + 1),
                            i -> i * len(string_split(p_type, ' '))), ',')
             AS scaled_csv,
           CAST(len(list_filter(string_split(p_type, ' '),
                                w -> length(w) > 5)) > 0 AS BOOLEAN) AS any_long,
           CAST(len(list_filter(string_split(p_type, ' '),
                                w -> length(w) > 2)) =
                len(string_split(p_type, ' ')) AS BOOLEAN) AS all_gt2,
           COALESCE(array_to_string(string_split(p_type, ' ')[2:], ','), '')
             AS tail_csv
    FROM part
    """,
    doc="Array battery 2: sequence, aggregate-fold, flatten, transform "
    "with outer reference, exists/forall, slice. Array results are "
    "CSV-rendered (driver canonicalizer cannot hash list cells).",
)
def q_array_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    seq = F.sequence(F.lit(1), F.least(F.col("p_size"), F.lit(5)))
    toks = F.split("p_type", " ")
    return p.select(
        "p_partkey",
        F.array_join(seq, ",").alias("seq_csv"),
        F.aggregate(
            seq, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("seq_sum"),
        F.array_join(
            F.flatten(F.array(F.sequence(F.lit(1), F.lit(2)), seq)), ","
        ).alias("flat_csv"),
        F.array_join(
            F.transform(seq, lambda i: i * F.size(toks)), ","
        ).alias("scaled_csv"),
        F.exists(toks, lambda w: F.length(w) > 5).alias("any_long"),
        F.forall(toks, lambda w: F.length(w) > 2).alias("all_gt2"),
        F.array_join(F.slice(toks, 2, 1000), ",").alias("tail_csv"),
    )


@_register(
    "map_battery2",
    """
    SELECT p_partkey,
           array_to_string(
             list_transform(
               list_sort(map_keys(map(['b','t'], [p_brand, p_type]))),
               k -> k || '=' ||
                    CASE WHEN k = 'b' THEN p_brand ELSE p_type END), ';')
             AS entries_csv,
           array_to_string(
             list_sort(list_transform(map_keys(map(['b','t'], [p_brand, p_type])),
                                      k -> upper(k))), ',') AS upper_keys,
           CAST(cardinality(map_concat(map(['b'], [p_brand]),
                                       map(['t'], [p_type]))) AS INT) AS n_concat
    FROM part
    """,
    doc="Map battery 2: transform_keys, map_entries rendered sorted, "
    "map_concat (maps hash unordered, so comparisons go through sorted "
    "string renderings).",
)
def q_map_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    m = F.create_map(
        F.lit("b"), F.col("p_brand"), F.lit("t"), F.col("p_type")
    )
    entries = F.transform(
        F.array_sort(F.map_keys(m)),
        lambda k: F.concat(k, F.lit("="), F.element_at(m, k)),
    )
    return p.select(
        "p_partkey",
        F.concat_ws(";", entries).alias("entries_csv"),
        F.concat_ws(
            ",",
            F.array_sort(F.map_keys(F.transform_keys(m, lambda k, v: F.upper(k)))),
        ).alias("upper_keys"),
        F.size(
            F.map_concat(
                F.create_map(F.lit("b"), F.col("p_brand")),
                F.create_map(F.lit("t"), F.col("p_type")),
            )
        )
        .cast("int")
        .alias("n_concat"),
    )


@_register(
    "cond_null_battery2",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(isnan(CAST(l_quantity AS DOUBLE) / nullif(l_discount, l_discount))
                IS NOT NULL
                AND isnan(CAST(l_quantity AS DOUBLE) / nullif(l_discount, l_discount))
                AS BOOLEAN) AS div_is_nan,
           COALESCE(NULLIF(l_returnflag, 'N'), l_linestatus) AS flag_fallback,
           CASE WHEN l_discount IS NULL THEN -1.0
                WHEN isnan(l_discount) THEN -2.0
                ELSE l_discount END AS nan_guarded,
           ifnull(NULLIF(l_linestatus, l_linestatus), 'MISSING') AS always_missing
    FROM lineitem
    """,
    doc="Conditional battery 2: isnan/nanvl-style guards, nvl/ifnull, "
    "nullif-to-null pipelines.",
)
def q_cond_null_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    nan_div = F.col("l_quantity").cast("double") / F.nullif(
        F.col("l_discount"), F.col("l_discount")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.isnan(nan_div).isNotNull() & F.isnan(nan_div)).alias("div_is_nan"),
        F.coalesce(
            F.nullif(F.col("l_returnflag"), F.lit("N")), F.col("l_linestatus")
        ).alias("flag_fallback"),
        F.when(F.col("l_discount").isNull(), -1.0)
        .when(F.isnan("l_discount"), -2.0)
        .otherwise(F.col("l_discount"))
        .alias("nan_guarded"),
        F.ifnull(
            F.nullif(F.col("l_linestatus"), F.col("l_linestatus")),
            F.lit("MISSING"),
        ).alias("always_missing"),
    )


# =====================================================================
# Streaming queries (real availableNow replay, SQL oracle)
# =====================================================================

def _events_stream_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events fixture as a stream-readable parquet dir
    (cached per (session, sf_dir))."""
    from spark_extensions_spark.session import scratch_dir

    cache = getattr(spark, "_sx_stream_cache", None)
    if cache is None:
        cache = {}
        spark._sx_stream_cache = cache
    if sf_dir not in cache:
        ev = _t(spark, sf_dir, "events")["events"]
        path = scratch_dir("events_stream_q_")
        ev.write.mode("overwrite").parquet(path)
        cache[sf_dir] = path
    return cache[sf_dir]


@_register(
    "streaming_window_agg",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS win_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="Structured Streaming tumbling-window aggregate executed via "
    "availableNow replay to a memory sink (update mode, single batch = "
    "complete snapshot) — oracle is the batch SQL twin.",
)
def q_streaming_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.streaming import (
        read_stream_parquet,
        run_available_now,
        windowed_aggregate,
    )

    stream = read_stream_parquet(spark, _events_stream_path(spark, sf_dir))
    return run_available_now(
        windowed_aggregate(
            stream,
            "ts",
            "1 hour",
            aggs=[F.count("*").alias("n_events")],
            keys=["event_type"],
            watermark_delay="1 hour",
        ),
        output_mode="update",
        state_partitions=8,
    )


@_register(
    "streaming_dedup",
    """
    SELECT DISTINCT user_id, event_type, ts FROM events
    """,
    doc="Streaming deduplication (dropDuplicates over key+event-time with "
    "watermark) via availableNow replay; oracle is batch DISTINCT.",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.streaming import (
        read_stream_parquet,
        run_available_now,
        streaming_dedup,
    )

    stream = read_stream_parquet(spark, _events_stream_path(spark, sf_dir))
    return run_available_now(
        streaming_dedup(
            stream.select("user_id", "event_type", "ts"),
            keys=["user_id", "event_type"],
            ts_col="ts",
            watermark_delay="1 hour",
        ),
        state_partitions=8,
    )


# =====================================================================
# Confluent codec as an oracle-checked query
# =====================================================================

@_register(
    "confluent_avro_roundtrip",
    """
    SELECT doc_id, lang, md5(text) AS text_md5 FROM documents
    """,
    doc="Confluent-framed Avro encode→decode roundtrip through the pandas "
    "UDF codec (confluent/avro.py); identity oracle proves bit-exact "
    "round-tripping on real data.",
)
def q_confluent_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.confluent import (
        InMemorySchemaRegistry,
        from_confluent_avro,
        to_confluent_avro,
    )

    docs = _t(spark, sf_dir, "documents")["documents"]
    client = InMemorySchemaRegistry()
    payload = docs.select(
        "doc_id", F.struct("doc_id", "lang", "text").alias("rec")
    )
    framed = payload.select(
        to_confluent_avro(
            payload, "rec", "docs", "value", client, update_allowed=True
        ).alias("msg")
    )
    return framed.select(
        from_confluent_avro("msg", "docs", "value", client).alias("d")
    ).select(
        F.col("d.doc_id").alias("doc_id"),
        F.col("d.lang").alias("lang"),
        F.md5(F.col("d.text").cast("binary")).alias("text_md5"),
    )


# =====================================================================
# Batch 3: analytic windows, subqueries, outer explode, PII, sessions
# =====================================================================

@_register(
    "window_analytic2",
    """
    SELECT o_custkey, o_orderkey,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           floor(PERCENT_RANK() OVER w * 1e8 + 5e-1) / 1e8 AS pct_rank,
           floor(CUME_DIST() OVER w * 1e8 + 5e-1) / 1e8 AS cume,
           CAST(NTH_VALUE(o_orderkey, 2) OVER
             (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS BIGINT) AS second_priciest
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    doc="Analytic windows round 2: ntile, percent_rank, cume_dist, "
    "nth_value over an unbounded frame.",
)
def q_window_analytic2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.functions.fixedpoint import fp_col

    o = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        fp_col(F.percent_rank().over(w), 8).alias("pct_rank"),
        fp_col(F.cume_dist().over(w), 8).alias("cume"),
        F.nth_value("o_orderkey", 2).over(w_full).cast("bigint").alias(
            "second_priciest"
        ),
    )


@_register(
    "subquery_battery",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice >
          (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                  / COUNT(*) FROM orders)
      AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
    """,
    doc="Subqueries: uncorrelated scalar (decimal-exact average) + IN "
    "list; Catalyst rewrites IN to a semi join and inlines the scalar.",
)
def q_subquery_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "customer")
    # temp views registered by load_tables make spark.sql available
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice >
              (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                      / COUNT(*) FROM orders)
          AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 0)
        """
    )


@_register(
    "explode_outer_battery",
    """
    SELECT p_partkey, tok FROM (
      SELECT p_partkey,
             unnest(CASE WHEN len(long_toks) = 0 THEN [NULL] ELSE long_toks END)
               AS tok
      FROM (SELECT p_partkey,
                   list_filter(string_split(p_type, ' '), w -> length(w) > 7)
                     AS long_toks
            FROM part)
    )
    """,
    doc="explode_outer: rows with empty arrays survive with a null "
    "(oracle pads empty lists with [NULL] before unnest).",
)
def q_explode_outer_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    long_toks = F.filter(F.split("p_type", " "), lambda w: F.length(w) > 7)
    return p.select(
        "p_partkey", F.explode_outer(long_toks).alias("tok")
    )


@_register(
    "text_pii",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(text,
             '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(text,
             '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS INT) AS n_ssn_like,
           CAST(len(regexp_extract_all(text,
             '[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}')) AS INT)
             AS n_cc_like,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) > 0
             OR len(regexp_extract_all(text, '[0-9]{3}-[0-9]{2}-[0-9]{4}')) > 0
             AS BOOLEAN) AS has_pii
    FROM documents
    """,
    doc="PII scrubbing battery: email/phone/SSN-like/CC-like regex counts "
    "and an aggregate flag (training-data hygiene pass; RE2/Java-common "
    "regex subset so Spark and the oracle agree).",
)
def q_text_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
    ssn = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
    cc = r"[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}"

    def n_matches(pat: str) -> F.Column:
        return F.size(F.expr(f"regexp_extract_all(text, '{pat}', 0)")).cast("int")

    return docs.select(
        "doc_id",
        n_matches(email).alias("n_emails"),
        n_matches(phone).alias("n_phones"),
        n_matches(ssn).alias("n_ssn_like"),
        n_matches(cc).alias("n_cc_like"),
        ((n_matches(email) > 0) | (n_matches(ssn) > 0)).alias("has_pii"),
    )


@_register(
    "session_gaps_islands",
    """
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS is_new
      FROM (SELECT DISTINCT user_id, ts FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS win_start,
           MAX(ts) + INTERVAL '30 minutes' AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
    doc="Batch session windows (F.session_window) checked against a "
    "gaps-and-islands SQL oracle — proves Spark's session semantics "
    "(window end = last event + gap) down to the row.",
)
def q_session_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.select("user_id", "ts")
        .distinct()
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "n_events",
        )
    )


@_register(
    "join_interval",
    """
    SELECT l.o_orderkey AS key_a, r.o_orderkey AS key_b
    FROM orders l JOIN orders r
      ON l.o_custkey = r.o_custkey
     AND l.o_orderdate <= r.o_orderdate + INTERVAL '30 days'
     AND r.o_orderdate <= l.o_orderdate + INTERVAL '30 days'
     AND l.o_orderkey <> r.o_orderkey
    """,
    doc="Interval-overlap join executed as an equi-join on (customer, "
    "31-day grain) via operators/joins.py:interval_join_binned — the "
    "skew-safe form. The previous plan (SMJ on the bare key, range as "
    "residual) concentrated a Zipf-hot customer's quadratic pair "
    "expansion on ONE task (215x on the round-9 skewed-sf1 audit); "
    "composing the grain into the join key spreads a hot key across "
    "its lifetime's grains with the identical pair output (exactly-"
    "once emission in the later-start grain). Output remains "
    "inherently pair-quadratic per (key, grain) — output-bound under "
    "skew, but parallel.",
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.joins import interval_join_binned

    o = _t(spark, sf_dir, "orders")["orders"]
    days = F.datediff(
        F.col("o_orderdate"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    l = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("key_a"),
        days.alias("ls"),
        (days + 30).alias("le"),
    )
    r = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("key_b"),
        days.alias("rs"),
        (days + 30).alias("re"),
    )
    # bin 61 ≈ 2x the 30-day span: measured best of {31, 61, 121} on
    # BOTH fixtures (uniform sf0.1 epoch-flat at 0.70s; skewed sf1
    # 48s vs 59s at 31) — wider bins halve the explosion factor, and
    # per-grain groups stay small enough that the extra residual
    # comparisons don't bite
    joined = interval_join_binned(
        l, r, "ls", "le", "rs", "re", bin_width=61, on="o_custkey"
    )
    return joined.filter(F.col("key_a") != F.col("key_b")).select(
        "key_a", "key_b"
    )


def _ann_ivf_oracle(n_lists: int = 16, n_probe: int = 4, k: int = 5) -> str:
    from spark_extensions_spark.queries import _cosine_duck
    from spark_extensions_spark.operators.similarity import lsh_quantize_duck

    dist = (
        "CAST(list_sum(list_transform(list_zip(e.qq, c.cq), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )
    return f"""
    WITH eq AS (
      SELECT vec_id, embedding,
             {lsh_quantize_duck('embedding')} AS qq
      FROM embeddings
    ), cent AS (
      SELECT list_id, cq FROM (
        SELECT ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
               qq AS cq
        FROM eq
      ) WHERE list_id < {n_lists}
    ), dists AS (
      SELECT e.vec_id, e.embedding, c.list_id, {dist} AS dist
      FROM eq e CROSS JOIN cent c
    ), assigned AS (
      SELECT vec_id, embedding, list_id FROM (
        SELECT vec_id, embedding, list_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, list_id) AS rn
        FROM dists
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, embedding AS qemb, list_id FROM (
        SELECT vec_id, embedding, list_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, list_id) AS rn
        FROM dists WHERE vec_id < 10
      ) WHERE rn <= {n_probe}
    ), s AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_cosine_duck('p.qemb', 'a.embedding', 64)} AS cosine
      FROM probes p JOIN assigned a USING (list_id)
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
             ) AS BIGINT) AS rank
      FROM s
    ) WHERE rank <= {k}
    """


@_register(
    "ann_ivf",
    _ann_ivf_oracle(),
    doc="IVF-flat approximate top-k, DETERMINISTIC variant "
    "(operators/similarity.py:ann_ivf_topk_det; Jégou et al. 2011): "
    "md5-picked fixed-point codebook + exact int64 squared-L2 "
    "assignment make list membership bit-reproducible on any engine, "
    "so the whole approximate query is hash-checked against the SQL "
    "oracle (was rows-only with float argmax assignment). Assignment "
    "is row-local codegen; the probed query side broadcast-joins into "
    "an unshuffled corpus — the partitioned ANN shape for corpus "
    "sizes past broadcast range.",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.similarity import ann_ivf_topk_det

    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_ivf_topk_det(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding",
        k=5, dim=64, n_lists=16, n_probe=4,
    )


@_register(
    "join_asof_forward_tol",
    """
    SELECT event_id, user_id, ts, next_click_id FROM (
      SELECT e.event_id, e.user_id, e.ts,
             CASE WHEN c.ts <= e.ts + INTERVAL '2 hours'
                  THEN c.event_id END AS next_click_id,
             ROW_NUMBER() OVER (PARTITION BY e.event_id
                                ORDER BY c.ts ASC, c.event_id ASC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'error') e
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = e.user_id AND c.ts >= e.ts
    ) WHERE rn = 1
    """,
    doc="Forward as-of join with tolerance: earliest click at-or-after "
    "each error, nulled past 2 hours (operators/joins.py:asof_join "
    "direction='forward'); oracle mirrors with a ranked range join.",
)
def q_join_asof_forward_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        errors,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="ts",
        right_values=["event_id"],
        right_tiebreak="event_id",
        direction="forward",
        tolerance=F.expr("INTERVAL 2 HOURS"),
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("event_id_right").alias("next_click_id"),
    )


@_register(
    "join_salted",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderpriority
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_quantity > 48
    """,
    doc="Salted equi-join (operators/joins.py:salted_join): identical "
    "result to the plain join — the oracle IS the plain join — while the "
    "physical plan splits each key into n_salts shuffle buckets "
    "(extreme-skew mitigation).",
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.joins import salted_join

    t = _t(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].filter(F.col("l_quantity") > 48).select(
        "l_orderkey", "l_linenumber"
    )
    o = t["orders"].select("o_orderkey", "o_orderpriority")
    out = salted_join(
        li.withColumnRenamed("l_orderkey", "k"),
        o.withColumnRenamed("o_orderkey", "k"),
        on="k",
        n_salts=8,
    )
    return out.select(
        F.col("k").alias("l_orderkey"), "l_linenumber", "o_orderpriority"
    )


@_register(
    "pipeline_clean_corpus",
    r"""
    WITH scored AS (
      SELECT doc_id, text, lang,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       / CAST(length(text) AS DOUBLE) END AS alpha_ratio
      FROM documents
    ), kept AS (
      SELECT * FROM scored WHERE n_words >= 10 AND alpha_ratio >= 0.5
    ), canonical AS (
      SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id
      FROM kept GROUP BY md5(text)
    )
    SELECT k.doc_id, k.lang, CAST(k.n_words AS INT) AS n_words
    FROM kept k JOIN canonical c ON k.doc_id = c.keep_id
    """,
    doc="Composite training-data pipeline: quality filter (word count + "
    "alpha ratio) -> exact dedup keep-min -> surviving corpus. One scan, "
    "one agg shuffle, one semi-join-shaped join; the operator-composition "
    "showcase.",
)
def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")["documents"]
    scored = docs.select(
        "doc_id",
        "text",
        "lang",
        F.expr("size(regexp_extract_all(lower(text), '[a-z0-9]+', 0))").alias(
            "n_words"
        ),
        F.expr(
            "case when length(text) = 0 then 0.0d else "
            "length(regexp_replace(text, '[^A-Za-z]', '')) / "
            "cast(length(text) as double) end"
        ).alias("alpha_ratio"),
    )
    kept = scored.filter((F.col("n_words") >= 10) & (F.col("alpha_ratio") >= 0.5))
    canonical = exact_dedup(kept, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    return kept.join(canonical, "doc_id").select(
        "doc_id", "lang", F.col("n_words").cast("int").alias("n_words")
    )


@_register(
    "window_range_frame",
    """
    SELECT o_custkey, o_orderkey, day_n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY day_n
             RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS spend_90d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY day_n, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS DOUBLE)
             AS spend_nearby
    FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 CAST(epoch(o_orderdate) / 86400 AS BIGINT) AS day_n
          FROM orders)
    """,
    doc="Window frames: value-based RANGE BETWEEN 90 PRECEDING (trailing "
    "90-day spend) and bounded ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING; "
    "decimal accumulation keeps both frames order-exact. Round-9 Zipf "
    "audit note: the hot-customer inflation is 3.8x (frame cost grows "
    "with per-key density — data, not plan); a per-day partial-sum + "
    "join-back rewrite was MEASURED SLOWER on both fixtures (the extra "
    "shuffle/join exceeds the frame savings at this density) and "
    "reverted — the sliding range frame is the right plan here.",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    base = o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        (F.unix_timestamp("o_orderdate") / 86400).cast("bigint").alias("day_n"),
    )
    w_range = (
        Window.partitionBy("o_custkey")
        .orderBy("day_n")
        .rangeBetween(-90, Window.currentRow)
    )
    w_rows = (
        Window.partitionBy("o_custkey")
        .orderBy("day_n", "o_orderkey")
        .rowsBetween(-2, 1)
    )
    dec_price = F.col("o_totalprice").cast("decimal(18,4)")
    return base.select(
        "o_custkey",
        "o_orderkey",
        "day_n",
        F.sum(dec_price).over(w_range).cast("double").alias("spend_90d"),
        F.sum(dec_price).over(w_rows).cast("double").alias("spend_nearby"),
    )


# =====================================================================
# Batch 5: deep analytical shapes (multi-join, funnel, corpus stats)
# =====================================================================

@_register(
    "analytic_revenue_by_nation",
    f"""
    SELECT n.n_name,
           {dsum_duck('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1994-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-shaped 6-table join: fact-fact join on orderkey, three "
    "broadcast dims (supplier/nation/region under the 64MB threshold), "
    "filters pushed below every join; Catalyst + AQE pick the order.",
)
def q_analytic_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    r = t["region"].filter(F.col("r_name") == "ASIA")
    return (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            dsum("l_extendedprice * (1 - l_discount)").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "analytic_returned_customers",
    f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {dsum_duck('l.l_extendedprice * (1 - l.l_discount)', 'lost_revenue')}
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10-shaped returned-item ranking: 4-table join, aggregate, "
    "deterministic top-20 (TakeOrderedAndProject over the agg).",
)
def q_analytic_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(
            t["lineitem"].filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)").alias("lost_revenue"))
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_register(
    "analytic_funnel",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_view) AS BIGINT) AS n_viewed,
           CAST(COUNT(CASE WHEN t_click > t_view THEN 1 END) AS BIGINT)
             AS n_clicked_after_view,
           CAST(COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view
                           THEN 1 END) AS BIGINT) AS n_full_funnel
    FROM firsts
    """,
    doc="Event funnel: per-user first-touch times via conditional MIN "
    "(one shuffle), ordered-stage conversion counts — the standard "
    "product-analytics query shape.",
)
def q_analytic_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    first_of = lambda et: F.min(
        F.when(F.col("event_type") == et, F.col("ts"))
    )
    firsts = ev.groupBy("user_id").agg(
        first_of("view").alias("t_view"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias(
            "n_clicked_after_view"
        ),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("n_full_funnel"),
    )


@_register(
    "text_top_ngrams",
    """
    SELECT gram, n_docs, total FROM (
      SELECT gram,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS total,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, gram) AS rn
      FROM (
        SELECT doc_id,
               unnest(CASE WHEN len(ws) < 2 THEN []
                           ELSE list_transform(generate_series(0, len(ws) - 2),
                                               i -> array_to_string(ws[i+1:i+2], ' '))
                      END) AS gram
        FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
              FROM documents)
      ) GROUP BY gram
    ) WHERE rn <= 50
    """,
    doc="Corpus bigram frequency top-50: explode word 2-grams, one "
    "count shuffle, deterministic tiebroken top-k — the vocabulary/"
    "contamination-analysis primitive for training corpora.",
)
def q_text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.dedup import shingles_from_words

    from spark_extensions_spark.session import ensure_parallelism

    # the regexp+shingle explode runs in the one-row-group scan's
    # single task (measured 3.1 s) — widen first (no-op at scale)
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")["documents"])
    words = docs.select(
        "doc_id",
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)").alias("__words"),
    )
    grams = words.select(
        "doc_id", F.explode(shingles_from_words("__words", 2)).alias("gram")
    )
    counted = grams.groupBy("gram").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("total"),
    )
    return (
        counted.orderBy(F.col("total").desc(), F.col("gram"))
        .limit(50)
        .select("gram", "n_docs", "total")
    )


# batch-6 queries register themselves into the shared registry on import
from spark_extensions_spark import queries3  # noqa: E402,F401  (registration side effect)
