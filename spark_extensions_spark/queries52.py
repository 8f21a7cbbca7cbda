"""t2 query registry, batch 52 (round 10): TPC-H Q1-Q22 as first-class
registry rows (VERDICT r9 #3).

The fixtures are reduced TPC-H (TESTDATA.md): no ``partsupp`` table and
no comment/phone/address/shipmode/commit-receipt-date columns. Each
query keeps the REFERENCE SHAPE — the join graph, subquery/decorrelation
pattern, aggregation and top-k structure of the official TPC-H query —
with documented column substitutions:

- **derived partsupp** (``_ps``): supply cost := min observed unit
  price in integer cents (``floor(l_extendedprice*100/l_quantity)`` —
  floor of identical IEEE double ops, exact in both engines), availqty
  := total shipped quantity (exact BIGINT). Used by Q2/Q9/Q11/Q16/Q20.
- **late-shipment proxy** (Q4/Q12/Q21): ``l_receiptdate >
  l_commitdate`` becomes ``l_shipdate > o_orderdate + 60 days``.
- **shipmode** (Q12): derived two-class ``l_linenumber`` parity.
- **country code** (Q22): ``c_nationkey % 10`` for the phone prefix.
- **mfgr/container/comment filters**: nearest available column
  (p_brand for p_mfgr, p_size buckets for p_container,
  o_orderpriority for the Q13 comment filter, s_acctbal<0 for the Q16
  complaints filter). Dates shift to the fixture's 1995-2001 range.

Determinism follows the queries.py header rules: decimal-exact sums
(dsum/davg), per-row double arithmetic written identically on both
sides, unique tiebreaks under every LIMIT. Scale notes per query:
dimension joins broadcast (region/nation, and scalar thresholds as
1-row broadcasts); fact-fact joins shuffle on their keys with AQE;
correlated subqueries are decorrelated into aggregate+join exactly as
Catalyst would, so the 100 TB plan is explicit (no nested-loop
subquery execution).

Reference scope note: the reference library inherits its SQL surface
from Spark (pom.xml provided-scope deps); these rows pin the inherited
relational surface end-to-end against an independent engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import (
    _register,
    _t,
    davg,
    davg_duck,
    dsum,
    dsum_duck,
)

# Derived partsupp (see module docstring). The WHERE l_quantity > 0
# guard is defensive only (fixture min quantity is 1).
_PS_CTE = """
  ps AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           CAST(MIN(CAST(FLOOR(l_extendedprice * 100.0 / l_quantity) AS BIGINT)) AS BIGINT) AS ps_supplycost_c,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_availqty
    FROM lineitem
    WHERE l_quantity > 0
    GROUP BY l_partkey, l_suppkey
  )
"""


def _ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_quantity") > 0)
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.expr(
                "cast(min(cast(floor(l_extendedprice * 100.0 / l_quantity)"
                " as bigint)) as bigint)"
            ).alias("ps_supplycost_c"),
            F.expr("cast(sum(cast(l_quantity as bigint)) as bigint)").alias(
                "ps_availqty"
            ),
        )
    )


def _ts(s: str) -> F.Column:
    return F.lit(s).cast("timestamp")


# =====================================================================
# Q1 — pricing summary report (full column set; the flagship
# agg_pricing_summary is the reduced-shape sibling)
# =====================================================================

@_register(
    "tpch_q01",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_duck('l_quantity', 'sum_qty')},
           {dsum_duck('l_extendedprice', 'sum_base_price')},
           {dsum_duck('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
           {davg_duck('l_quantity', 'avg_qty')},
           {davg_duck('l_extendedprice', 'avg_price')},
           {davg_duck('l_discount', 'avg_disc')},
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1: one-pass hash aggregate, map-side partials, "
    "decimal-exact money sums.",
)
def q_tpch_q01(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(F.col("l_shipdate") <= _ts("2000-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum("l_extendedprice * (1 - l_discount)").alias("sum_disc_price"),
            # 3-factor money product carries 6 decimals — cast at scale
            # 6 so neither engine rounds a .xxxx50 tie at scale 4
            # (Spark HALF_UP vs DuckDB half-even would diverge)
            F.expr(
                "cast(round(sum(cast(l_extendedprice * (1 - l_discount)"
                " * (1 + l_tax) as decimal(18,6))), 2) as double)"
            ).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# =====================================================================
# Q2 — minimum-cost supplier (correlated scalar MIN subquery,
# decorrelated into a per-part aggregate joined back)
# =====================================================================

@_register(
    "tpch_q02",
    f"""
    WITH {_PS_CTE}
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand
    FROM part p
    JOIN ps ON ps.ps_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD' AND r.r_name = 'EUROPE'
      AND ps.ps_supplycost_c = (
        SELECT MIN(ps2.ps_supplycost_c)
        FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape: correlated scalar-min subquery decorrelated "
    "into a regional min-cost aggregate joined on p_partkey; "
    "region/nation broadcast.",
)
def q_tpch_q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "part", "supplier", "nation", "region")
    ps = _ps(spark, sf_dir)
    eu_supp = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"]),
            t["supplier"].s_nationkey == t["nation"].n_nationkey,
        )
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    eu_ps = ps.join(
        eu_supp.select("s_suppkey", "s_name", "s_acctbal", "n_name"),
        ps.ps_suppkey == F.col("s_suppkey"),
    )
    min_cost = eu_ps.groupBy(
        F.col("ps_partkey").alias("mc_partkey")
    ).agg(F.min("ps_supplycost_c").alias("min_cost_c"))
    parts = t["part"].filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    return (
        parts.join(eu_ps, parts.p_partkey == eu_ps.ps_partkey)
        .join(
            min_cost,
            (F.col("p_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost_c") == F.col("min_cost_c")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand")
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# =====================================================================
# Q3 — shipping priority (o_shippriority -> o_orderpriority)
# =====================================================================

@_register(
    "tpch_q03",
    f"""
    SELECT l.l_orderkey,
           {dsum_duck('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1996-03-15'
      AND l.l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3: segment filter pushed to the customer scan, "
    "top-10 via TakeOrderedAndProject with unique orderkey tiebreak.",
)
def q_tpch_q03(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(
            t["orders"].filter(F.col("o_orderdate") < _ts("1996-03-15")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            t["lineitem"].filter(F.col("l_shipdate") > _ts("1996-03-15")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum("l_extendedprice * (1 - l_discount)").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# =====================================================================
# Q4 — order priority checking (EXISTS -> left-semi join;
# late-shipment proxy)
# =====================================================================

@_register(
    "tpch_q04",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="TPC-H Q4: EXISTS decorrelated to a left-semi join on "
    "l_orderkey with the late-ship residual predicate.",
)
def q_tpch_q04(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "lineitem")
    o = t["orders"].filter(
        (F.col("o_orderdate") >= _ts("1996-07-01"))
        & (F.col("o_orderdate") < _ts("1996-10-01"))
    )
    li = t["lineitem"]
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (
                li.l_shipdate
                > F.expr("o_orderdate + interval 60 days")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


# =====================================================================
# Q5 — local supplier volume
# =====================================================================

@_register(
    "tpch_q05",
    f"""
    SELECT n.n_name,
           {dsum_duck('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5: the local-supplier join (c_nationkey = s_nationkey "
    "inside the supplier join) with region/nation broadcast.",
)
def q_tpch_q05(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    return (
        t["customer"]
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") < _ts("1997-01-01"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


# =====================================================================
# Q6 — forecasting revenue change (pure scan-filter-agg)
# =====================================================================

@_register(
    "tpch_q06",
    f"""
    SELECT {dsum_duck('l_extendedprice * l_discount', 'revenue')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6: all four predicates push to the parquet scan; "
    "single global decimal-exact aggregate.",
)
def q_tpch_q06(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum("l_extendedprice * l_discount").alias("revenue"))
    )


# =====================================================================
# Q7 — volume shipping between two nations
# =====================================================================

@_register(
    "tpch_q07",
    f"""
    SELECT supp_nation, cust_nation, l_year, {dsum_duck('volume', 'revenue')}
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(YEAR(l.l_shipdate) AS INTEGER) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate <= TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7: two-nation disjunctive filter over broadcast "
    "nation aliases n1/n2; year extracted post-join.",
)
def q_tpch_q07(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer",
        "nation",
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        t["supplier"]
        .join(
            t["lineitem"].filter(
                (F.col("l_shipdate") >= _ts("1996-01-01"))
                & (F.col("l_shipdate") <= _ts("1997-12-31"))
            ),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            ),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum("volume").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# =====================================================================
# Q8 — national market share (conditional share of decimal sums)
# =====================================================================

_Q8_SHARE = (
    "round(cast(sum(case when nation = 'NATION_1' then "
    "cast(volume as decimal(18,4)) else cast(0 as decimal(18,4)) end) "
    "as double) / cast(sum(cast(volume as decimal(18,4))) as double), 6)"
)


@_register(
    "tpch_q08",
    f"""
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_1' THEN CAST(volume AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate <= TIMESTAMP '1997-12-31'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    doc="TPC-H Q8: eight-way join, market share as a ratio of "
    "decimal-exact conditional sums.",
)
def q_tpch_q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(
        spark, sf_dir, "part", "lineitem", "supplier", "orders",
        "customer", "nation", "region",
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rk")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    return (
        t["part"]
        .filter(F.col("p_type") == "ECONOMY")
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-01-01"))
                & (F.col("o_orderdate") <= _ts("1997-12-31"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "AMERICA")),
            F.col("n1_rk") == F.col("r_regionkey"),
        )
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "volume"
            ),
            "nation",
        )
        .groupBy("o_year")
        .agg(F.expr(_Q8_SHARE).alias("mkt_share"))
        .orderBy("o_year")
    )


# =====================================================================
# Q9 — product type profit (derived supply cost)
# =====================================================================

@_register(
    "tpch_q09",
    f"""
    WITH {_PS_CTE}
    SELECT nation, o_year, {dsum_duck('amount', 'sum_profit')}
    FROM (
      SELECT n.n_name AS nation,
             CAST(YEAR(o.o_orderdate) AS INTEGER) AS o_year,
             l.l_extendedprice * (1 - l.l_discount)
               - ps.ps_supplycost_c / 100.0 * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN ps ON ps.ps_suppkey = l.l_suppkey AND ps.ps_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE p.p_name LIKE '%bolt%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
    doc="TPC-H Q9: profit = revenue - derived supply cost; the ps "
    "aggregate joins back to lineitem on (partkey, suppkey).",
)
def q_tpch_q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(
        spark, sf_dir, "part", "lineitem", "supplier", "orders", "nation"
    )
    ps = _ps(spark, sf_dir)
    return (
        t["part"]
        .filter(F.col("p_name").like("%bolt%"))
        .join(t["lineitem"], F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            ps,
            (F.col("ps_suppkey") == F.col("l_suppkey"))
            & (F.col("ps_partkey") == F.col("l_partkey")),
        )
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            F.expr(
                "l_extendedprice * (1 - l_discount)"
                " - ps_supplycost_c / 100.0 * l_quantity"
            ).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


# =====================================================================
# Q10 — returned item reporting
# =====================================================================

@_register(
    "tpch_q10",
    f"""
    SELECT c.c_custkey, c.c_name,
           {dsum_duck('l.l_extendedprice * (1 - l.l_discount)', 'revenue')},
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10: returned-lineitem top-20 customers; returnflag "
    "and date predicates push to the scans.",
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    return (
        t["customer"]
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= _ts("1996-10-01"))
                & (F.col("o_orderdate") < _ts("1997-01-01"))
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            t["lineitem"].filter(F.col("l_returnflag") == "R"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# =====================================================================
# Q11 — important stock identification (HAVING vs global scalar,
# broadcast 1-row threshold; exact integer value arithmetic)
# =====================================================================

@_register(
    "tpch_q11",
    f"""
    WITH {_PS_CTE}
    SELECT ps.ps_partkey,
           CAST(SUM(ps.ps_supplycost_c * ps.ps_availqty) AS BIGINT) AS value_c
    FROM ps
    JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_7'
    GROUP BY ps.ps_partkey
    HAVING CAST(SUM(ps.ps_supplycost_c * ps.ps_availqty) AS BIGINT) * 1000 > (
      SELECT CAST(SUM(ps2.ps_supplycost_c * ps2.ps_availqty) AS BIGINT)
      FROM ps ps2
      JOIN supplier s2 ON ps2.ps_suppkey = s2.s_suppkey
      JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      WHERE n2.n_name = 'NATION_7')
    ORDER BY value_c DESC, ps_partkey
    """,
    doc="TPC-H Q11: per-part value vs a global-total scalar, compared "
    "in exact BIGINT (value*1000 > total) — no FP fraction; the "
    "1-row total broadcasts.",
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "supplier", "nation")
    ps = _ps(spark, sf_dir)
    nat_ps = (
        ps.join(t["supplier"], ps.ps_suppkey == F.col("s_suppkey"))
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_7")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("ps_partkey", "ps_supplycost_c", "ps_availqty")
    )
    per_part = nat_ps.groupBy("ps_partkey").agg(
        F.expr(
            "cast(sum(ps_supplycost_c * ps_availqty) as bigint)"
        ).alias("value_c")
    )
    total = nat_ps.agg(
        F.expr(
            "cast(sum(ps_supplycost_c * ps_availqty) as bigint)"
        ).alias("total_c")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_c") * 1000 > F.col("total_c"))
        .select("ps_partkey", "value_c")
        .orderBy(F.col("value_c").desc(), "ps_partkey")
    )


# =====================================================================
# Q12 — shipping modes and order priority (derived shipmode,
# late-window proxy)
# =====================================================================

@_register(
    "tpch_q12",
    """
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (
      SELECT l_orderkey, l_shipdate,
             CASE WHEN l_linenumber % 2 = 0 THEN 'MAIL' ELSE 'SHIP' END AS l_shipmode
      FROM lineitem) l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND l.l_shipdate <= o.o_orderdate + INTERVAL 120 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_shipmode
    ORDER BY l_shipmode
    """,
    doc="TPC-H Q12 shape: conditional priority counts per (derived) "
    "ship mode inside a late-shipment window.",
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].select(
        "l_orderkey",
        "l_shipdate",
        F.expr(
            "case when l_linenumber % 2 = 0 then 'MAIL' else 'SHIP' end"
        ).alias("l_shipmode"),
    ).filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    return (
        li.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            (F.col("l_shipdate") > F.expr("o_orderdate + interval 60 days"))
            & (
                F.col("l_shipdate")
                <= F.expr("o_orderdate + interval 120 days")
            )
        )
        .groupBy("l_shipmode")
        .agg(
            F.expr(
                "cast(sum(case when o_orderpriority in ('1-URGENT', '2-HIGH')"
                " then 1 else 0 end) as bigint)"
            ).alias("high_line_count"),
            F.expr(
                "cast(sum(case when o_orderpriority not in "
                "('1-URGENT', '2-HIGH') then 1 else 0 end) as bigint)"
            ).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


# =====================================================================
# Q13 — customer order-count distribution (left join + double group)
# =====================================================================

@_register(
    "tpch_q13",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13: left join keeping order-less customers (the "
    "comment filter becomes an orderpriority filter inside ON), then "
    "the distribution re-aggregate.",
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    o = t["orders"].filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
    return (
        t["customer"]
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# =====================================================================
# Q14 — promotion effect (ratio of conditional decimal sums)
# =====================================================================

_Q14_SHARE = (
    "round(100.0 * cast(sum(case when p_type = 'PROMO' then "
    "cast(l_extendedprice * (1 - l_discount) as decimal(18,4)) else "
    "cast(0 as decimal(18,4)) end) as double) / "
    "cast(sum(cast(l_extendedprice * (1 - l_discount) as decimal(18,4)))"
    " as double), 6)"
)


@_register(
    "tpch_q14",
    """
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """,
    doc="TPC-H Q14: promo share of revenue in a month window.",
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-09-01"))
            & (F.col("l_shipdate") < _ts("1996-10-01"))
        )
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .agg(F.expr(_Q14_SHARE).alias("promo_revenue"))
    )


# =====================================================================
# Q15 — top supplier (view-over-agg max selection)
# =====================================================================

@_register(
    "tpch_q15",
    f"""
    WITH revenue0 AS (
      SELECT l_suppkey AS supplier_no,
             {dsum_duck('l_extendedprice * (1 - l_discount)', 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue0 r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue0)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15: revenue view reused for both the per-supplier rows "
    "and the scalar max (1-row broadcast); decimal-exact revenue makes "
    "the = comparison safe.",
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "supplier")
    revenue0 = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum("l_extendedprice * (1 - l_discount)").alias("total_revenue"))
        .localCheckpoint(eager=False)
    )
    mx = revenue0.agg(F.max("total_revenue").alias("mx"))
    return (
        t["supplier"]
        .join(revenue0, F.col("s_suppkey") == F.col("supplier_no"))
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# =====================================================================
# Q16 — parts/supplier relationship (NOT IN -> anti join,
# count distinct suppliers)
# =====================================================================

@_register(
    "tpch_q16",
    f"""
    WITH {_PS_CTE}
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_type <> 'LARGE'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.ps_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape: NOT IN over a non-null key -> left-anti "
    "join (the complaints filter becomes s_acctbal < 0); distinct "
    "supplier count per brand/type/size.",
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "part", "supplier")
    ps = _ps(spark, sf_dir)
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = t["part"].filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "LARGE")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    return (
        ps.join(
            F.broadcast(bad),
            ps.ps_suppkey == bad.s_suppkey,
            "left_anti",
        )
        .join(p, F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
    )


# =====================================================================
# Q17 — small-quantity-order revenue (correlated scalar AVG,
# decorrelated into a per-part threshold join)
# =====================================================================

@_register(
    "tpch_q17",
    """
    SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND p.p_size <= 10
      AND l.l_quantity < 0.2 * (
        SELECT ROUND(CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6)
        FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
    """,
    doc="TPC-H Q17: correlated scalar-avg subquery decorrelated into "
    "a per-part decimal-exact avg joined on p_partkey (the container "
    "filter becomes p_size <= 10).",
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    li = t["lineitem"]
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.expr(
            "round(cast(sum(cast(l_quantity as decimal(18,4))) as double)"
            " / count(*), 6)"
        ).alias("avg_qty")
    )
    p = t["part"].filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 10)
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(thresholds, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.expr(
                "round(cast(sum(cast(l_extendedprice as decimal(18,4)))"
                " as double) / 7, 2)"
            ).alias("avg_yearly")
        )
    )


# =====================================================================
# Q18 — large volume customers (IN over HAVING -> semi join)
# =====================================================================

@_register(
    "tpch_q18",
    f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {dsum_duck('l.l_quantity', 'sum_qty')}
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS BIGINT)) > 300)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18: IN over an aggregate-HAVING subquery -> left-semi "
    "join on o_orderkey; exact integer quantity threshold.",
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    li = t["lineitem"]
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr("sum(cast(l_quantity as bigint))").alias("q"))
        .filter(F.col("q") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(
            big, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi"
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(dsum("l_quantity").alias("sum_qty"))
        .orderBy(
            F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey"
        )
        .limit(100)
    )


# =====================================================================
# Q19 — discounted revenue (disjunctive OR-of-ANDs join predicate)
# =====================================================================

@_register(
    "tpch_q19",
    f"""
    SELECT {dsum_duck('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    doc="TPC-H Q19 shape: three OR-of-AND brackets across the "
    "part-lineitem join (container/shipmode brackets become "
    "brand/size/quantity brackets).",
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part")
    j = t["lineitem"].join(
        t["part"], F.col("p_partkey") == F.col("l_partkey")
    )
    b1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 5)
        & (F.col("l_quantity") >= 1)
        & (F.col("l_quantity") <= 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 10)
        & (F.col("l_quantity") >= 10)
        & (F.col("l_quantity") <= 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 20)
        & (F.col("l_quantity") <= 30)
    )
    return j.filter(b1 | b2 | b3).agg(
        dsum("l_extendedprice * (1 - l_discount)").alias("revenue")
    )


# =====================================================================
# Q20 — potential part promotion (nested IN over aggregates,
# decorrelated into semi-join chain)
# =====================================================================

@_register(
    "tpch_q20",
    f"""
    WITH {_PS_CTE}
    SELECT s.s_name, s.s_suppkey
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_4'
      AND s.s_suppkey IN (
        SELECT ps.ps_suppkey FROM ps
        WHERE ps.ps_partkey IN (
          SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND ps.ps_availqty * 2 > (
            SELECT CAST(COALESCE(SUM(CAST(l.l_quantity AS BIGINT)), 0) AS BIGINT)
            FROM lineitem l
            WHERE l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
              AND l.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l.l_shipdate < TIMESTAMP '1997-01-01'))
    ORDER BY s_name, s_suppkey
    """,
    doc="TPC-H Q20: nested IN over a correlated shipped-quantity "
    "aggregate — decorrelated into part-semi + shipped-agg left join "
    "+ supplier semi; exact integer 2*availqty > shipped comparison.",
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "supplier", "nation", "part", "lineitem")
    ps = _ps(spark, sf_dir)
    red_parts = t["part"].filter(F.col("p_name").like("red%")).select(
        "p_partkey"
    )
    shipped = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .groupBy(
            F.col("l_partkey").alias("sh_partkey"),
            F.col("l_suppkey").alias("sh_suppkey"),
        )
        .agg(F.expr("cast(sum(cast(l_quantity as bigint)) as bigint)").alias("sh_qty"))
    )
    qualified = (
        ps.join(
            red_parts, ps.ps_partkey == red_parts.p_partkey, "left_semi"
        )
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("sh_partkey"))
            & (F.col("ps_suppkey") == F.col("sh_suppkey")),
            "left",
        )
        .filter(
            F.col("ps_availqty") * 2
            > F.coalesce(F.col("sh_qty"), F.lit(0))
        )
        .select("ps_suppkey")
    )
    return (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_4")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            qualified, F.col("s_suppkey") == qualified.ps_suppkey, "left_semi"
        )
        .select("s_name", "s_suppkey")
        .orderBy("s_name", "s_suppkey")
    )


# =====================================================================
# Q21 — suppliers who kept orders waiting (EXISTS + NOT EXISTS,
# decorrelated into per-order supplier-set aggregates)
# =====================================================================

@_register(
    "tpch_q21",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND n.n_name = 'NATION_2'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    doc="TPC-H Q21: the EXISTS pair decorrelates into per-order "
    "supplier-set aggregates — multi-supplier orders whose ONLY late "
    "supplier is l1's (distinct-supplier count > 1, distinct-late "
    "count == 1). One aggregate over lineitem replaces two correlated "
    "scans; identical result set.",
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "supplier", "lineitem", "orders", "nation")
    o = t["orders"].filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    # per (order, supplier): any-late flag, against the F-order set
    per_supp = (
        t["lineitem"]
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.expr("o_orderdate + interval 60 days")
                ).cast("int")
            ).alias("late")
        )
        .localCheckpoint(eager=False)
    )
    per_order = per_supp.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.count("*").alias("n_supp"),
        F.sum("late").alias("n_late_supp"),
    )
    waiting = (
        per_supp.filter(F.col("late") == 1)
        .join(
            per_order,
            (F.col("l_orderkey") == F.col("po_orderkey"))
            & (F.col("n_supp") > 1)
            & (F.col("n_late_supp") == 1),
        )
        .select("l_suppkey")
    )
    return (
        waiting.join(
            t["supplier"], F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_2")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


# =====================================================================
# Q22 — global sales opportunity (anti join + scalar-avg subquery;
# country code from nationkey)
# =====================================================================

@_register(
    "tpch_q22",
    """
    WITH pos AS (
      SELECT CAST(c_nationkey % 10 AS VARCHAR) AS cntrycode, c_custkey, c_acctbal
      FROM customer
      WHERE CAST(c_nationkey % 10 AS VARCHAR) IN ('1', '3', '5', '7', '9')),
    avg_bal AS (
      SELECT ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS t
      FROM pos WHERE c_acctbal > 0.0)
    SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS totacctbal
    FROM pos, avg_bal
    WHERE c_acctbal > avg_bal.t
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = pos.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    doc="TPC-H Q22: scalar-avg threshold (1-row broadcast) + "
    "left-anti join against recent orders (every fixture customer has "
    "SOME order, so the window keeps the anti join non-degenerate).",
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    pos = (
        t["customer"]
        .select(
            F.expr("cast(c_nationkey % 10 as string)").alias("cntrycode"),
            "c_custkey",
            "c_acctbal",
        )
        .filter(F.col("cntrycode").isin("1", "3", "5", "7", "9"))
    )
    avg_bal = pos.filter(F.col("c_acctbal") > 0.0).agg(
        F.expr(
            "round(cast(sum(cast(c_acctbal as decimal(18,4))) as double)"
            " / count(*), 6)"
        ).alias("t")
    )
    recent = t["orders"].filter(
        F.col("o_orderdate") >= _ts("1999-01-01")
    ).select("o_custkey")
    return (
        pos.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("t"))
        .join(recent, pos.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.expr(
                "cast(round(sum(cast(c_acctbal as decimal(18,4))), 2)"
                " as double)"
            ).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# =====================================================================
# ANN index store serving path (round 10): the crash-safe versioned
# store (operators/ann_store.py) oracle-checked end-to-end — publish
# the full corpus, read the CURRENT manifest back, serve top-k.
# Results are identical to the inline det-IVF by construction (same
# codebook trainer, same assignment exprs, parquet float roundtrip is
# exact), so it shares ann_ivf's oracle.
# =====================================================================

def _ann_ivf_store_oracle() -> str:
    from spark_extensions_spark.queries2 import _ann_ivf_oracle

    return _ann_ivf_oracle()


@_register(
    "ann_ivf_store_served",
    _ann_ivf_store_oracle(),
    doc="Serving reads through the versioned ANN index store "
    "(operators/ann_store.py: publish_base -> _CURRENT manifest -> "
    "read_index + serving_codebook -> ann_ivf_query_index): the "
    "store's publish/read path is hash-checked against the inline "
    "det-IVF oracle, complementing the crash-boundary fault tests "
    "(test_ann_store_faults.py). Probe-side broadcast join on "
    "list_id-partitioned immutable segments — no corpus Exchange.",
)
def q_ann_ivf_store_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.session import scratch_dir

    from spark_extensions_spark.operators import ann_store as st
    from spark_extensions_spark.operators.similarity import (
        ann_ivf_query_index,
    )

    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    d = scratch_dir("annstore_q_")
    st.publish_base(emb, d, "vec_id", "embedding", n_lists=16)
    idx = st.read_index(spark, d).select(
        F.col("id").alias("vec_id"),
        F.col("vec").alias("embedding"),
        "list_id",
    )
    return ann_ivf_query_index(
        idx, st.serving_codebook(d), queries,
        "vec_id", "embedding", "vec_id", "embedding", k=5, n_probe=4,
    )
