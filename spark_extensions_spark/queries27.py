"""t2 query registry, batch 30: round-2 closing-session additions.

Registered into the shared registry (imported from queries26 at module
end). Same determinism rules as the queries.py docstring.

Families in this batch:

- Spark 4 SQL surface: ``sql_recursive_cte`` (WITH RECURSIVE; note ANSI
  double→bigint casts truncate in Spark but ROUND in DuckDB — shared
  formulations go through floor()), ``sql_pipe_syntax`` (|> chain),
  ``sql_lateral_alias``, ``sql_group_by_all_param`` (GROUP BY ALL +
  named-arg/IDENTIFIER templating), ``window_session_builtin``,
  ``xml_file_roundtrip`` (native spark-xml).
- Crawl-cleaning: ``url_blocklist_filter``, ``text_dup_ngrams``,
  ``text_char_entropy``, ``text_nfc_dedup_key``, ``text_script_ratios``,
  ``text_token_count_cjk``, ``text_hash_embedding`` (+ its ANN
  composition ``retrieval_text_ann``), ``pipeline_release_gate`` (the
  5-stage composed flagship with a full chained oracle).
- Sampling/linkage/layout: ``sample_weighted_aexpj`` (A-ExpJ),
  ``sample_stratified_split`` (exact per-group proportions),
  ``link_sorted_neighborhood``, ``feature_target_encode``,
  ``agg_kmv_setops``, ``layout_hilbert``, ``analytic_basket_rules``,
  ``embedding_jl_project``.
- ANN index lifecycle: ``ann_ivf_persisted`` (bucketed serving path),
  ``ann_ivf_index_refresh`` (incremental maintenance).
- Streaming: ``streaming_enrich`` (stream-static broadcast dim join).
- ``multimodal_audiosegments`` completes the image/video/audio family.

Hazard documented in NOTES.md and visible twice here: heavy row-local
array columns need materialization barriers (withColumn +
localCheckpoint(eager=False)) or CollapseProject re-evaluates them per
downstream reference; float-array outputs are emitted as fixed-scale
decimal CSV because the driver canonicalizer can't hash raw arrays and
Spark renders small doubles in scientific notation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from spark_extensions_spark.functions.fixedpoint import fp_col
from spark_extensions_spark.queries import _register, _t
from spark_extensions_spark.session import conf_override


@_register(
    "sql_recursive_cte",
    """
    WITH RECURSIVE h(node, root, depth) AS (
      SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey = 1
      UNION ALL
      SELECT c.c_custkey, h.root, h.depth + 1
      FROM customer c JOIN h
        ON CAST(floor(c.c_custkey / 2.0) AS BIGINT) = h.node
       AND c.c_custkey >= 2
    )
    SELECT node, root, CAST(depth AS INT) AS depth FROM h
    """,
    doc="Recursive CTE (WITH RECURSIVE, new in Spark 4): parent-pointer "
    "hierarchy walk (parent = floor(key/2)) emitting root + depth per "
    "node — the declarative form of iterate-until-fixpoint that "
    "previously needed a driver loop (operators/graph.py). Each "
    "recursion level is one self-join the optimizer plans normally; "
    "depth is O(log n) so the unrolled plan stays small at any scale.",
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "customer")
    return spark.sql(
        """
        WITH RECURSIVE h(node, root, depth) AS (
          SELECT c_custkey, c_custkey, 0 FROM customer WHERE c_custkey = 1
          UNION ALL
          SELECT c.c_custkey, h.root, h.depth + 1
          FROM customer c JOIN h
            ON CAST(floor(c.c_custkey / 2.0) AS BIGINT) = h.node
           AND c.c_custkey >= 2
        )
        SELECT node, root, CAST(depth AS INT) AS depth FROM h
        """
    )


@_register(
    "sql_pipe_syntax",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(l_quantity AS DECIMAL(20,4))) AS sum_qty,
           SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS sum_price,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="SQL pipe syntax (|>, new in Spark 4): the pricing-summary "
    "aggregation written as a linear FROM -> WHERE -> AGGREGATE -> "
    "SELECT pipeline. Compiles to the exact same hash-aggregate plan "
    "as the ANSI form (the oracle), decimal sums keep the aggregation "
    "order-free and engine-exact.",
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate <= DATE '1998-09-02'
        |> AGGREGATE SUM(CAST(l_quantity AS DECIMAL(20,4))) AS sum_qty,
                     SUM(CAST(l_extendedprice AS DECIMAL(20,4))) AS sum_price,
                     CAST(COUNT(*) AS BIGINT) AS n
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, sum_qty, sum_price, n
        """
    )


_BLOCKED_DOMAINS = ("src1.org", "src3.org", "cdn.src5.org", "src7.org")


@_register(
    "url_blocklist_filter",
    f"""
    WITH u AS (
      SELECT doc_id,
             lower((CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'cdn.'
                    WHEN 1 THEN 'www.' ELSE '' END)
                   || source || '.org') AS host
      FROM documents
    ), b(domain) AS (
      VALUES {", ".join(f"('{d}')" for d in _BLOCKED_DOMAINS)}
    )
    SELECT doc_id, host FROM u
    WHERE NOT EXISTS (
      SELECT 1 FROM b
      WHERE u.host = b.domain OR ends_with(u.host, '.' || b.domain)
    )
    """,
    doc="Domain-suffix URL blocklist filtering (functions/url.py:"
    "url_blocklist_filter) — the standard crawl-cleaning step: "
    "blocking example.com also blocks cdn.example.com but never "
    "badexample.com. Spark plan is per-label-count broadcast HASH "
    "equi-joins on the host suffix (zero shuffle, no nested loop); "
    "the oracle is the naive NOT EXISTS ends_with formulation — "
    "equivalence of the two IS the check. URLs synthesized from "
    "source + doc_id (fixture corpus has no native ones); blocklist "
    "mixes 2- and 3-label domains to exercise multiple levels.",
)
def q_url_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.functions.url import url_blocklist_filter

    docs = _t(spark, sf_dir, "documents")["documents"]
    sub = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("cdn."))
        .when(F.col("doc_id") % 3 == 1, F.lit("www."))
        .otherwise(F.lit(""))
    )
    u = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"), sub, F.col("source"), F.lit(".org/doc/"),
            F.col("doc_id"),
        ).alias("url"),
    )
    block = spark.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "domain string"
    )
    kept = url_blocklist_filter(u, "url", block)
    return kept.select(
        "doc_id",
        F.expr("lower(parse_url(url, 'HOST'))").alias("host"),
    )


@_register(
    "streaming_enrich",
    """
    SELECT time_bucket(INTERVAL '1 day', e.ts) AS win_start,
           time_bucket(INTERVAL '1 day', e.ts) + INTERVAL '1 day' AS win_end,
           n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2, 3
    """,
    doc="Stream-STATIC broadcast enrichment (the lookup-table pattern "
    "missing from the stream-stream suite): the event stream joins a "
    "static customer->nation dim with a broadcast hash join — "
    "stateless, no watermark on the join, no state store — then a "
    "watermarked tumbling-window aggregate. availableNow replay to a "
    "memory sink; oracle is the batch twin. At 100 TB/day the static "
    "side is the one you refresh per-batch and broadcast.",
)
def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.queries2 import _events_stream_path
    from spark_extensions_spark.streaming import (
        read_stream_parquet,
        run_available_now,
        windowed_aggregate,
    )

    t = _t(spark, sf_dir, "customer", "nation")
    dim = (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    stream = read_stream_parquet(spark, _events_stream_path(spark, sf_dir))
    enriched = stream.join(F.broadcast(dim), "user_id")
    return run_available_now(
        windowed_aggregate(
            enriched,
            "ts",
            "1 day",
            aggs=[
                F.count("*").alias("n_events"),
                F.expr(
                    "cast(round(sum(cast(value as decimal(18,4))), 2) as double)"
                ).alias("sum_value"),
            ],
            keys=["n_name"],
            watermark_delay="1 hour",
        ),
        output_mode="update",
        state_partitions=8,
    )


def _dup_ngram_oracle() -> str:
    from spark_extensions_spark.functions.text import (
        dup_chars_from_sorted_duck,
        word_ngrams_duck,
    )

    return f"""
    WITH g AS (
      SELECT doc_id, text,
             list_sort({word_ngrams_duck('text', 2)}) AS s2,
             list_sort({word_ngrams_duck('text', 3)}) AS s3
      FROM documents
    )
    SELECT doc_id,
           FLOOR(({dup_chars_from_sorted_duck('s2', 'text')})
                 * 1e6 + 5e-1) / 1e6 AS dup2_frac,
           FLOOR(({dup_chars_from_sorted_duck('s3', 'text')})
                 * 1e6 + 5e-1) / 1e6 AS dup3_frac
    FROM g
    """


@_register(
    "text_dup_ngrams",
    _dup_ngram_oracle(),
    doc="Duplicate-n-gram character fraction (functions/text.py:"
    "dup_chars_from_sorted_sql; Rae et al. 2021 Gopher repetition "
    "filters): fraction of characters inside word 2-/3-grams "
    "occurring >=2 times in the document — the boilerplate/loop-spam "
    "signal the word-level text_repetition battery can't see. "
    "Grams are materialized + sorted once per row (withColumn), then "
    "duplicate detection is a sorted-neighbor test: O(G log G) "
    "row-local, zero shuffle (an inline nested-filter formulation "
    "re-evaluates the gram array per element — measured 80x slower).",
)
def q_text_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.functions.text import (
        dup_chars_from_sorted_sql,
        word_ngrams_sql,
    )

    from spark_extensions_spark.session import ensure_parallelism

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents")["documents"]
    )
    g = docs.withColumn(
        "s2", F.sort_array(F.expr(word_ngrams_sql("text", 2)))
    ).withColumn("s3", F.sort_array(F.expr(word_ngrams_sql("text", 3))))
    # floor(x*1e6+0.5)/1e6, not round(x, 6): round's dp rescale path
    # differs between engines on identical doubles (NOTES round() seam)
    return g.select(
        "doc_id",
        F.expr(
            f"floor(({dup_chars_from_sorted_sql('s2', 'text')})"
            " * 1e6 + 0.5d) / 1e6"
        ).alias("dup2_frac"),
        F.expr(
            f"floor(({dup_chars_from_sorted_sql('s3', 'text')})"
            " * 1e6 + 0.5d) / 1e6"
        ).alias("dup3_frac"),
    )


@_register(
    "text_nfc_dedup_key",
    """
    SELECT doc_id,
           md5(nfc_normalize(text || ' cafe' || chr(769) || ' ' ||
               chr(8242) || chr(776))) AS nfc_key,
           CAST(length(nfc_normalize('e' || chr(769))) AS INT) AS composed_len
    FROM documents
    """,
    doc="Unicode NFC dedup keying (functions/text.py:nfc_normalize_col, "
    "Arrow-batched unicodedata — Spark has no builtin): composed vs "
    "decomposed encodings of the same visible text collapse to one "
    "dedup key. Exercised on synthesized decomposed suffixes "
    "(combining acute U+0301, diaeresis U+0308) appended to each doc; "
    "oracle is DuckDB's native nfc_normalize — two independent NFC "
    "implementations agreeing IS the check.",
)
def q_text_nfc_dedup_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.functions.text import nfc_normalize_col

    docs = _t(spark, sf_dir, "documents")["documents"]
    # NOTE: Spark's chr() is ASCII-mod-256, not a code-point function —
    # the combining characters are Python literals instead.
    synth = F.concat(
        F.col("text"),
        F.lit(" cafe\u0301 \u2032\u0308"),
    )
    return docs.select(
        "doc_id",
        F.md5(nfc_normalize_col(synth)).alias("nfc_key"),
        F.length(nfc_normalize_col(F.lit("e\u0301")))
        .cast("int")
        .alias("composed_len"),
    )


def _char_entropy_oracle() -> str:
    from spark_extensions_spark.functions.text import char_entropy_duck

    return f"""
    WITH m AS (
      SELECT doc_id, list_sort(string_split_regex(text, '')) AS s
      FROM documents
    ), k AS (
      SELECT doc_id, s,
             list_transform(list_sort(list_distinct(s)),
                            c -> len(list_filter(s, x -> x = c))) AS ks
      FROM m
    )
    SELECT doc_id, {char_entropy_duck('ks', 's')} AS char_entropy
    FROM k
    """


@_register(
    "text_char_entropy",
    _char_entropy_oracle(),
    doc="Shannon character entropy per document (functions/text.py:"
    "char_entropy_sql) — low = repeated-character spam, high = random "
    "noise; a standard quality gate alongside the Gopher battery. "
    "Sorted char array + per-distinct-char counts materialized once "
    "per row (withColumn / CTE), then a deterministic sequential fold "
    "of per-term-rounded (k/n)·ln(n/k): identical order and identical "
    "doubles on both engines (lm.py log-portability precedent). "
    "Row-local, zero shuffle.",
)
def q_text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.functions.text import (
        char_entropy_cols,
        char_entropy_sql,
    )

    from spark_extensions_spark.session import ensure_parallelism

    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents")["documents"]
    )
    s_col, st_col, ks_col = char_entropy_cols("text")
    g = (
        docs.withColumn("__s", s_col)
        .withColumn("__st", st_col)
        .withColumn("__ks", ks_col)
    )
    return g.select(
        "doc_id",
        F.expr(char_entropy_sql("__ks", "__s")).alias("char_entropy"),
    )


def _weighted_sample_oracle(k: int = 100) -> str:
    from spark_extensions_spark.operators.sampling import aexpj_key_duck

    return f"""
    SELECT doc_id, source, n_chars FROM documents
    ORDER BY {aexpj_key_duck('doc_id', 'n_chars')}, doc_id
    LIMIT {k}
    """


@_register(
    "sample_weighted_aexpj",
    _weighted_sample_oracle(),
    doc="Weighted sampling WITHOUT replacement (operators/sampling.py:"
    "weighted_sample; Efraimidis & Spirakis 2006 A-ExpJ): keep the k "
    "smallest ln(1/u)/w keys with u md5-uniform — inclusion odds "
    "proportional to n_chars, reproducible on any engine/partitioning "
    "(no RNG state). Plan is one global top-k "
    "(TakeOrderedAndProject): no full sort, no driver state beyond k "
    "rows. The importance-weighted cousin of the uniform hash-split "
    "family.",
)
def q_sample_weighted_aexpj(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")["documents"]
    return weighted_sample(
        docs.select("doc_id", "source", "n_chars"), "doc_id", "n_chars", 100
    )


@_register(
    "xml_file_roundtrip",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey <= 500
    """,
    doc="Native XML file sink + source roundtrip (Spark 4 ships the "
    "spark-xml format in core): write a customer slice as row-tagged "
    "XML, read it back with the same rowTag — entity escaping, type "
    "re-inference and losslessness all exercised; oracle is the "
    "source slice. Pairs the XSD converter (schema/xsd.py) and "
    "from_xml expression (xml_parse) with the FILE-level XML surface "
    "of §2.C.",
)
def q_xml_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    from spark_extensions_spark.session import scratch_dir

    from pyspark.sql import functions as F

    c = (
        _t(spark, sf_dir, "customer")["customer"]
        .filter(F.col("c_custkey") <= 500)
        .select("c_custkey", "c_name", "c_acctbal")
    )
    path = os.path.join(scratch_dir("xml_rt_q_"), "data")
    c.write.format("xml").option("rowTag", "customer").save(path)
    back = spark.read.format("xml").option("rowTag", "customer").load(path)
    return back.select(
        F.col("c_custkey").cast("bigint"),
        "c_name",
        F.col("c_acctbal").cast("double"),
    )


@_register(
    "sql_lateral_alias",
    """
    SELECT o_orderkey,
           o_totalprice * 0.9 AS discounted,
           (o_totalprice * 0.9) * 0.05 AS tax,
           (o_totalprice * 0.9) + ((o_totalprice * 0.9) * 0.05) AS total
    FROM orders WHERE o_orderkey <= 1000
    """,
    doc="Lateral column aliases (Spark 3.4+): a SELECT item referencing "
    "earlier aliases in the SAME select list (discounted -> tax -> "
    "total) — the ergonomic form of chained derivations; the analyzer "
    "inlines the chain, so the oracle is the fully-expanded ANSI "
    "rewrite and must hash-match exactly.",
)
def q_sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               o_totalprice * 0.9 AS discounted,
               discounted * 0.05 AS tax,
               discounted + tax AS total
        FROM orders WHERE o_orderkey <= 1000
        """
    )


@_register(
    "sql_group_by_all_param",
    """
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS total
    FROM orders
    WHERE o_orderkey <= 30000
    GROUP BY o_orderpriority, o_orderstatus
    """,
    doc="GROUP BY ALL + named-parameter SQL (Spark 4): every "
    "non-aggregate select item becomes a grouping key, the literal "
    "arrives via spark.sql(..., args={...}) placeholder binding and "
    "the table via the IDENTIFIER() clause — the injection-safe "
    "templating surface; oracle is the explicit ANSI form.",
)
def q_sql_group_by_all_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS total
        FROM IDENTIFIER(:tbl)
        WHERE o_orderkey <= :max_key
        GROUP BY ALL
        """,
        args={"tbl": "orders", "max_key": 30000},
    )


@_register(
    "link_sorted_neighborhood",
    """
    WITH idx AS (
      SELECT c_custkey, c_name,
             ROW_NUMBER() OVER (ORDER BY c_name, c_custkey) - 1 AS pos
      FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           a.c_name AS key_a, b.c_name AS key_b,
           CAST(b.pos - a.pos AS INT) AS pos_gap
    FROM idx a JOIN idx b
      ON b.pos > a.pos AND b.pos - a.pos <= 4
    """,
    doc="Sorted-neighborhood blocking (operators/dedup.py:"
    "sorted_neighborhood_pairs; Hernández & Stolfo 1995): order the "
    "corpus by the blocking key, pair rows within w positions — the "
    "record-linkage candidate generator for typo-clustered sort keys. "
    "Scale shape: two-phase global sort index (range partition + "
    "per-partition offsets, NO single-partition window) + banded "
    "equi-join on the index (O(n·w) pairs). Oracle is the naive "
    "ROW_NUMBER self-join.",
)
def q_link_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    c = _t(spark, sf_dir, "customer")["customer"]
    return sorted_neighborhood_pairs(c, "c_custkey", "c_name", window=4)


@_register(
    "feature_target_encode",
    """
    WITH g AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(20,4))) AS s
      FROM orders GROUP BY o_orderpriority
    ), tot AS (
      SELECT CAST(SUM(s) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS gmean
      FROM g
    )
    SELECT o_orderpriority, n,
           (CAST(s AS DOUBLE) + 30.0 * gmean) / (CAST(n AS DOUBLE) + 30.0)
             AS encoded
    FROM g CROSS JOIN tot
    """,
    doc="Smoothed target (mean) encoding — the categorical-feature "
    "prep step: per-category Bayesian-smoothed mean "
    "(Σy + m·global)/(n + m), m=30 (Micci-Barreca 2001). One hash "
    "aggregate + a 1-row broadcast; DECIMAL power sums keep the "
    "aggregation order-free, the final blend is a fixed-order double "
    "expression (identical IEEE sequence in the oracle).",
)
def q_feature_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    o = _t(spark, sf_dir, "orders")["orders"]
    g = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("cast(o_totalprice as decimal(20,4))")).alias("s"),
    )
    tot = g.agg(
        (
            F.sum("s").cast("double") / F.sum("n").cast("double")
        ).alias("gmean")
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority",
        "n",
        (
            (F.col("s").cast("double") + F.lit(30.0) * F.col("gmean"))
            / (F.col("n").cast("double") + F.lit(30.0))
        ).alias("encoded"),
    )


def _kmv_setops_oracle() -> str:
    from spark_extensions_spark.operators.sketches import (
        kmv_set_ops_oracle_sql,
    )

    return kmv_set_ops_oracle_sql(
        "(SELECT o_custkey FROM orders WHERE o_orderdate <  TIMESTAMP '1996-01-01')",
        "(SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01')",
        "o_custkey",
        k=256,
    )


@_register(
    "agg_kmv_setops",
    _kmv_setops_oracle(),
    doc="KMV sketch SET operations (operators/sketches.py:kmv_set_ops; "
    "Bar-Yossef 2002 / Beyer 2007): union cardinality from the merged "
    "k-minima, Jaccard as the both-sides fraction of those minima, "
    "intersection = jaccard x union — applied to customers active "
    "before vs after 1996 (the audience-overlap question). md5 "
    "determinism makes the whole sketch pipeline hash-checkable; plan "
    "is two distinct partials + one TakeOrdered top-k + broadcast "
    "membership probes (k hashes of driver traffic).",
)
def q_agg_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.sketches import kmv_set_ops

    o = _t(spark, sf_dir, "orders")["orders"]
    cut = "1996-01-01"
    a = o.filter(F.col("o_orderdate") < cut).select("o_custkey")
    b = o.filter(F.col("o_orderdate") >= cut).select("o_custkey")
    return kmv_set_ops(a, b, "o_custkey", k=256)


@_register(
    "window_session_builtin",
    """
    WITH d AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '30 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM (SELECT DISTINCT user_id, ts FROM events)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="Batch session windows via the BUILT-IN session_window function "
    "(30-min gap) — one groupBy, Catalyst's native session merge, no "
    "hand-rolled lag/cumsum. The oracle is the classic gaps-and-"
    "islands formulation, proving the builtin's semantics equal the "
    "textbook SQL (window end = last event + gap). Distinct (user,ts) "
    "first: the builtin merges same-timestamp events, so the twin "
    "must count identically.",
)
def q_window_session_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "events")["events"]
    d = e.select("user_id", "ts").distinct()
    return (
        d.groupBy(
            "user_id",
            F.session_window("ts", "30 minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def _hilbert_oracle(bits: int = 8) -> str:
    from spark_extensions_spark.operators.layout import hilbert_step_exprs

    ctes = []
    prev = "h0"
    for i in range(bits):
        s = 1 << (bits - 1 - i)
        xn, yn, dn = hilbert_step_exprs(i, s)
        ctes.append(
            f"h{i+1} AS (SELECT l_orderkey, l_linenumber, "
            f"CAST({xn} AS BIGINT) AS x{i+1}, "
            f"CAST({yn} AS BIGINT) AS y{i+1}, "
            f"CAST({dn} AS BIGINT) AS d{i+1} FROM {prev})"
        )
        prev = f"h{i+1}"
    chain = ",\n    ".join(ctes)
    return f"""
    WITH s AS (SELECT min(l_partkey) AS mn1, max(l_partkey) AS mx1,
                      min(l_suppkey) AS mn2, max(l_suppkey) AS mx2
               FROM lineitem),
    h0 AS (SELECT l_orderkey, l_linenumber,
                  CAST(floor((l_partkey - mn1) * 255.0
                             / greatest(mx1 - mn1, 1)) AS BIGINT) AS x0,
                  CAST(floor((l_suppkey - mn2) * 255.0
                             / greatest(mx2 - mn2, 1)) AS BIGINT) AS y0,
                  CAST(0 AS BIGINT) AS d0
           FROM lineitem, s),
    {chain}
    SELECT l_orderkey, l_linenumber, d{bits} AS hval FROM {prev}
    """


@_register(
    "layout_hilbert",
    _hilbert_oracle(),
    doc="Hilbert-curve clustering key (operators/layout.py:"
    "with_hilbert) — the no-diagonal-jump successor to the Morton "
    "z-order key (layout_zorder): range predicates over either "
    "dimension touch fewer clustered files. One min/max stats "
    "aggregate broadcast back + an unrolled 8-step exact-integer "
    "walk, all codegen projections, zero extra shuffle; the per-step "
    "SQL fragments are SHARED with the DuckDB oracle (xor enumerated "
    "as CASE — DuckDB's ^ is power), so the key is bit-identical.",
)
def q_layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.layout import with_hilbert

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return with_hilbert(
        li.select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        ["l_partkey", "l_suppkey"],
        bits=8,
    ).select("l_orderkey", "l_linenumber", "hval")


@_register(
    "sample_stratified_split",
    """
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || 'strat'),
                        doc_id) - 1 AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN rk < floor(n * 0.8) THEN 'train'
                WHEN rk < floor(n * 0.9) THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
    doc="Per-group EXACT-proportion stratified split (operators/"
    "sampling.py:stratified_split): each language gets 80/10/10 to "
    "within one row — the guarantee hash_split only gives in "
    "expectation (a 30-doc language could otherwise land wholly in "
    "train). md5-ordered window rank cut at cumulative boundaries; "
    "deterministic and layout-independent, one window shuffle.",
)
def q_sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.sampling import stratified_split

    docs = _t(spark, sf_dir, "documents")["documents"]
    return stratified_split(
        docs.select("doc_id", "lang"),
        "lang",
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


@_register(
    "multimodal_audiosegments",
    """
    WITH m AS (SELECT doc_id, octet_length(text::BLOB) AS len,
                      500 + CAST(('0x' || substr(sha256(text), 5, 4)) AS INT)
                            % 29500 AS dur
               FROM documents),
    n AS (SELECT doc_id, len, dur,
                 CAST(ceil(dur / 2000.0) AS INT) AS n_segs FROM m)
    SELECT doc_id,
           CAST(i AS INT) AS seg_idx,
           CAST(i * 2000 AS BIGINT) AS seg_start_ms,
           CAST(LEAST(2000, dur - i * 2000) AS INT) AS seg_len_ms,
           CAST(LEAST(len, 32) + 4 AS INT) AS samples_len
    FROM n, LATERAL unnest(generate_series(0, n_segs - 1)) t(i)
    """,
    doc="Audio segmentation stage (multimodal/media.py:audio_segments) "
    "— binary audio -> one row per fixed 2s window, exploded INSIDE "
    "mapInPandas (Arrow batches both ways, no driver state): the ASR "
    "prep shape, completing the image/video/audio multimodal family. "
    "Deterministic fake decode (duration from sha256 bytes [2:4]) "
    "mirrored exactly by the oracle via generate_series, so segment "
    "counts, offsets, tail lengths and payload sizes all hash-check; "
    "a real soundfile/ffmpeg decoder slots in behind the same "
    "signature.",
)
def q_multimodal_audiosegments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.multimodal.media import audio_segments

    docs = _t(spark, sf_dir, "documents")["documents"]
    media = docs.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("content")
    )
    segs = audio_segments(
        media,
        window_ms=2000,
        content_col="content",
        id_cols=["doc_id"],
        deterministic_fake=True,
    )
    return segs.select(
        "doc_id",
        "seg_idx",
        "seg_start_ms",
        "seg_len_ms",
        F.octet_length("samples").cast("int").alias("samples_len"),
    )


def _ann_ivf_persisted_oracle() -> str:
    # the persisted path returns exactly the inline det-IVF result, so
    # it shares ann_ivf's oracle
    from spark_extensions_spark.queries2 import _ann_ivf_oracle

    return _ann_ivf_oracle()


@_register(
    "ann_ivf_persisted",
    _ann_ivf_persisted_oracle(),
    doc="Query-time ANN against a PERSISTED deterministic-IVF index "
    "(operators/similarity.py:ivf_index_table + ann_ivf_query_index): "
    "the corpus is encoded ONCE into a bucketed-on-list_id table "
    "(sources.write_table), and the probe join scans it without a "
    "corpus Exchange — the serving shape at 100 TB (equivalence to "
    "the inline path pinned in pytest; same oracle as ann_ivf since "
    "the results are identical by construction).",
)
def q_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.session import scratch_dir

    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import (
        ann_ivf_query_index,
        ivf_index_table,
    )
    from spark_extensions_spark.sources import write_table

    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    idx_df, cents, _ = ivf_index_table(emb, "vec_id", "embedding", n_lists=16)
    name = "ivf_index_q"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base = scratch_dir("ivfidx_q_")
    write_table(
        idx_df,
        f"{base}/{name}",
        mode="overwrite",
        bucket_by=(8, ["list_id"]),
        table_name=name,
    )
    return ann_ivf_query_index(
        spark.table(name), cents, queries,
        "vec_id", "embedding", "vec_id", "embedding", k=5, n_probe=4,
    )



def _ivf_refresh_oracle(n_lists: int = 8) -> str:
    from spark_extensions_spark.operators.similarity import lsh_quantize_duck

    dist = (
        "CAST(list_sum(list_transform(list_zip(e.qq, c.cq), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )
    return f"""
    WITH eq AS (
      SELECT vec_id, {lsh_quantize_duck('embedding')} AS qq,
             (vec_id % 10 = 0) AS is_new
      FROM embeddings
    ), cent AS (
      SELECT list_id, cq FROM (
        SELECT ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
               qq AS cq
        FROM eq WHERE NOT is_new
      ) WHERE list_id < {n_lists}
    ), assigned AS (
      SELECT vec_id, is_new, list_id FROM (
        SELECT e.vec_id, e.is_new, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {dist}, c.list_id) AS rn
        FROM eq e CROSS JOIN cent c
      ) WHERE rn = 1
    )
    SELECT list_id,
           CAST(COUNT(*) FILTER (WHERE NOT is_new) AS BIGINT) AS n_base,
           CAST(COUNT(*) FILTER (WHERE is_new) AS BIGINT) AS n_added,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM assigned GROUP BY list_id
    """


@_register(
    "ann_ivf_index_refresh",
    _ivf_refresh_oracle(),
    doc="Incremental IVF index maintenance (operators/similarity.py:"
    "ivf_index_table): a new ingest batch is assigned with the "
    "EXISTING codebook (no retrain, no corpus re-encode — the "
    "codebook is the contract that keeps old codes valid) and "
    "appended; output is the per-list growth audit. The corpus-side "
    "cost is one row-local codegen pass over the NEW batch only — "
    "the same incremental shape as the MinHash band-index ingest "
    "(dedup_incremental).",
)
def q_ann_ivf_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import (
        ivf_assign_expr,
        ivf_centroids_det,
        quantize_vec_expr,
    )

    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    base = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    cents = ivf_centroids_det(base, "vec_id", "embedding", 8)

    def assign(df, flag):
        return (
            df.withColumn("__qq", F.expr(quantize_vec_expr("embedding")))
            .withColumn("list_id", F.expr(ivf_assign_expr("__qq", cents)))
            .select("vec_id", "list_id", F.lit(flag).alias("is_new"))
        )

    both = assign(base, False).unionAll(assign(batch, True))
    return both.groupBy("list_id").agg(
        F.count(F.when(~F.col("is_new"), 1)).cast("bigint").alias("n_base"),
        F.count(F.when(F.col("is_new"), 1)).cast("bigint").alias("n_added"),
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
    )


def _release_gate_oracle() -> str:
    from spark_extensions_spark.functions.text import (
        char_entropy_duck,
        dup_chars_from_sorted_duck,
        word_ngrams_duck,
    )

    return f"""
    WITH u AS (
      SELECT doc_id, lang, text, n_chars,
             lower((CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'cdn.'
                    WHEN 1 THEN 'www.' ELSE '' END)
                   || source || '.org') AS host
      FROM documents
    ), b(domain) AS (
      VALUES ('src1.org'), ('src3.org'), ('cdn.src5.org'), ('src7.org')
    ), unblocked AS (
      SELECT * FROM u
      WHERE NOT EXISTS (
        SELECT 1 FROM b
        WHERE u.host = b.domain OR ends_with(u.host, '.' || b.domain)
      )
    ), feats AS (
      SELECT doc_id, lang, text, n_chars,
             list_sort({word_ngrams_duck('text', 2)}) AS s2,
             list_sort(string_split_regex(text, '')) AS s
      FROM unblocked
    ), feats2 AS (
      SELECT doc_id, lang, text, n_chars, s2,
             list_transform(list_sort(list_distinct(s)),
                            c -> len(list_filter(s, x -> x = c))) AS ks, s
      FROM feats
    ), gated AS (
      SELECT doc_id, lang, text, n_chars
      FROM feats2
      WHERE n_chars BETWEEN 40 AND 100000
        AND {dup_chars_from_sorted_duck('s2', 'text')} < 0.30
        AND {char_entropy_duck('ks', 's')} > 2.0
    ), deduped AS (
      SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM gated
      ) WHERE rn = 1
    ), split AS (
      SELECT doc_id, lang, n_chars,
             CASE WHEN rk < floor(n * 0.9) THEN 'train' ELSE 'val' END
               AS split
      FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (
                 PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' || 'strat'),
                          doc_id) - 1 AS rk,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM deduped
      )
    )
    SELECT lang, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM split GROUP BY lang, split
    """


@_register(
    "pipeline_release_gate",
    _release_gate_oracle(),
    doc="End-to-end release gate composing this round's operators: "
    "URL blocklist (broadcast suffix equi-joins) -> quality gates "
    "(length band + duplicate-2gram fraction < 0.3 + char entropy > "
    "2.0 nats, all row-local) -> exact dedup keep-first (one md5 "
    "shuffle) -> per-language 90/10 stratified split (exact "
    "proportions) -> per-(lang, split) release manifest. Every stage "
    "mirrored in ONE chained SQL oracle — the whole pipeline is "
    "hash-checked, not just its pieces. Plan: 4 broadcast joins + 2 "
    "window shuffles + 2 hash aggs for a 5-stage pipeline.",
)
def q_pipeline_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.functions.text import (
        char_entropy_cols,
        char_entropy_sql,
        dup_chars_from_sorted_sql,
        word_ngrams_sql,
    )
    from spark_extensions_spark.functions.url import url_blocklist_filter
    from spark_extensions_spark.operators.sampling import stratified_split

    docs = _t(spark, sf_dir, "documents")["documents"]
    sub = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("cdn."))
        .when(F.col("doc_id") % 3 == 1, F.lit("www."))
        .otherwise(F.lit(""))
    )
    u = docs.select(
        "doc_id", "lang", "text", "n_chars",
        F.concat(
            F.lit("https://"), sub, F.col("source"), F.lit(".org/doc/"),
            F.col("doc_id"),
        ).alias("url"),
    )
    block = spark.createDataFrame(
        [(d,) for d in _BLOCKED_DOMAINS], "domain string"
    )
    from spark_extensions_spark.session import ensure_parallelism

    unblocked = ensure_parallelism(
        url_blocklist_filter(u, "url", block).drop("url")
    )
    s_col, st_col, ks_col = char_entropy_cols("text")
    feats = (
        unblocked.withColumn(
            "s2", F.sort_array(F.expr(word_ngrams_sql("text", 2)))
        )
        .withColumn("__s", s_col)
        .withColumn("__st", st_col)
        .withColumn("__ks", ks_col)
        # __st (the run-starts array) feeds __ks and nothing else —
        # drop it so the checkpoint doesn't materialize it per row
        # (it stays evaluated once in its own projection level; the
        # select only prunes the checkpointed columns)
        .select(
            "doc_id", "lang", "text", "n_chars", "s2", "__s", "__ks"
        )
        .localCheckpoint(eager=False)
    )
    # Materialization barriers (one above, one here): without them
    # Catalyst's projection collapse inlines the sorted/count arrays
    # into every reference and re-evaluates the sort chain per use —
    # measured 88s vs 10s at sf0.01. The first barrier computes each
    # array once per row; this one computes the two scalars and drops
    # the arrays before anything downstream.
    # guide §8: every decision below needs only (hash, lang, n_chars) —
    # compute the md5 dedup key HERE and drop the text payload, so the
    # second checkpoint and the dedup window shuffle carry 16-byte
    # hashes instead of documents (same md5, same groups, same result)
    scored = feats.select(
        "doc_id", "lang", "n_chars",
        F.md5("text").alias("__h"),
        F.expr(dup_chars_from_sorted_sql("s2", "text")).alias("__dup2"),
        F.expr(char_entropy_sql("__ks", "__s")).alias("__ent"),
    ).localCheckpoint(eager=False)
    gated = scored.filter(
        F.col("n_chars").between(40, 100000)
        & (F.col("__dup2") < 0.30)
        & (F.col("__ent") > 2.0)
    ).select("doc_id", "lang", "__h", "n_chars")
    from pyspark.sql import Window

    w = Window.partitionBy("__h").orderBy("doc_id")
    deduped = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )
    split = stratified_split(
        deduped, "lang", "doc_id", {"train": 0.9, "val": 0.1}
    )
    return split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
    )


def _jl_project_oracle(out_dim: int = 16, dim: int = 64) -> str:
    import math

    from spark_extensions_spark.operators.similarity import (
        lsh_quantize_duck,
        signplane_signs,
    )

    signs = signplane_signs(out_dim, dim, seed=42)
    denom = 1e6 * math.sqrt(out_dim)
    terms = []
    for srow in signs:
        pos = [i + 1 for i, v in enumerate(srow) if v > 0]
        neg = [i + 1 for i, v in enumerate(srow) if v < 0]
        terms.append(
            f"CAST((COALESCE(list_sum(list_select(qq, {pos})), 0) - "
            f"COALESCE(list_sum(list_select(qq, {neg})), 0)) AS DOUBLE) "
            f"/ {denom!r}"
        )
    arr = "[" + ", ".join(terms) + "]"
    return f"""
    WITH q AS (
      SELECT vec_id, {lsh_quantize_duck('embedding')} AS qq
      FROM embeddings
    )
    SELECT vec_id,
           array_to_string(list_transform({arr},
             v -> CAST(CAST(FLOOR(v * 1e9 + 5e-1) / 1e9 AS DECIMAL(20,9)) AS VARCHAR)), ',') AS projected_csv
    FROM q
    """


@_register(
    "embedding_jl_project",
    _jl_project_oracle(),
    doc="Johnson-Lindenstrauss dimensionality reduction (operators/"
    "similarity.py:jl_project; Achlioptas 2003 ±1 projections): 64-d "
    "embeddings down to 16-d with exact int64 projection sums over "
    "md5-derived sign rows — one double division per output dim, "
    "row-local codegen, zero shuffle; the cheap front-end that cuts "
    "downstream ANN/dedup cost by dim/out_dim. Emitted as a canonical "
    "CSV string (driver canonicalizer can't hash raw float arrays); "
    "round(·,9) + a fixed-scale DECIMAL cast normalize the string "
    "form (Spark renders small doubles in scientific notation, "
    "DuckDB decimal) — the division itself is bit-identical.",
)
def q_embedding_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import jl_project

    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    out = jl_project(emb, "vec_id", "embedding", out_dim=16, dim=64)
    return out.select(
        "vec_id",
        F.expr(
            "array_join(transform(projected, "
            "v -> cast(cast(floor(v * 1e9 + 0.5d) / 1e9 as decimal(20,9)) as string)), ',')"
        ).alias("projected_csv"),
    )


def _hash_embedding_oracle(dim: int = 64) -> str:
    from spark_extensions_spark.functions.text import hash_embedding_duck

    words, buckets, counts, vec = hash_embedding_duck("text", dim)
    return f"""
    WITH w AS (SELECT doc_id, {words} AS __w FROM documents),
    hb AS (SELECT doc_id, {buckets} AS __hb FROM w),
    cnt AS (SELECT doc_id, {counts} AS __cnt FROM hb)
    SELECT doc_id,
           array_to_string(list_transform({vec},
             v -> CAST(CAST(FLOOR(v * 1e9 + 5e-1) / 1e9 AS DECIMAL(20,9)) AS VARCHAR)),
             ',') AS embedding_csv
    FROM cnt
    """


@_register(
    "text_hash_embedding",
    _hash_embedding_oracle(),
    doc="Hashed bag-of-words text embedding (functions/text.py:"
    "hash_embedding_sql; feature hashing, Weinberger et al. 2009): "
    "64-d L2-normalized vectors straight from text — the model-free "
    "bridge that lets the whole ANN/near-dup/k-means embedding family "
    "run on the documents table. md5 buckets, exact-int norm, one "
    "double division per dim; word/bucket/count arrays materialized "
    "once per row (withColumn / CTE) against projection-collapse "
    "re-evaluation. Decimal-normalized CSV output (driver "
    "canonicalizer can't hash raw float arrays).",
)
def q_text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.functions.text import (
        hash_embedding_cols,
        hash_embedding_sql,
    )
    from spark_extensions_spark.session import ensure_parallelism

    # md5-per-word over every document fuses into the scan stage; the
    # one-row-group fixture made that a single task (2.8 s on one core
    # at sf0.1) — restore width before the heavy projection
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")["documents"])
    w_col, hb_col, cnt_col = hash_embedding_cols("text", 64)
    # barrier: CollapseProject would inline __hb (and its per-word md5)
    # into every per-bucket filter of __cnt — 64× the md5 work
    g = (
        docs.withColumn("__w", w_col)
        .withColumn("__hb", hb_col)
        .localCheckpoint(eager=False)
        .withColumn("__cnt", cnt_col)
    )
    return g.select(
        "doc_id",
        F.expr(
            "array_join(transform("
            + hash_embedding_sql("__cnt")
            + ", v -> cast(cast(floor(v * 1e9 + 0.5d) / 1e9 as decimal(20,9)) as string)), ',')"
        ).alias("embedding_csv"),
    )


def _text_ann_oracle(k: int = 3) -> str:
    from spark_extensions_spark.functions.text import hash_embedding_duck
    from spark_extensions_spark.queries import _cosine_duck

    words, buckets, counts, vec = hash_embedding_duck("text", 64)
    return f"""
    WITH w AS (SELECT doc_id, {words} AS __w FROM documents),
    hb AS (SELECT doc_id, {buckets} AS __hb FROM w),
    cnt AS (SELECT doc_id, {counts} AS __cnt FROM hb),
    emb AS (SELECT doc_id, {vec} AS v FROM cnt),
    nz AS (SELECT doc_id, v FROM emb
           WHERE list_sum(list_transform(v, x -> abs(x))) > 0),
    s AS (
      SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
             {_cosine_duck('q.v', 'c.v', 64)} AS cosine
      FROM (SELECT * FROM nz WHERE doc_id < 5) q
      JOIN nz c ON c.doc_id != q.doc_id
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
    "retrieval_text_ann",
    _text_ann_oracle(),
    doc="Model-free text similarity search end-to-end: feature-hashed "
    "embeddings (text_hash_embedding) -> exact cosine top-k "
    "(ann_bruteforce_topk) — dense retrieval over the documents table "
    "with no external model, the semantic complement to BM25 "
    "(retrieval_rrf fuses the two shapes). Zero-vector docs excluded "
    "(cosine undefined); the whole text->vector->rank chain is "
    "hash-checked by one composed oracle.",
)
def q_retrieval_text_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.functions.text import (
        hash_embedding_cols,
        hash_embedding_sql,
    )
    from spark_extensions_spark.operators.similarity import (
        ann_bruteforce_topk,
    )
    from spark_extensions_spark.session import ensure_parallelism

    # same single-task embedding stage as text_hash_embedding (measured
    # 10.7 s + 3.4 s single-task jobs at sf0.1): the checkpoint chain
    # inherits the one-row-group scan's single partition, so every
    # downstream stage ran one-core — widen once, before the chain
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")["documents"])
    w_col, hb_col, cnt_col = hash_embedding_cols("text", 64)
    # three barriers: __hb (md5-per-word), __cnt (64-bucket counts) and
    # the final vectors — every downstream reference (normalize uses
    # __cnt 4x, the zero-filter inlines the normalize, and BOTH ANN
    # join sides re-execute the plan) otherwise recomputes the chain:
    # measured 89s -> ~8s at sf0.1
    emb = (
        docs.withColumn("__w", w_col)
        .withColumn("__hb", hb_col)
        .localCheckpoint(eager=False)
        .withColumn("__cnt", cnt_col)
        .localCheckpoint(eager=False)
        .select(
            "doc_id", F.expr(hash_embedding_sql("__cnt")).alias("v")
        )
        .filter(F.expr("aggregate(v, 0.0d, (a, x) -> a + abs(x))") > 0)
        .localCheckpoint(eager=False)
    )
    queries = emb.filter(F.col("doc_id") < 5)
    out = ann_bruteforce_topk(
        emb, queries, "doc_id", "v", "doc_id", "v", k=4, dim=64
    )
    # brute force scores self-matches (cosine 1); drop them and re-rank
    out = (
        out.filter(F.col("query_id") != F.col("neighbor_id"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id", "neighbor_id", "cosine",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@_register(
    "analytic_basket_rules",
    """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM baskets
    ), items AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS item_n
      FROM baskets GROUP BY l_partkey
    ), pairs AS (
      SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
             CAST(COUNT(*) AS BIGINT) AS pair_n
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT item_a, item_b, pair_n,
           CAST(pair_n AS DOUBLE) / ia.item_n AS confidence,
           (CAST(pair_n AS DOUBLE) * n.n_orders) / (ia.item_n * ib.item_n)
             AS lift
    FROM pairs
    JOIN items ia ON ia.l_partkey = item_a
    JOIN items ib ON ib.l_partkey = item_b
    CROSS JOIN n
    ORDER BY pair_n DESC, item_a, item_b LIMIT 20
    """,
    doc="Market-basket association rules over co-ordered parts "
    "(apriori-lite at pair depth): support (pair count), confidence "
    "P(b|a) and lift P(ab)/(P(a)P(b)) from exact integer counts, one "
    "double division each — the classic rule-mining surface. Plan: "
    "per-order grouped pair expansion over sorted baskets + two "
    "broadcast item-count joins + a 1-row n_orders broadcast, top-20 "
    "via TakeOrderedAndProject. The same pair table feeds the "
    "co-purchase graph queries (graph_communities).",
)
def q_analytic_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders")
    )
    items = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("item_n")
    )
    from spark_extensions_spark.operators.graph import grouped_pair_edges

    # grouped row-local pair expansion (operators/graph.py:
    # grouped_pair_edges): each order's sorted distinct basket emits
    # each unordered pair once (w(w-1)/2 rows, already a < b) — the
    # self-join form materializes w² rows per order first
    pairs = (
        grouped_pair_edges(
            baskets, "l_orderkey", "l_partkey", src="item_a", dst="item_b"
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_n"))
    )
    ia = items.select(
        F.col("l_partkey").alias("item_a"), F.col("item_n").alias("ia_n")
    )
    ib = items.select(
        F.col("l_partkey").alias("item_b"), F.col("item_n").alias("ib_n")
    )
    out = (
        pairs.join(F.broadcast(ia), "item_a")
        .join(F.broadcast(ib), "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            "pair_n",
            (F.col("pair_n").cast("double") / F.col("ia_n")).alias(
                "confidence"
            ),
            (
                (F.col("pair_n").cast("double") * F.col("n_orders"))
                / (F.col("ia_n") * F.col("ib_n"))
            ).alias("lift"),
        )
    )
    return out.orderBy(
        F.col("pair_n").desc(), "item_a", "item_b"
    ).limit(20)


@_register(
    "text_script_ratios",
    r"""
    WITH t AS (
      SELECT doc_id, text || ' 汉字漢字 škola naïve' AS x FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(x, '\p{Han}')) AS INT) AS n_han,
           CAST(len(regexp_extract_all(x, '\p{Latin}')) AS INT) AS n_latin,
           CAST(len(regexp_extract_all(x, '\p{Cyrillic}')) AS INT)
             AS n_cyrillic,
           floor((CAST(len(regexp_extract_all(x, '\p{Han}')) AS DOUBLE)
                 / length(x)) * 1e6 + 5e-1) / 1e6 AS han_ratio,
           floor((CAST(len(regexp_extract_all(x, '\p{Latin}')) AS DOUBLE)
                 / length(x)) * 1e6 + 5e-1) / 1e6 AS latin_ratio
    FROM t
    """,
    doc="Unicode-script composition ratios (Han/Latin/Cyrillic counts "
    "per doc) — the script-level language signal that catches "
    "mixed-script spam and wrong-language leakage before the "
    "stopword-based lang_id runs; pure regexp character classes in "
    "one codegen projection, zero shuffle. Java spells the class "
    "\\p{IsHan}, RE2 \\p{Han} — same Unicode script property, "
    "engine-specific spelling, identical counts (synthesized CJK/"
    "diacritic suffix exercises the non-ASCII paths on the "
    "Latin-heavy fixture corpus).",
)
def q_text_script_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")["documents"]
    x = F.concat(F.col("text"), F.lit(" 汉字漢字 škola naïve"))
    g = docs.select("doc_id", x.alias("x"))

    def n(cls: str) -> F.Column:
        return F.expr(
            f"size(regexp_extract_all(x, '\\\\p{{Is{cls}}}', 0))"
        )

    return g.select(
        "doc_id",
        n("Han").cast("int").alias("n_han"),
        n("Latin").cast("int").alias("n_latin"),
        n("Cyrillic").cast("int").alias("n_cyrillic"),
        fp_col(n("Han").cast("double") / F.length("x"), 6).alias(
            "han_ratio"
        ),
        fp_col(n("Latin").cast("double") / F.length("x"), 6).alias(
            "latin_ratio"
        ),
    )


@_register(
    "text_token_count_cjk",
    r"""
    WITH t AS (
      SELECT doc_id, lang,
             CASE WHEN lang = 'zh' THEN '对话 模型 训练 数据 ' || text
                  ELSE text END AS x
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(lower(x), '[a-z0-9]+'))
                + len(regexp_extract_all(x, '\p{Han}')) AS BIGINT)
             AS n_tokens
    FROM t
    """,
    doc="CJK-aware token counting: whitespace/regex word runs for "
    "alphabetic scripts PLUS one token per Han character (CJK has no "
    "word spaces — BPE tokenizers emit roughly per-character tokens "
    "there, so the whitespace-only text_token_count undercounts zh "
    "docs badly). One codegen projection, zero shuffle; the zh rows "
    "get a synthesized Han prefix so the fixture corpus actually "
    "exercises the Han term.",
)
def q_text_token_count_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")["documents"]
    x = F.when(
        F.col("lang") == "zh",
        F.concat(F.lit("对话 模型 训练 数据 "), F.col("text")),
    ).otherwise(F.col("text"))
    g = docs.select("doc_id", "lang", x.alias("x"))
    return g.select(
        "doc_id",
        "lang",
        (
            F.expr("size(regexp_extract_all(lower(x), '[a-z0-9]+', 0))")
            + F.expr("size(regexp_extract_all(x, '\\\\p{IsHan}', 0))")
        )
        .cast("bigint")
        .alias("n_tokens"),
    )


@_register(
    "text_sentence_stats",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(
               list_transform(
                 regexp_split_to_array(text, '[.!?]+(\s+|$)'),
                 x -> trim(x)),
               x -> length(x) > 0) AS sents
      FROM documents
    )
    SELECT doc_id,
           CAST(len(sents) AS INT) AS n_sentences,
           CAST(COALESCE(list_sum(list_transform(sents, s -> length(s))), 0)
                AS BIGINT) AS sent_chars,
           CASE WHEN len(sents) = 0 THEN CAST(0 AS DOUBLE)
                ELSE floor((CAST(COALESCE(list_sum(list_transform(sents,
                       s -> length(s))), 0) AS DOUBLE) / len(sents))
                     * 1e6 + 5e-1) / 1e6
           END AS mean_sentence_len
    FROM t
    """,
    doc="Sentence segmentation statistics: split on terminal "
    "punctuation runs, trim, drop empties — sentence count, character "
    "mass and mean length per doc (the doc-structure signal quality "
    "filters use alongside word-level stats; very long mean sentences "
    "flag code/tables, very short flag listicles). One codegen "
    "projection with the split array materialized once, zero shuffle.",
)
def q_text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")["documents"]
    g = docs.withColumn(
        "sents",
        F.expr(
            r"filter(transform(split(text, '[.!?]+(\\s+|$)'), "
            "x -> trim(x)), x -> length(x) > 0)"
        ),
    )
    n = F.size("sents")
    chars = F.expr(
        "aggregate(sents, 0L, (a, s) -> a + length(s))"
    )
    return g.select(
        "doc_id",
        n.cast("int").alias("n_sentences"),
        chars.cast("bigint").alias("sent_chars"),
        F.when(n == 0, F.lit(0.0))
        .otherwise(fp_col(chars.cast("double") / n, 6))
        .alias("mean_sentence_len"),
    )


@_register(
    "sample_temperature",
    """
    WITH stats AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source
    ), z AS (
      SELECT SUM(pow(CAST(n AS DOUBLE), 0.5)) AS z FROM stats
    ), thr AS (
      SELECT source,
             CAST(floor(LEAST(1.0,
               pow(CAST(n AS DOUBLE), 0.5) / z * 300.0
                 / CAST(n AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS thr
      FROM stats CROSS JOIN z
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr USING (source)
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || 'temp'),
                          1, 15))::BIGINT % 1000000000 < thr.thr
    """,
    doc="Temperature-based mixture sampling (operators/sampling.py:"
    "temperature_sample; the UniMax/multilingual alpha-flattening "
    "recipe): per-source keep fraction ∝ n^0.5 scaled to ~300 rows, "
    "md5-hash thinning — deterministic under any layout. The double "
    "pow/sum is quantized to an integer 1e9 threshold before the "
    "bucket comparison, so cross-engine ulp drift can't flip rows "
    "off-boundary. One tiny aggregate broadcast; zero extra shuffle.",
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.sampling import temperature_sample

    docs = _t(spark, sf_dir, "documents")["documents"]
    return temperature_sample(
        docs.select("doc_id", "source"), "source", "doc_id",
        alpha=0.5, target_total=300,
    )


@_register(
    "sample_curriculum_batches",
    """
    SELECT doc_id, n_chars,
           CAST((ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1) // 64
                AS BIGINT) AS batch_id
    FROM documents
    """,
    doc="Curriculum batch assignment: global easy-to-hard order (here "
    "n_chars as the difficulty proxy; any score column works) cut "
    "into fixed-size training batches — the curriculum-learning prep "
    "step. The global order comes from the two-phase sort index "
    "(operators/sampling.py:global_sort_index — range partition + "
    "per-partition offsets, NO single-partition window); batch_id is "
    "a row-local floor-division of it. Oracle is the naive global "
    "ROW_NUMBER.",
)
def q_sample_curriculum_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.sampling import global_sort_index

    docs = _t(spark, sf_dir, "documents")["documents"]
    idx = global_sort_index(
        docs.select("doc_id", "n_chars"), ["n_chars", "doc_id"], "__pos"
    )
    return idx.select(
        "doc_id",
        "n_chars",
        (F.col("__pos") / 64).cast("bigint").alias("batch_id"),
    )


@_register(
    "quality_adaptive_gate",
    """
    WITH scored AS (
      SELECT doc_id, source, n_chars,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                  AS BIGINT) AS n_words
      FROM documents
    ), bounds AS (
      SELECT source,
             floor(quantile_cont(CAST(n_words AS DOUBLE), 0.25)
                   * 1e6 + 5e-1) / 1e6 AS p25
      FROM scored GROUP BY source
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE CAST(s.n_words AS DOUBLE) >= b.p25)
                AS BIGINT) AS n_kept,
           b.p25 AS threshold
    FROM scored s JOIN bounds b USING (source)
    GROUP BY s.source, b.p25
    """,
    doc="Per-source ADAPTIVE quality gate: each source keeps docs at or "
    "above its OWN 25th-percentile word count — absolute thresholds "
    "misfire when sources have different length profiles (code vs "
    "prose vs chat); the per-group percentile self-calibrates. One "
    "small exact-percentile aggregate broadcast back (group-"
    "cardinality-sized — the fact side never shuffles), row-local "
    "gate, per-source audit out. Spark exact percentile == DuckDB "
    "quantile_cont, rounded to 6dp before the compare.",
)
def q_quality_adaptive_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")["documents"]
    scored = docs.select(
        "doc_id",
        "source",
        F.expr(
            "cast(size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) "
            "as bigint)"
        ).alias("n_words"),
    )
    bounds = scored.groupBy("source").agg(
        fp_col(
            F.expr("percentile(cast(n_words as double), 0.25)"), 6
        ).alias("p25")
    )
    joined = scored.join(F.broadcast(bounds), "source")
    return joined.groupBy("source", "p25").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.count(
            F.when(F.col("n_words").cast("double") >= F.col("p25"), 1)
        )
        .cast("bigint")
        .alias("n_kept"),
    ).select(
        "source", "n_total", "n_kept", F.col("p25").alias("threshold")
    )


@_register(
    "text_vocab_richness",
    """
    WITH w AS (
      SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
               AS word
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT word) AS BIGINT) AS n_types,
           floor((CAST(COUNT(DISTINCT word) AS DOUBLE) / COUNT(*))
                 * 1e6 + 5e-1) / 1e6 AS type_token_ratio
    FROM w GROUP BY lang
    """,
    doc="Per-language vocabulary richness (type-token ratio): corpus "
    "diversity audit — a collapsing TTR flags template spam or "
    "synthetic-loop data per language slice. Row-local tokenization "
    "explode + one count-distinct aggregate (Spark plans the "
    "two-phase distinct expansion; at 100 TB swap exact distinct for "
    "the KMV/HLL sketches in operators/sketches.py).",
)
def q_text_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents")["documents"]
    w = docs.select(
        "lang",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("word"),
    )
    return w.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("word").cast("bigint").alias("n_types"),
        fp_col(
            F.countDistinct("word").cast("double") / F.count(F.lit(1)), 6
        ).alias("type_token_ratio"),
    )


@_register(
    "text_zipf_slope",
    """
    WITH w AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
      FROM documents
    ), counts AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY word
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, word) AS r
      FROM counts QUALIFY r <= 100
    ), terms AS (
      SELECT CAST(FLOOR(ln(CAST(r AS DOUBLE)) * 1e12 + 0.5)
                  AS BIGINT) AS x,
             CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1e12 + 0.5)
                  AS BIGINT) AS y,
             CAST(FLOOR(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE))
                        * 1e12 + 0.5) AS BIGINT) AS xy,
             CAST(FLOOR(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                        * 1e12 + 0.5) AS BIGINT) AS xx
      FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ranks,
           FLOOR((COUNT(*) * (CAST(SUM(xy) AS DOUBLE) / 1e12)
                  - (CAST(SUM(x) AS DOUBLE) / 1e12)
                    * (CAST(SUM(y) AS DOUBLE) / 1e12))
                 / (COUNT(*) * (CAST(SUM(xx) AS DOUBLE) / 1e12)
                    - (CAST(SUM(x) AS DOUBLE) / 1e12)
                      * (CAST(SUM(x) AS DOUBLE) / 1e12))
                 * 1e6 + 0.5) / 1e6 AS zipf_slope
    FROM terms
    """,
    doc="Zipf-law slope audit: OLS of ln(count) on ln(rank) over the "
    "top-100 words — natural corpora slope near -1; strong deviation "
    "flags synthetic/template text (corpus forensics). Per-term ln "
    "products quantized to 1e-12 and summed as DECIMAL (the PSI "
    "precedent: order-free despite ln), slope assembled in one "
    "fixed-order double expression; one word-count aggregate + a "
    "100-row window.",
)
def q_text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window, functions as F

    docs = _t(spark, sf_dir, "documents")["documents"]
    counts = (
        docs.select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # top-100 via orderBy+limit (TakeOrderedAndProject — distributed
    # partial top-k, no vocabulary-sized single-partition window); the
    # rank window then runs over only 100 rows
    w = Window.orderBy(F.col("c").desc(), "word")
    ranked = (
        counts.orderBy(F.col("c").desc(), "word")
        .limit(100)
        .withColumn("r", F.row_number().over(w))
    )
    # per-term ln values in exact 1e-12 integer units (floor(x*1e12+.5)
    # — round(ln, 12) is engine-nonportable); sums are exact bigints,
    # then one fixed-order double expression assembles the slope
    t = ranked.select(
        F.expr(
            "cast(floor(ln(cast(r as double)) * 1e12 + 0.5d) as bigint)"
        ).alias("x"),
        F.expr(
            "cast(floor(ln(cast(c as double)) * 1e12 + 0.5d) as bigint)"
        ).alias("y"),
        F.expr(
            "cast(floor(ln(cast(r as double)) * ln(cast(c as double))"
            " * 1e12 + 0.5d) as bigint)"
        ).alias("xy"),
        F.expr(
            "cast(floor(ln(cast(r as double)) * ln(cast(r as double))"
            " * 1e12 + 0.5d) as bigint)"
        ).alias("xx"),
    )
    n = F.count(F.lit(1))
    return t.agg(
        n.cast("bigint").alias("n_ranks"),
        F.expr(
            "floor((count(1) * (cast(sum(xy) as double) / 1e12)"
            " - (cast(sum(x) as double) / 1e12)"
            "   * (cast(sum(y) as double) / 1e12))"
            " / (count(1) * (cast(sum(xx) as double) / 1e12)"
            "    - (cast(sum(x) as double) / 1e12)"
            "      * (cast(sum(x) as double) / 1e12))"
            " * 1000000.0d + 0.5d) / 1000000.0d"
        ).alias("zipf_slope"),
    )


def _minhash_estimate_oracle() -> str:
    from spark_extensions_spark.queries import _minhash_bands_cte

    return f"""
    {_minhash_bands_cte()}
    , pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           floor((len(list_filter(list_zip(sa.s, sb.s),
                                  q -> q[1] = q[2])) / CAST(12 AS DOUBLE))
                 * 1e6 + 5e-1) / 1e6
             AS est_jaccard
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    """


@_register(
    "dedup_minhash_estimate",
    _minhash_estimate_oracle(),
    doc="MinHash signature-agreement Jaccard estimates over the LSH "
    "candidate pairs (operators/dedup.py:minhash_jaccard_estimates; "
    "Broder 1997): est = matching-components / num_hashes — the "
    "standard middle stage that threshold-filters candidates WITHOUT "
    "re-touching document text (at 100 TB exact shingle comparison "
    "only runs on survivors). Integer signatures end-to-end, so the "
    "ESTIMATES — not just the pair set — hash-match the oracle.",
)
def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.dedup import (
        minhash_jaccard_estimates,
    )

    docs = _t(spark, sf_dir, "documents")["documents"]
    return minhash_jaccard_estimates(docs, "doc_id", "text")


@_register(
    "io_partition_pruning",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events WHERE event_type = 'click'
    GROUP BY event_type
    """,
    doc="Partitioned-write -> partition-pruned read, end to end: the "
    "events fixture is written partitionBy(event_type) to a temp "
    "dataset (cached per session), then the 'click' aggregate reads "
    "it back — the partition filter prunes at PLANNING time, so only "
    "the click directory is ever listed/scanned (the physical-layout "
    "contract every 100 TB date-partitioned lake relies on; the "
    "pruned-scan plan shape is also pinned in "
    "tests/test_sources_multimodal.py). Oracle aggregates the "
    "unpartitioned source.",
)
def q_io_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.session import scratch_dir

    from pyspark.sql import functions as F

    cache = getattr(spark, "_sx_part_cache", None)
    if cache is None:
        cache = {}
        spark._sx_part_cache = cache
    if sf_dir not in cache:
        ev = _t(spark, sf_dir, "events")["events"]
        path = scratch_dir("events_part_q_")
        ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
        cache[sf_dir] = path
    part = spark.read.parquet(cache[sf_dir])
    return (
        part.filter(F.col("event_type") == "click")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@_register(
    "io_bucketed_join",
    """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(o.o_totalprice AS DECIMAL(20,4))) AS total
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    """,
    doc="Bucketed-table co-located join, end to end: orders and "
    "customer are written bucketBy(8, key) sortBy(key) into session "
    "catalog tables (cached per session), then joined WITHOUT any "
    "Exchange on either side — the pre-shuffled layout that amortizes "
    "one write-time shuffle across every later join at 100 TB (the "
    "no-Exchange plan is pinned in tests/test_sources_multimodal.py's "
    "bucketed-join test). Oracle joins the unbucketed source.",
)
def q_io_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.session import scratch_dir

    from pyspark.sql import functions as F

    from spark_extensions_spark.sources import write_table

    cache = getattr(spark, "_sx_bucket_cache", None)
    if cache is None:
        cache = {}
        spark._sx_bucket_cache = cache
    if sf_dir not in cache:
        t = _t(spark, sf_dir, "orders", "customer")
        base = scratch_dir("bucketed_q_")
        # cluster by the bucket key at bucket count before the write:
        # all 8 buckets still get exactly one file each, but they
        # write in parallel instead of through the single task the
        # one-file source scan plans (measured 1.5 s on 1 task)
        write_table(
            t["orders"].repartition(8, F.col("o_custkey")),
            f"{base}/ord_b", mode="overwrite",
            bucket_by=(8, ["o_custkey"]), table_name="ord_b_q",
        )
        write_table(
            t["customer"].repartition(8, F.col("c_custkey")),
            f"{base}/cust_b", mode="overwrite",
            bucket_by=(8, ["c_custkey"]), table_name="cust_b_q",
        )
        cache[sf_dir] = ("ord_b_q", "cust_b_q")
    on, cn = cache[sf_dir]
    o = spark.table(on)
    c = spark.table(cn).filter(F.col("c_mktsegment") == "BUILDING")
    return (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.expr("cast(o_totalprice as decimal(20,4))")
            ).alias("total"),
        )
    )


@_register(
    "catalog_managed_dml",
    """
    SELECT r_regionkey, r_name FROM region
    UNION ALL
    SELECT n_nationkey + 1000, n_name FROM nation
    """,
    doc="Managed-catalog DML lifecycle: CREATE a managed table via "
    "saveAsTable (spark-warehouse), append a second batch with SQL "
    "INSERT INTO ... SELECT, read the union back via spark.table — "
    "the catalog/DML surface (§2.C adjacent) a lake engine must "
    "expose beyond path-based IO. Re-runnable: the table is dropped "
    "and recreated per invocation; oracle is the two-batch union of "
    "the sources.",
)
def q_catalog_managed_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    import uuid

    t = _t(spark, sf_dir, "region", "nation")
    # unique per invocation: a fresh session's catalog has no entry for
    # a previous session's table, so DROP would no-op while the orphan
    # warehouse directory still blocks saveAsTable
    name = f"managed_dml_q_{uuid.uuid4().hex[:8]}"
    t["region"].select(
        F.col("r_regionkey").alias("k"), F.col("r_name").alias("name")
    ).write.saveAsTable(name)
    spark.sql(
        f"INSERT INTO {name} "
        "SELECT n_nationkey + 1000 AS k, n_name AS name FROM nation"
    )
    return spark.table(name).select(
        F.col("k").alias("r_regionkey"), F.col("name").alias("r_name")
    )


@_register(
    "catalog_dynamic_overwrite",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
      SELECT event_type FROM events WHERE event_type != 'click'
      UNION ALL
      SELECT event_type FROM events WHERE event_type = 'click'
        AND event_id % 2 = 0
    ) GROUP BY event_type
    """,
    doc="Dynamic partition overwrite (partitionOverwriteMode=dynamic): "
    "a partitioned managed table gets ONE partition rewritten by "
    "INSERT OVERWRITE (here: deduplicated clicks) while sibling "
    "partitions stay untouched — the idempotent partition-level "
    "reprocessing every date-partitioned lake pipeline relies on "
    "(static mode would wipe the whole table). Re-runnable per "
    "invocation; oracle = untouched partitions UNION the rewritten "
    "one.",
)
def q_catalog_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    import uuid

    ev = _t(spark, sf_dir, "events")["events"]
    name = f"dyn_overwrite_q_{uuid.uuid4().hex[:8]}"
    ev.select("event_id", "event_type").write.partitionBy(
        "event_type"
    ).saveAsTable(name)
    with conf_override(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        spark.sql(
            f"INSERT OVERWRITE TABLE {name} "
            "SELECT event_id, event_type FROM events "
            "WHERE event_type = 'click' AND event_id % 2 = 0"
        )
    return spark.table(name).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


@_register(
    "catalog_schema_evolution",
    """
    SELECT r_regionkey AS k, r_name AS name, NULL AS tier FROM region
    UNION ALL
    SELECT n_nationkey + 2000, n_name,
           CASE WHEN n_nationkey % 2 = 0 THEN 'gold' ELSE 'std' END
    FROM nation
    """,
    doc="In-place catalog schema evolution: ALTER TABLE ADD COLUMNS on "
    "a live managed table — old rows read back NULL for the new "
    "column (no rewrite), new inserts carry it; the additive-widening "
    "path that pairs the offline schema/evolution.py diff+conform "
    "utilities with the catalog's own DDL. Re-runnable per "
    "invocation; oracle = old rows with NULL UNION new rows.",
)
def q_catalog_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    import uuid

    t = _t(spark, sf_dir, "region", "nation")
    name = f"schema_evo_q_{uuid.uuid4().hex[:8]}"
    t["region"].select(
        F.col("r_regionkey").alias("k"), F.col("r_name").alias("name")
    ).write.saveAsTable(name)
    spark.sql(f"ALTER TABLE {name} ADD COLUMNS (tier string)")
    spark.sql(
        f"INSERT INTO {name} "
        "SELECT n_nationkey + 2000 AS k, n_name AS name, "
        "CASE WHEN n_nationkey % 2 = 0 THEN 'gold' ELSE 'std' END AS tier "
        "FROM nation"
    )
    return spark.table(name)


@_register(
    "catalog_view_query",
    """
    SELECT r.r_name, CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name
    """,
    doc="Catalog VIEW surface: CREATE OR REPLACE TEMPORARY VIEW over a "
    "join, queried through the view — the virtual-layer DDL that "
    "rounds out the catalog family (tables, DML, overwrite, "
    "evolution, views). The optimizer sees straight through to the "
    "base scans (same plan as querying the join directly); oracle is "
    "the underlying join.",
)
def q_catalog_view_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "region", "nation")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW nation_region_v AS "
        "SELECT n.n_nationkey, n.n_name, r.r_name "
        "FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey"
    )
    return spark.sql(
        "SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_nations "
        "FROM nation_region_v GROUP BY r_name"
    )


@_register(
    "udtf_polymorphic",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(2 AS INT) AS n_fields,
           o_totalprice / 2 AS half
    FROM orders WHERE o_orderkey <= 2000
    """,
    doc="POLYMORPHIC Python UDTF (Spark 4 analyze() API): the output "
    "schema is DERIVED at plan time from the input struct's fields — "
    "analyze(row) reflects row.dataType and appends computed columns "
    "(n_fields, half) — the dynamic-schema table function the static "
    "udtf_word_pos can't express. Arrow row explosion via LATERAL; "
    "oracle is the equivalent static projection.",
)
def q_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf
    class WidenStruct:
        @staticmethod
        def analyze(row: AnalyzeArgument) -> AnalyzeResult:
            fields = list(row.dataType.fields)
            return AnalyzeResult(
                schema=StructType(
                    fields
                    + [
                        StructField("n_fields", IntegerType()),
                        StructField("half", DoubleType()),
                    ]
                )
            )

        def eval(self, row):
            vals = [row[f] for f in row.__fields__]
            last = float(vals[-1])
            # /2 is an exact IEEE op (exponent decrement) — no rounding
            # needed, and Python's banker's round differs from SQL's
            yield (*vals, len(vals), last / 2)

    spark.udtf.register("widen_struct_q", WidenStruct)
    _t(spark, sf_dir, "orders")
    # The key filter lives INSIDE the lateral's input subquery: Catalyst
    # does not push predicates below a BatchEvalPythonUDTF, so the
    # WHERE-outside form evaluated the Python UDTF over EVERY orders row
    # and filtered afterwards (measured at sf0.1: the whole table paid
    # the Python boundary for a 0.3% selection — guide §4).
    return spark.sql(
        """
        SELECT u.* FROM (SELECT * FROM orders WHERE o_orderkey <= 2000) o,
        LATERAL widen_struct_q(struct(o.o_orderkey, o.o_totalprice)) u
        """
    )

from spark_extensions_spark import queries28  # noqa: E402,F401  (registration side effect)
