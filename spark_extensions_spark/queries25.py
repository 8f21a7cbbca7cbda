"""t2 query registry, batch 28: higher moments + compaction planning.

Registered into the shared registry (imported from queries24 at module
end). Same determinism rules as the queries.py docstring.

- ``agg_moments``: per-event-type skewness + excess kurtosis from
  exact DECIMAL power sums Σx..Σx⁴ in ONE scan
  (operators/stats.py:group_moments) — the one-pass distribution-shape
  profile.
- ``layout_compaction``: small-file compaction bins via deterministic
  cumulative-sum packing per partition
  (operators/layout.py:compaction_plan) — the planning half of a
  lakehouse OPTIMIZE job, one window shuffle, no driver state; file
  inventory simulated from the documents table (file=doc, size=
  n_chars, partition=lang).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import _register, _t
from spark_extensions_spark.operators.layout import (
    compaction_oracle_sql,
    compaction_plan,
)
from spark_extensions_spark.operators.stats import (
    group_moments,
    moments_oracle_sql,
)


@_register(
    "agg_moments",
    moments_oracle_sql("events", "event_type", "value"),
    doc="Per-event-type skewness and excess kurtosis "
    "(operators/stats.py:group_moments): exact integer-scaled DECIMAL "
    "power sums Σx..Σx⁴ in one scan + one hash agg, shared "
    "central-moment double formula rounded to 6 dp.",
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return group_moments(ev, "event_type", "value")


_COMPACT_FILES_SQL = """
      SELECT lang,
             'doc_' || CAST(doc_id AS VARCHAR) AS file,
             CAST(n_chars AS BIGINT) AS bytes
      FROM documents
"""


@_register(
    "layout_compaction",
    compaction_oracle_sql(
        f"({_COMPACT_FILES_SQL})", "lang", "file", "bytes", 5000
    ),
    doc="Small-file compaction plan (operators/layout.py:"
    "compaction_plan): deterministic cumulative-sum bin packing to "
    "~5000-byte bins per partition — one window shuffle, no driver "
    "state; the OPTIMIZE planning pass over a simulated file "
    "inventory.",
)
def q_layout_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    files = docs.select(
        "lang",
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string")).alias(
            "file"
        ),
        F.col("n_chars").cast("bigint").alias("bytes"),
    )
    return compaction_plan(files, "lang", "file", "bytes", 5000)


@_register(
    "arrow_roundtrip",
    """
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="Arrow IPC (Feather v2) file sink + source roundtrip "
    "(sources/arrow_ipc.py): one IPC file per partition via "
    "foreachPartition, read back one-task-per-file with pyarrow inside "
    "mapInPandas (Arrow on disk -> Arrow on the wire). Oracle is the "
    "source table — the roundtrip must be lossless.",
)
def q_arrow_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.session import scratch_dir

    from spark_extensions_spark.sources.arrow_ipc import (
        read_arrow_ipc,
        write_arrow_ipc,
    )

    docs = _t(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    path = scratch_dir("arrow_rt_q_")
    write_arrow_ipc(docs.repartition(4), path)
    return read_arrow_ipc(spark, path)


@_register(
    "analytic_attribution",
    """
    WITH clicks AS (
      SELECT user_id, event_id AS cid, ts AS cts
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, event_id AS pid, ts AS pts, value
      FROM events WHERE event_type = 'purchase'
    ),
    att AS (
      SELECT p.pid, p.pts, p.value,
             (SELECT c.cid FROM clicks c
              WHERE c.user_id = p.user_id
                AND c.cts <= p.pts
                AND c.cts >= p.pts - INTERVAL 7 DAY
              ORDER BY c.cts DESC, c.cid DESC LIMIT 1) AS click_id
      FROM purch p
    )
    SELECT CAST(date_trunc('day', pts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(click_id) AS BIGINT) AS n_attributed,
           CAST(SUM(CAST(FLOOR(value * 1e2 + 5e-1) AS BIGINT))
                FILTER (click_id IS NOT NULL) AS BIGINT)
             AS attributed_cents
    FROM att GROUP BY 1
    """,
    doc="Last-touch marketing attribution: each purchase takes the "
    "nearest click at-or-before it within a 7-day lookback via the "
    "single-shuffle union+window as-of join "
    "(operators/joins.py:asof_join — the oracle spells it as a "
    "correlated top-1 subquery), then a daily attribution rollup with "
    "exact integer-cent revenue.",
)
def q_analytic_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("cid"),
        F.col("ts").alias("cts"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("ts").alias("pts"),
        "value",
    )
    att = asof_join(
        purch,
        clicks,
        on="user_id",
        left_time="pts",
        right_time="cts",
        right_values=["cid"],
        tolerance=F.expr("INTERVAL 7 DAYS"),
        right_tiebreak="cid",
    )
    return att.groupBy(
        F.date_trunc("day", F.col("pts")).cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.count("cid").cast("bigint").alias("n_attributed"),
        F.sum(
            F.when(
                F.col("cid").isNotNull(),
                # floor(x*100+0.5), not round(x*100): ROUND-to-integer
                # on a double is implementation-defined one ulp below a
                # .5 boundary (BigDecimal half-up on Spark vs double
                # floor(x+.5) paths elsewhere); the explicit floor is
                # the identical IEEE sequence on every engine.
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"),
            )
        )
        .cast("bigint")
        .alias("attributed_cents"),
    )


@_register(
    "stat_mannwhitney",
    __import__(
        "spark_extensions_spark.operators.stats", fromlist=["x"]
    ).mannwhitney_oracle_sql(
        "lineitem", "l_extendedprice", "l_returnflag", "R", "N", 0
    ),
    doc="Mann-Whitney U rank-sum test with tie correction "
    "(operators/stats.py:mannwhitney_u): average-rank sums from the "
    "KS-style cumulative-count trick (never per-row ranks), exact "
    "integer doubling, tie term as exact decimal sum; one scan + "
    "domain-sized window, shared sqrt formula for z.",
)
def q_stat_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.stats import mannwhitney_u

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return mannwhitney_u(
        li, "l_extendedprice", "l_returnflag", "R", "N", round_to=0
    )


@_register(
    "stat_psi",
    __import__(
        "spark_extensions_spark.operators.stats", fromlist=["x"]
    ).psi_oracle_sql(
        "orders", "o_orderpriority", "o_orderdate < DATE '1998-01-01'"
    ),
    doc="Population Stability Index of the order-priority mix, "
    "pre-1998 vs later (operators/stats.py:psi_drift): per-bucket "
    "(p_a-p_b)*ln(p_a/p_b) terms fixed-point quantized to 1e-12 "
    "BEFORE the cross-bucket DECIMAL sum — order-free despite ln; "
    "epsilon-smoothed empty buckets; one scan + one bucket hash-agg.",
)
def q_stat_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.stats import psi_drift

    orders = _t(spark, sf_dir, "orders")["orders"]
    return psi_drift(
        orders,
        "o_orderpriority",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("date"),
    )


@_register(
    "sample_pps",
    __import__(
        "spark_extensions_spark.operators.sampling", fromlist=["x"]
    ).pps_oracle_sql("documents", "doc_id", "n_chars", 100),
    doc="Systematic PPS sampling of ~100 docs proportional to n_chars "
    "(operators/sampling.py:pps_systematic): md5-order cumulative "
    "weights, integer cross-multiplied threshold crossing — exact, "
    "deterministic, no randomness, no libm; the weighted corpus "
    "subsampling pass.",
)
def q_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.sampling import pps_systematic

    docs = _t(spark, sf_dir, "documents")["documents"]
    return pps_systematic(docs, "doc_id", "n_chars", 100)


@_register(
    "quality_skew_audit",
    __import__(
        "spark_extensions_spark.operators.quality", fromlist=["x"]
    ).skew_oracle_sql("lineitem", "l_suppkey", 10),
    doc="Join-key skew audit (operators/quality.py:diagnose_skew): "
    "top-10 heaviest supplier keys with row share and "
    "ratio-to-uniform — one count aggregate + deterministic top-k; "
    "the pre-flight check before choosing salt/AQE-skew strategies.",
)
def q_quality_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.quality import diagnose_skew

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return diagnose_skew(li, "l_suppkey", 10)


def _ann_ivfpq_oracle(
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 64,
    k: int = 5,
    dim: int = 64,
) -> str:
    from spark_extensions_spark.operators.similarity import lsh_quantize_duck
    from spark_extensions_spark.queries import _cosine_duck

    dsub = dim // m
    dist = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )
    cdist = dist.format(a="e.qq", b="c.cq")
    sub_e = f"list_slice(e.qq, b.sub * {dsub} + 1, b.sub * {dsub} + {dsub})"
    edist = dist.format(a=sub_e, b="b.bw")
    sub_c = f"list_slice(c.pqq, x.sub * {dsub} + 1, x.sub * {dsub} + {dsub})"
    adist = dist.format(a=sub_c, b="b.bw")
    return f"""
    WITH eq AS (
      SELECT vec_id, embedding,
             {lsh_quantize_duck('embedding')} AS qq
      FROM embeddings
    ), smp AS (
      SELECT rn, qq FROM (
        SELECT ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS rn, qq
        FROM eq
      ) WHERE rn < {max(n_lists, ksub)}
    ), cent AS (
      SELECT rn AS list_id, qq AS cq FROM smp WHERE rn < {n_lists}
    ), book AS (
      SELECT s.s AS sub, p.rn AS code,
             list_slice(p.qq, s.s * {dsub} + 1, s.s * {dsub} + {dsub}) AS bw
      FROM smp p, generate_series(0, {m - 1}) s(s)
      WHERE p.rn < {ksub}
    ), assigned AS (
      SELECT vec_id, qq, list_id FROM (
        SELECT e.vec_id, e.qq, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cdist}, c.list_id) AS rn
        FROM eq e CROSS JOIN cent c
      ) WHERE rn = 1
    ), codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT e.vec_id, b.sub, b.code,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, b.sub
                                  ORDER BY {edist}, b.code) AS rn
        FROM eq e CROSS JOIN book b
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, qq AS pqq, list_id FROM (
        SELECT e.vec_id, e.qq, c.list_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                  ORDER BY {cdist}, c.list_id) AS rn
        FROM eq e CROSS JOIN cent c WHERE e.vec_id < 10
      ) WHERE rn <= {n_probe}
    ), adc AS (
      SELECT c.query_id, c.neighbor_id, SUM({adist}) AS adc
      FROM (SELECT p.query_id, p.pqq, a.vec_id AS neighbor_id
            FROM probes p JOIN assigned a USING (list_id)) c
      JOIN codes x ON x.vec_id = c.neighbor_id
      JOIN book b ON b.sub = x.sub AND b.code = x.code
      GROUP BY c.query_id, c.neighbor_id, c.pqq
    ), short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc ASC, neighbor_id) AS r0
        FROM adc
      ) WHERE r0 <= {rerank}
    ), s AS (
      SELECT sh.query_id, sh.neighbor_id,
             {_cosine_duck('qe.embedding', 'ce.embedding', dim)} AS cosine
      FROM short sh
      JOIN embeddings qe ON qe.vec_id = sh.query_id
      JOIN embeddings ce ON ce.vec_id = sh.neighbor_id
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
    "ann_ivfpq",
    _ann_ivfpq_oracle(),
    doc="IVF-PQ approximate top-k, DETERMINISTIC variant (operators/"
    "similarity.py:ann_ivfpq_topk_det; Jegou et al. 2011): coarse IVF "
    "probe join + product-quantized codes (32x smaller index column) "
    "+ ADC shortlist + exact-cosine rerank, with every pre-rerank "
    "stage exact int64 math over md5-derived codebooks — the whole "
    "approximate query is hash-checked against the SQL oracle (was "
    "rows-only with float-trained codebooks). Assignment and encode "
    "are row-local codegen (the persisted index columns); probed "
    "queries broadcast-join into an unshuffled corpus.",
)
def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.similarity import ann_ivfpq_topk_det

    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_ivfpq_topk_det(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding",
        k=5, dim=64, n_lists=16, n_probe=4,
    )


_PRF_SEED = ["data", "model"]


@_register(
    "retrieval_prf",
    __import__(
        "spark_extensions_spark.operators.retrieval", fromlist=["x"]
    ).prf_oracle_sql(_PRF_SEED, k=20),
    doc="Pseudo-relevance-feedback BM25 (operators/retrieval.py:"
    "prf_search): seed search -> top-10 feedback docs -> top-5 "
    "discriminative expansion terms (df-capped, deterministic "
    "tiebreak) -> expanded BM25 — the classic Rocchio-style expansion "
    "loop; the oracle reproduces BOTH rounds and the term mining in "
    "one SQL statement.",
)
def q_retrieval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.retrieval import prf_search

    docs = _t(spark, sf_dir, "documents")["documents"]
    return prf_search(docs, _PRF_SEED, k=20)


@_register(
    "pipeline_drift_gate",
    """
    WITH corpus AS (
      SELECT lang FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
      SELECT lang FROM documents WHERE doc_id % 10 = 0
    ),
    counts AS (
      SELECT lang AS b,
             COUNT(*) FILTER (src = 'batch') + 1 AS ca,
             COUNT(*) FILTER (src = 'corpus') + 1 AS cb
      FROM (
        SELECT lang, 'batch' AS src FROM batch
        UNION ALL SELECT lang, 'corpus' FROM corpus
      ) GROUP BY 1
    ),
    tot AS (
      SELECT ca, cb,
             CAST(SUM(ca) OVER () AS DOUBLE) AS na,
             CAST(SUM(cb) OVER () AS DOUBLE) AS nb
      FROM counts
    ),
    psi AS (
      SELECT CAST(SUM(CAST(FLOOR(((CAST(ca AS DOUBLE) / na
                    - CAST(cb AS DOUBLE) / nb)
                   * ln((CAST(ca AS DOUBLE) / na)
                        / (CAST(cb AS DOUBLE) / nb)))
                   * 1e12 + 0.5) AS DECIMAL(38,0)))
                  AS DOUBLE) / 1.0e12 AS psi,
             CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
      FROM tot GROUP BY na, nb
    )
    SELECT psi, n_a AS n_batch_plus_eps, n_b AS n_corpus_plus_eps,
           psi < 0.1 AS admit
    FROM psi
    """,
    doc="Drift-gated ingest admission: the new batch's language mix is "
    "scored against the corpus with the order-free fixed-point PSI "
    "(operators/stats.py:psi_drift) and the batch is admitted only "
    "below the 0.1 industry threshold — the streaming drift_monitor's "
    "batch twin wired into the ingest decision; composes with "
    "pipeline_incremental_ingest's dedup stages.",
)
def q_pipeline_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.stats import psi_drift

    docs = _t(spark, sf_dir, "documents")["documents"]
    tagged = docs.select(
        "lang", (F.col("doc_id") % 10 == 0).alias("is_batch")
    )
    out = psi_drift(tagged, "lang", F.col("is_batch"))
    return out.select(
        "psi",
        F.col("n_a").alias("n_batch_plus_eps"),
        F.col("n_b").alias("n_corpus_plus_eps"),
        (F.col("psi") < 0.1).alias("admit"),
    )


@_register(
    "join_band",
    """
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_acctbal AS bal_a, b.c_acctbal AS bal_b
    FROM customer a JOIN customer b
      ON abs(a.c_acctbal - b.c_acctbal) <= 1.0
     AND a.c_nationkey <> b.c_nationkey
     AND a.c_custkey < b.c_custkey
    """,
    doc="Banded numeric join (operators/joins.py:band_join): "
    "|bal_a − bal_b| ≤ 1.0 across nations via floor(v/δ) bucket "
    "explode + EQUI join + exact filter — O(matches) instead of the "
    "O(n²) nested loop the theta predicate would otherwise plan; the "
    "oracle spells the naive theta join (same pairs).",
)
def q_join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.joins import band_join

    cust = _t(spark, sf_dir, "customer")["customer"]
    a = cust.select(
        F.col("c_custkey").alias("key_a"),
        F.col("c_acctbal").alias("bal_a"),
        F.col("c_nationkey").alias("nat_a"),
    )
    b = cust.select(
        F.col("c_custkey").alias("key_b"),
        F.col("c_acctbal").alias("bal_b"),
        F.col("c_nationkey").alias("nat_b"),
    )
    out = band_join(
        a,
        b,
        "bal_a",
        "bal_b",
        1.0,
        extra_cond=(F.col("nat_a") != F.col("nat_b"))
        & (F.col("key_a") < F.col("key_b")),
    )
    return out.select("key_a", "key_b", "bal_a", "bal_b")


@_register(
    "analytic_pattern_match",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             lead(event_type, 1) OVER w AS t1,
             lead(event_type, 2) OVER w AS t2,
             lead(event_id, 2) OVER w AS id2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id AS start_id, id2 AS end_id, ts AS start_ts
    FROM seq
    WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
    """,
    doc="Row-pattern matching (MATCH_RECOGNIZE-style): consecutive "
    "view->click->purchase triples per user via lead() over the "
    "(ts, id) total order — one window shuffle, no joins; the "
    "sequential-pattern primitive Spark lacks as dedicated syntax.",
)
def q_analytic_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
        F.lead("event_id", 2).over(w).alias("id2"),
    )
    return seq.filter(
        (F.col("event_type") == "view")
        & (F.col("t1") == "click")
        & (F.col("t2") == "purchase")
    ).select(
        "user_id",
        F.col("event_id").alias("start_id"),
        F.col("id2").alias("end_id"),
        F.col("ts").alias("start_ts"),
    )


@_register(
    "quality_expectations",
    """
    WITH agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS b_key_not_null,
             CAST(SUM(CASE WHEN o_totalprice IS NULL
                            OR NOT (o_totalprice BETWEEN 0 AND 1000000)
                           THEN 1 ELSE 0 END) AS BIGINT) AS b_price_range,
             CAST(SUM(CASE WHEN o_orderpriority IS NULL
                            OR NOT regexp_matches(o_orderpriority,
                                                  '^[1-5]-[A-Z ]+$')
                           THEN 1 ELSE 0 END) AS BIGINT) AS b_priority_fmt,
             CAST(SUM(CASE WHEN o_orderstatus IS NULL
                            OR o_orderstatus NOT IN ('O','F','P')
                           THEN 1 ELSE 0 END) AS BIGINT) AS b_status_set,
             CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey)
                  AS BIGINT) AS b_key_unique,
             CAST(CASE WHEN COUNT(*) BETWEEN 1 AND 100000000
                       THEN 0 ELSE 1 END AS BIGINT) AS b_volume
      FROM orders
    )
    SELECT expectation, kind, n_bad = 0 AS passed, n_bad, n_rows
    FROM (
      SELECT 'key_not_null' AS expectation, 'not_null' AS kind,
             b_key_not_null AS n_bad, n_rows FROM agg
      UNION ALL SELECT 'price_range', 'between', b_price_range, n_rows
      FROM agg
      UNION ALL SELECT 'priority_fmt', 'matches', b_priority_fmt, n_rows
      FROM agg
      UNION ALL SELECT 'status_set', 'in_set', b_status_set, n_rows
      FROM agg
      UNION ALL SELECT 'key_unique', 'unique', b_key_unique, n_rows
      FROM agg
      UNION ALL SELECT 'volume', 'row_count', b_volume, n_rows FROM agg
    )
    """,
    doc="Declarative expectation suite (operators/quality.py:"
    "expectation_suite — the SmartDataLakeBuilder expectations concept "
    "Spark-first): 6 expectations across all kinds (not_null / "
    "between / matches / in_set / unique / row_count) compiled into "
    "ONE aggregate scan + stack unpivot; oracle spells the same "
    "single-row aggregate.",
)
def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.quality import expectation_suite

    orders = _t(spark, sf_dir, "orders")["orders"]
    return expectation_suite(
        orders,
        [
            ("key_not_null", "not_null", {"col": "o_orderkey"}),
            (
                "price_range",
                "between",
                {"col": "o_totalprice", "lo": 0, "hi": 1000000},
            ),
            (
                "priority_fmt",
                "matches",
                {"col": "o_orderpriority", "regex": "^[1-5]-[A-Z ]+$"},
            ),
            (
                "status_set",
                "in_set",
                {"col": "o_orderstatus", "values": ["O", "F", "P"]},
            ),
            ("key_unique", "unique", {"col": "o_orderkey"}),
            ("volume", "row_count", {"lo": 1, "hi": 100000000}),
        ],
    )


@_register(
    "webdataset_roundtrip",
    """
    SELECT CAST(doc_id AS VARCHAR) AS key, text,
           '{"lang": "' || lang || '"}' AS meta
    FROM documents
    """,
    doc="WebDataset tar-shard sink + source roundtrip "
    "(sources/webdataset.py): one reproducible-bytes tar per "
    "partition ({key}.txt + {key}.json members, zeroed tar metadata), "
    "read back one-task-per-shard — the multimodal training-loader "
    "interchange format. Oracle is the source table (lossless).",
)
def q_webdataset_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.session import scratch_dir

    from spark_extensions_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    docs = _t(spark, sf_dir, "documents")["documents"].select(
        F.col("doc_id").cast("string").alias("k"), "text", "lang"
    )
    path = scratch_dir("wds_q_")
    write_webdataset(docs.repartition(4), path, "k", "text", ["lang"])
    return read_webdataset(spark, path)


@_register(
    "join_asof_nearest",
    """
    SELECT event_id, user_id, ts, near_click_id FROM (
      SELECT e.event_id, e.user_id, e.ts,
             c.event_id AS near_click_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(date_diff('microsecond', e.ts, c.ts)),
                        CASE WHEN c.ts <= e.ts THEN 0 ELSE 1 END,
                        c.event_id) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'purchase') e
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON e.user_id = c.user_id
    ) WHERE rn = 1
    """,
    doc="Nearest-either-direction as-of join: each purchase takes its "
    "temporally CLOSEST click (backward wins exact ties, then id) — "
    "composed as the backward and forward single-shuffle as-of joins "
    "(operators/joins.py:asof_join) + a row-local argmin, never a "
    "per-key explosion; the oracle spells the naive per-key scan.",
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")["events"]
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("cid"),
        F.col("ts").alias("cts"),
        F.col("ts").alias("c_ts_val"),
    )
    back = asof_join(
        purch, clicks, on="user_id", left_time="ts", right_time="cts",
        right_values=["cid", "c_ts_val"], right_tiebreak="cid",
    ).select(
        "event_id", "user_id", "ts",
        F.col("cid").alias("b_id"), F.col("c_ts_val").alias("b_ts"),
    )
    fwd = asof_join(
        purch, clicks, on="user_id", left_time="ts", right_time="cts",
        right_values=["cid", "c_ts_val"], right_tiebreak="cid",
        direction="forward",
    ).select(
        F.col("event_id").alias("event_id_f"),
        F.col("cid").alias("f_id"), F.col("c_ts_val").alias("f_ts"),
    )
    both = back.join(
        fwd, back.event_id == fwd.event_id_f, "left"
    )
    d_b = F.abs(
        F.col("ts").cast("double") - F.col("b_ts").cast("double")
    )
    d_f = F.abs(
        F.col("f_ts").cast("double") - F.col("ts").cast("double")
    )
    nearest = (
        F.when(F.col("b_ts").isNull(), F.col("f_id"))
        .when(F.col("f_ts").isNull(), F.col("b_id"))
        .when(d_b <= d_f, F.col("b_id"))
        .otherwise(F.col("f_id"))
    )
    return both.select(
        "event_id", "user_id", "ts", nearest.alias("near_click_id")
    )


_LPA_EDGES_SQL = """
      SELECT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
"""


@_register(
    "graph_communities",
    __import__(
        "spark_extensions_spark.operators.graph", fromlist=["x"]
    ).lpa_oracle_sql(_LPA_EDGES_SQL, iterations=3),
    doc="Synchronous label-propagation communities over the part "
    "bought-together graph (operators/graph.py:label_propagation; "
    "Raghavan et al. 2007): modal neighbor label, smallest-label "
    "ties, fixed 3 rounds — the deterministic LPA variant; per-round "
    "join + count + max_by argmax, lineage checkpointed. Unrolled-CTE "
    "oracle, fully hash-checked.",
)
def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.graph import label_propagation

    return label_propagation(
        _part_edges_q25(spark, sf_dir), iterations=3
    )


def _part_edges_q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.queries21 import _part_edges

    return _part_edges(spark, sf_dir)


@_register(
    "feature_robust_scale",
    """
    WITH b AS (
      SELECT c_mktsegment,
             floor(quantile_cont(c_acctbal, 0.5) * 1e6 + 5e-1) / 1e6
               AS med,
             floor(quantile_cont(c_acctbal, 0.75) * 1e6 + 5e-1) / 1e6
               - floor(quantile_cont(c_acctbal, 0.25) * 1e6 + 5e-1) / 1e6
               AS iqr
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           floor(((c.c_acctbal - b.med) / b.iqr) * 1e6 + 5e-1) / 1e6
             AS scaled
    FROM customer c JOIN b USING (c_mktsegment)
    """,
    doc="Per-group robust scaling ((x - median) / IQR from exact "
    "percentiles — the outlier-insensitive normalizer): one "
    "group-cardinality percentile aggregate broadcast back, row-local "
    "transform; fixed-point floor rounding (engine-portable, see "
    "NOTES round() seam).",
)
def q_feature_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    from spark_extensions_spark.functions.fixedpoint import fp_col

    b = c.groupBy("c_mktsegment").agg(
        fp_col(F.expr("percentile(c_acctbal, 0.5)"), 6).alias("med"),
        (
            fp_col(F.expr("percentile(c_acctbal, 0.75)"), 6)
            - fp_col(F.expr("percentile(c_acctbal, 0.25)"), 6)
        ).alias("iqr"),
    )
    return c.join(F.broadcast(b), "c_mktsegment").select(
        "c_custkey",
        "c_mktsegment",
        fp_col((F.col("c_acctbal") - F.col("med")) / F.col("iqr"), 6).alias(
            "scaled"
        ),
    )


@_register(
    "dim_calendar",
    """
    SELECT CAST(d AS DATE) AS cal_date,
           CAST(year(d) AS INT) AS yr,
           CAST(quarter(d) AS INT) AS qtr,
           CAST(month(d) AS INT) AS mth,
           CAST(isodow(d) AS INT) AS dow_iso,
           isodow(d) >= 6 AS is_weekend,
           CAST(strftime(d, '%Y-%m') AS VARCHAR) AS year_month,
           CAST(date_trunc('week', d) AS DATE) AS week_start,
           CAST(last_day(d) AS DATE) AS month_end
    FROM (
      SELECT UNNEST(generate_series(DATE '1995-01-01', DATE '2001-12-31',
                                    INTERVAL 1 DAY)) AS d
    )
    """,
    doc="Calendar dimension builder: a dense date spine with "
    "year/quarter/month/ISO-dow/weekend/month-boundary attributes via "
    "sequence() + explode — generated, never stored as input; the "
    "join-ready conformed dimension every warehouse pipeline needs. "
    "Row-local generation, zero shuffle.",
)
def q_dim_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("2001-12-31").cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("cal_date")
    )
    d = F.col("cal_date")
    # Spark dayofweek: Sun=1..Sat=7 -> ISO Mon=1..Sun=7
    dow_iso = ((F.dayofweek(d) + 5) % 7) + 1
    return spine.select(
        d.alias("cal_date"),
        F.year(d).cast("int").alias("yr"),
        F.quarter(d).cast("int").alias("qtr"),
        F.month(d).cast("int").alias("mth"),
        dow_iso.cast("int").alias("dow_iso"),
        (dow_iso >= 6).alias("is_weekend"),
        F.date_format(d, "yyyy-MM").alias("year_month"),
        F.date_trunc("week", d).cast("date").alias("week_start"),
        F.last_day(d).alias("month_end"),
    )


@_register(
    "agg_kmv_distinct",
    __import__(
        "spark_extensions_spark.operators.sketches", fromlist=["x"]
    ).kmv_oracle_sql("orders", "o_custkey", 256),
    doc="KMV distinct-count sketch over order customers "
    "(operators/sketches.py:kmv_sketch; Bar-Yossef et al. 2002): the "
    "k smallest md5 values -> (k-1)/max_kth estimate. Fully "
    "DETERMINISTIC (md5 order), so unlike HLL the sketch estimate "
    "hash-matches the SQL oracle exactly; merge = top-k of the union.",
)
def q_agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.sketches import kmv_sketch

    orders = _t(spark, sf_dir, "orders")["orders"]
    return kmv_sketch(orders, "o_custkey", 256)


@_register(
    "privacy_pseudonymize",
    f"""
    SELECT c_custkey,
           {__import__("spark_extensions_spark.functions.text", fromlist=["x"]).pseudonymize_duck("c_name", "s3cr3t")} AS name_token,
           {__import__("spark_extensions_spark.functions.text", fromlist=["x"]).pseudonymize_duck("c_custkey", "s3cr3t")} AS key_token,
           c_mktsegment
    FROM customer
    """,
    doc="Keyed pseudonymization (functions/text.py:pseudonymize): "
    "stable sha2(secret:value) tokens preserve referential integrity "
    "across tables (same value -> same token) while being "
    "irreversible without the secret — the privacy op redaction "
    "can't provide; row-local, codegen, zero shuffle.",
)
def q_privacy_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.functions.text import pseudonymize

    cust = _t(spark, sf_dir, "customer")["customer"]
    return cust.select(
        "c_custkey",
        pseudonymize("c_name", "s3cr3t").alias("name_token"),
        pseudonymize("c_custkey", "s3cr3t").alias("key_token"),
        "c_mktsegment",
    )

# batch-29 queries register themselves on import
from spark_extensions_spark import queries26  # noqa: E402,F401  (registration side effect)
