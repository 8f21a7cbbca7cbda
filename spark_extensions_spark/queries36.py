"""t2 query registry, batch 36: alignment-data construction and
annotation agreement.

Registered into the shared registry (imported from queries35 at module
end). Same determinism rules as the queries.py docstring.

Three additions to the LLM-data-pipeline layer, each fully
hash-checked against a DuckDB oracle:

- ``rlhf_preference_pairs``: per-prompt (chosen, rejected) response
  pairs by a deterministic integer quality score
  (operators/alignment.py:preference_pairs) — the DPO/RLHF-preference
  input format.
- ``embedding_hard_negatives``: per anchor, the k most-similar
  wrong-label vectors (operators/alignment.py:hard_negatives) — the
  hard negatives contrastive training mines, skew-safe two-stage
  top-k.
- ``stat_cohen_kappa``: chance-corrected agreement between two
  deterministic raters (operators/stats.py:cohen_kappa) — the
  labeled-data quality gate, exact integer math to one final double
  division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.queries import _cosine_duck, _register, _t, EMB_DIM
from spark_extensions_spark.operators.alignment import (
    hard_negatives,
    hard_negatives_oracle_sql,
    preference_pairs,
    preference_pairs_oracle_sql,
)
from spark_extensions_spark.operators.stats import (
    cohen_kappa,
    cohen_kappa_oracle_sql,
)


# =====================================================================
# DPO preference pairs over synthetic per-prompt candidate groups
# =====================================================================

# documents carry no prompt key, so candidates are grouped by a doc-id
# hash bucket (~8 per group at sf0.01) and scored by a deterministic
# integer quality signal: distinct-token count dominates, total chars
# breaks ties — both engines compute it with identical integer ops.
_PP_GROUPS = 64
_PP_SCORE_SPARK = (
    "cast(size(array_distinct(split(text, ' '))) as bigint) * 100000"
    " + n_chars"
)
_PP_SCORE_DUCK = (
    "len(list_distinct(string_split(text, ' '))) * 100000 + n_chars"
)


@_register(
    "rlhf_preference_pairs",
    preference_pairs_oracle_sql(
        f"""SELECT doc_id % {_PP_GROUPS} AS prompt_id, doc_id,
                   CAST({_PP_SCORE_DUCK} AS BIGINT) AS score
            FROM documents""",
        "prompt_id",
        "doc_id",
        "score",
        min_margin=1,
    ),
    doc="DPO/RLHF preference-pair construction (operators/alignment.py:"
    "preference_pairs): per prompt group, chosen = highest-scored "
    "candidate, rejected = lowest (deterministic id tiebreaks), pairs "
    "below the score margin dropped. ONE map-side-combinable hash "
    "aggregate on the prompt key (tiebreaks as struct extrema) — one "
    "scan, no window sort, no join-back; skew-immune because the "
    "partial state is two structs and a count per prompt. Integer "
    "scores make the margin bit-exact.",
)
def q_rlhf_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    scored = docs.select(
        (F.col("doc_id") % _PP_GROUPS).alias("prompt_id"),
        "doc_id",
        F.expr(_PP_SCORE_SPARK).cast("bigint").alias("score"),
    )
    return preference_pairs(
        scored, "prompt_id", "doc_id", "score", min_margin=1
    )


# =====================================================================
# Hard-negative mining for contrastive embedding training
# =====================================================================

_HN_ANCHORS = (0, 1, 2, 3, 4)
_HN_K = 5


@_register(
    "embedding_hard_negatives",
    hard_negatives_oracle_sql(
        _cosine_duck("e.embedding", "a.embedding", EMB_DIM),
        _HN_ANCHORS,
        _HN_K,
    ),
    doc="Hard-negative mining (operators/alignment.py:hard_negatives): "
    "per broadcast anchor, the 5 most-cosine-similar vectors with a "
    "DIFFERENT label — row-local sequential-fold scoring (bit-exact "
    "across engines), then skew-safe two-stage per-anchor top-k (per "
    "(anchor, hash-bucket) then per anchor) so no task sorts a "
    "corpus-sized candidate list; bit-identical to the one-window "
    "oracle form. Beyond-broadcast anchor sets pre-prune via the IVF "
    "index instead of exact all-pairs.",
)
def q_embedding_hard_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    return hard_negatives(
        emb,
        "vec_id",
        "embedding",
        "label",
        _HN_ANCHORS,
        _HN_K,
        EMB_DIM,
    )


# =====================================================================
# Cohen's kappa between two deterministic quality raters
# =====================================================================

# Rater A: a length-band rule; rater B: a distinct-token-ratio rule.
# Pure integer comparisons — identical booleans on both engines.
_KAPPA_A_SPARK = "n_chars BETWEEN 120 AND 200"
_KAPPA_B_SPARK = (
    "size(array_distinct(split(text, ' '))) * 2 >= size(split(text, ' '))"
)
_KAPPA_A_DUCK = "n_chars BETWEEN 120 AND 200"
_KAPPA_B_DUCK = (
    "len(list_distinct(string_split(text, ' '))) * 2 "
    ">= len(string_split(text, ' '))"
)


@_register(
    "stat_cohen_kappa",
    cohen_kappa_oracle_sql(
        f"""SELECT ({_KAPPA_A_DUCK}) AS qa, ({_KAPPA_B_DUCK}) AS qb
            FROM documents""",
        "qa",
        "qb",
    ),
    doc="Inter-annotator agreement: Cohen's kappa between a length-band "
    "rater and a distinct-token-ratio rater (operators/stats.py:"
    "cohen_kappa) — the labeled-data quality gate. ONE scan to the "
    "C²-row confusion matrix (map-side combinable), marginal combine "
    "over that tiny table; exact integer math up to one final double "
    "division of exactly-representable BIGINTs.",
)
def q_stat_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    rated = docs.select(
        F.expr(_KAPPA_A_SPARK).alias("qa"),
        F.expr(_KAPPA_B_SPARK).alias("qb"),
    )
    return cohen_kappa(rated, "qa", "qb")


# =====================================================================
# Streaming state-store inspection (Spark 4 state data source)
# =====================================================================

@_register(
    "streaming_state_inspect",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events GROUP BY user_id
    """,
    doc="Offline inspection of a streaming checkpoint's state store "
    "(streaming/ops.py:read_state, the Spark 4 state data source): a "
    "complete-mode count/max aggregate over the events stream runs to "
    "completion under availableNow, then the state is read BACK from "
    "the checkpoint as a batch DataFrame and flattened — the ops/debug "
    "surface for key-skew and state-growth audits. Reads are "
    "partition-parallel over the store's shuffle partitions, no "
    "driver-side reconstruction. The recovered state of a complete-"
    "mode count/max agg IS the batch aggregate, so the oracle is the "
    "batch SQL twin — exact integers only.",
)
def q_streaming_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.session import scratch_dir

    from spark_extensions_spark.queries2 import _events_stream_path
    from spark_extensions_spark.streaming import (
        read_state,
        read_stream_parquet,
        run_available_now,
    )

    ckpt = scratch_dir("state_inspect_ck_")
    stream = read_stream_parquet(spark, _events_stream_path(spark, sf_dir))
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("event_id").alias("max_event_id"),
    )
    run_available_now(
        agg, output_mode="complete", checkpoint_dir=ckpt,
        state_partitions=8,
    )
    st = read_state(spark, ckpt)
    return st.select(
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("bigint").alias("n_events"),
        F.col("value.max").cast("bigint").alias("max_event_id"),
    )


# =====================================================================
# WARC/WET (Common Crawl) round-trip
# =====================================================================

def _wet_dir(spark: SparkSession, sf_dir: str) -> str:
    """documents rendered as WET conversion records (cached per
    (session, sf_dir))."""
    from spark_extensions_spark.session import scratch_dir

    from spark_extensions_spark.sources.warc import write_wet

    cache = getattr(spark, "_sx_wet_cache", None)
    if cache is None:
        cache = {}
        spark._sx_wet_cache = cache
    if sf_dir not in cache:
        from spark_extensions_spark.session import ensure_parallelism

        # one archive segment per partition: the one-row-group fixture
        # otherwise renders a SINGLE .wet file, and the strict reader's
        # one-task-per-archive contract then parses the whole corpus on
        # one core (measured 3.8 s at sf0.1). Real WET dumps are many
        # ~1 GB segments — splitting here mirrors that layout and is a
        # no-op on already-split inputs.
        docs = ensure_parallelism(_t(spark, sf_dir, "documents")["documents"])
        path = scratch_dir("wet_q_")
        write_wet(
            docs.select(
                F.concat(
                    F.lit("http://docs.example/"),
                    F.col("doc_id").cast("string"),
                ).alias("url"),
                "text",
            ),
            path,
            "url",
            "text",
        )
        cache[sf_dir] = path
    return cache[sf_dir]


@_register(
    "warc_wet_roundtrip",
    """
    WITH sanitized AS (
      SELECT doc_id,
             regexp_replace(text, '(?m)^WARC/1\\.0$', ' WARC/1.0', 'g')
               AS text
      FROM documents
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           'conversion' AS record_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
           md5(text) AS payload_md5
    FROM sanitized
    """,
    doc="WARC/WET (Common Crawl) ingestion round-trip (sources/warc.py): "
    "documents rendered as deterministic WET conversion records "
    "(write_wet: fixed header order, md5 record ids), read back with "
    "the STRICT Content-Length-honoring reader (binaryFile + "
    "Arrow-batched mapInPandas, one task per archive file — how Common "
    "Crawl's ~1 GB segments parallelize). The oracle applies the "
    "writer's sentinel sanitization so the round-trip is checked on "
    "exactly the bytes written; the JVM-side lineSep fast path is "
    "equality-tested against strict in pytest (incl. CRLF archives, "
    "trailing-newline payloads, embedded sentinels).",
)
def q_warc_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.sources.warc import read_wet_strict

    recs = read_wet_strict(spark, _wet_dir(spark, sf_dir))
    return recs.select(
        F.regexp_extract(F.col("target_uri"), r"/(\d+)$", 1)
        .cast("bigint")
        .alias("doc_id"),
        "record_type",
        "content_length",
        F.md5(F.col("payload").cast("binary")).alias("payload_md5"),
    )


# =====================================================================
# Pipeline: curation -> dedup -> scoring -> DPO preference pairs
# =====================================================================

_ALIGN_GROUPS = 128
_ALIGN_SCORED_DUCK = f"""
WITH wordy AS (
  SELECT doc_id, text, n_chars,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words
  FROM documents
), gated AS (
  SELECT * FROM wordy WHERE n_words >= 20
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)
), survivors AS (
  SELECT g.* FROM gated g JOIN keep k ON g.doc_id = k.doc_id
)
SELECT doc_id % {_ALIGN_GROUPS} AS prompt_id, doc_id,
       CAST(n_words * 100000 + n_chars AS BIGINT) AS score
FROM survivors
"""


@_register(
    "pipeline_alignment_mix",
    f"""
    WITH pairs AS (
      {preference_pairs_oracle_sql(_ALIGN_SCORED_DUCK, "prompt_id", "doc_id", "score", min_margin=1)}
    )
    SELECT p.prompt_id, p.chosen_id, p.rejected_id, p.margin,
           p.n_candidates,
           md5(c.text) AS chosen_md5, md5(r.text) AS rejected_md5
    FROM pairs p
    JOIN documents c ON p.chosen_id = c.doc_id
    JOIN documents r ON p.rejected_id = r.doc_id
    """,
    doc="Alignment-data pipeline as ONE dataflow: quality gate (word "
    "count) -> exact dedup keeping the first doc per content hash -> "
    "deterministic integer scoring -> DPO preference pairs per prompt "
    "bucket (operators/alignment.py:preference_pairs, single "
    "aggregate) -> text payload join-back fingerprinted by md5. "
    "Shuffle budget: one dedup hash agg + one pair aggregate + two "
    "id-keyed join-backs; gates and scoring are row-local, so the "
    "pipeline is a single pass over the corpus plus id-local joins.",
)
def q_pipeline_alignment_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    wordy = docs.select(
        "doc_id",
        "text",
        "n_chars",
        F.size(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("n_words"),
    )
    gated = wordy.filter(F.col("n_words") >= 20)
    keep = gated.groupBy(F.md5(F.col("text").cast("binary"))).agg(
        F.min("doc_id").alias("doc_id")
    )
    # plain id join: the keep set is O(distinct documents) — near
    # corpus-sized at scale, so forcing a broadcast would OOM; AQE
    # still broadcasts when it actually fits
    survivors = gated.join(keep.select("doc_id"), "doc_id")
    scored = survivors.select(
        (F.col("doc_id") % _ALIGN_GROUPS).alias("prompt_id"),
        "doc_id",
        (F.col("n_words").cast("bigint") * 100000 + F.col("n_chars"))
        .alias("score"),
    )
    pairs = preference_pairs(
        scored, "prompt_id", "doc_id", "score", min_margin=1
    )
    texts = docs.select("doc_id", F.md5(F.col("text").cast("binary")).alias("m"))
    return (
        pairs.join(
            texts.withColumnRenamed("doc_id", "chosen_id").withColumnRenamed(
                "m", "chosen_md5"
            ),
            "chosen_id",
        )
        .join(
            texts.withColumnRenamed("doc_id", "rejected_id")
            .withColumnRenamed("m", "rejected_md5"),
            "rejected_id",
        )
        .select(
            "prompt_id",
            "chosen_id",
            "rejected_id",
            "margin",
            "n_candidates",
            "chosen_md5",
            "rejected_md5",
        )
    )


# =====================================================================
# Corpus-scale hard negatives: IVF-pruned candidates, full oracle
# =====================================================================

_HNI_LISTS, _HNI_PROBE, _HNI_K, _HNI_ANCHORS = 8, 3, 5, 5


def _hard_negatives_ivf_oracle() -> str:
    from spark_extensions_spark.operators.similarity import lsh_quantize_duck

    dist = (
        "CAST(list_sum(list_transform(list_zip(e.qq, c.cq), "
        "p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT)"
    )
    return f"""
    WITH eq AS (
      SELECT vec_id, embedding, label,
             {lsh_quantize_duck('embedding')} AS qq
      FROM embeddings
    ), cent AS (
      SELECT list_id, cq FROM (
        SELECT ROW_NUMBER() OVER (
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS list_id,
               qq AS cq
        FROM eq
      ) WHERE list_id < {_HNI_LISTS}
    ), dists AS (
      SELECT e.vec_id, e.embedding, e.label, c.list_id, {dist} AS dist
      FROM eq e CROSS JOIN cent c
    ), assigned AS (
      SELECT vec_id, embedding, label, list_id FROM (
        SELECT vec_id, embedding, label, list_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, list_id) AS rn
        FROM dists
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS anchor_id, embedding AS aemb, label AS albl,
             list_id
      FROM (
        SELECT vec_id, embedding, label, list_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, list_id) AS rn
        FROM dists WHERE vec_id < {_HNI_ANCHORS}
      ) WHERE rn <= {_HNI_PROBE}
    ), s AS (
      SELECT p.anchor_id, a.vec_id AS neg_id,
             {_cosine_duck('p.aemb', 'a.embedding', EMB_DIM)} AS cosine
      FROM probes p JOIN assigned a USING (list_id)
      WHERE a.label <> p.albl AND a.vec_id <> p.anchor_id
    )
    SELECT anchor_id, neg_id, rank, cosine FROM (
      SELECT anchor_id, neg_id, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY anchor_id ORDER BY cosine DESC, neg_id
             ) AS rank
      FROM s
    ) WHERE rank <= {_HNI_K}
    """


@_register(
    "embedding_hard_negatives_ivf",
    _hard_negatives_ivf_oracle(),
    doc="Corpus-scale hard-negative mining via deterministic IVF "
    "pruning (operators/alignment.py:hard_negatives_ivf): anchors stay "
    "a DataFrame (never collected), each probes its 3 nearest of 8 "
    "md5-picked exact-int IVF cells, candidates come from a plain "
    "equi-join on the cell id (corpus hashed once; AQE broadcasts the "
    "smaller side when it fits), wrong-label filter, exact fold "
    "cosine, skew-safe grouped top-k. Approximate by design yet "
    "bit-deterministic, so fully hash-checked — the beyond-broadcast "
    "regime of embedding_hard_negatives.",
)
def q_embedding_hard_negatives_ivf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from spark_extensions_spark.operators.alignment import hard_negatives_ivf

    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    anchors = emb.filter(F.col("vec_id") < _HNI_ANCHORS)
    return hard_negatives_ivf(
        emb, anchors, "vec_id", "embedding", "label",
        k=_HNI_K, dim=EMB_DIM, n_lists=_HNI_LISTS, n_probe=_HNI_PROBE,
    )

from spark_extensions_spark import queries37  # noqa: E402,F401  (registration side effect)
