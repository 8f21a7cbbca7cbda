"""t2 query registry, batch 40: the pretraining-mix flagship.

Registered into the shared registry (imported from queries39 at module
end). Same determinism rules as the queries.py docstring.

- ``pipeline_pretrain_mix``: the whole domain-mixing recipe as ONE
  dataflow — quality gate → exact dedup → per-language token mass →
  largest-remainder budget apportionment → per-language token-budget
  cap in deterministic hash order → per-language mix summary. This is
  the pass that turns a cleaned crawl into the "X tokens of lang A,
  Y of lang B" pretraining mix, end-to-end hash-verified.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spark_extensions_spark.queries import _register, _t
from spark_extensions_spark.operators.sampling import (
    hash_bucket_duck,
    largest_remainder_alloc,
    largest_remainder_alloc_sql,
    token_budget_cap,
)

_MIX_BUDGET = 50_000  # tokens to draw across all languages
_MIX_MIN_WORDS = 20


def _pretrain_mix_oracle() -> str:
    surv = f"""
      SELECT g.doc_id, g.lang, g.n_words FROM (
        SELECT doc_id, lang, text,
               len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words
        FROM documents
      ) g
      JOIN (
        SELECT MIN(doc_id) AS doc_id FROM (
          SELECT doc_id, md5(text) AS h FROM documents
          WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                >= {_MIX_MIN_WORDS}
        ) GROUP BY h
      ) k USING (doc_id)
      WHERE g.n_words >= {_MIX_MIN_WORDS}
    """
    alloc = largest_remainder_alloc_sql(
        f"SELECT lang, CAST(SUM(n_words) AS BIGINT) AS mass"
        f" FROM ({surv}) s0 GROUP BY lang",
        "lang",
        "mass",
        _MIX_BUDGET,
    )
    return f"""
    WITH surv AS ({surv}),
    alloc AS (SELECT * FROM ({alloc}) a0),
    cum AS (
      SELECT s.lang, s.doc_id, s.n_words, a.mass, a.alloc,
             CAST(SUM(s.n_words) OVER (
               PARTITION BY s.lang
               ORDER BY {hash_bucket_duck('doc_id', 'mix', 1 << 60)},
                        s.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM surv s JOIN alloc a USING (lang)
    )
    SELECT lang, mass, CAST(alloc AS BIGINT) AS alloc,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_words) AS BIGINT) AS tokens_kept
    FROM cum WHERE cum_tokens <= alloc
    GROUP BY lang, mass, alloc
    """


@_register(
    "pipeline_pretrain_mix",
    _pretrain_mix_oracle(),
    doc="The pretraining domain-mix recipe as ONE dataflow: word-count "
    "quality gate -> exact dedup (first doc per content md5) -> "
    "per-language token mass -> largest-remainder apportionment of a "
    "50k-token budget (operators/sampling.py:largest_remainder_alloc, "
    "sum(alloc)==budget exactly) -> per-language token_budget_cap in "
    "deterministic hash order with the PER-GROUP allocation as the "
    "budget column -> per-language mix summary. Shuffle budget: one "
    "dedup hash agg, one mass agg, one window on lang; the "
    "apportionment runs on the domain-sized table (never grows with "
    "the corpus) and joins back broadcast. Selection is independent "
    "of input order and cluster layout — the same mix ships from any "
    "cluster.",
)
def q_pipeline_pretrain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    wordy = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(
            F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
        ).alias("n_words"),
    )
    gated = wordy.filter(F.col("n_words") >= _MIX_MIN_WORDS)
    keep = gated.groupBy(F.md5(F.col("text").cast("binary"))).agg(
        F.min("doc_id").alias("doc_id")
    )
    surv = gated.join(keep.select("doc_id"), "doc_id").select(
        "doc_id", "lang", "n_words"
    )
    mass = surv.groupBy("lang").agg(
        F.sum("n_words").cast("bigint").alias("mass")
    )
    alloc = largest_remainder_alloc(mass, "lang", "mass", _MIX_BUDGET)
    capped = token_budget_cap(
        surv.join(alloc, "lang"),
        "lang",
        "doc_id",
        "n_words",
        budget=F.col("alloc"),
        salt="mix",
        # a dominant language must not serialize into one window task:
        # the two-phase grouped running sum bounds every task by the
        # PARTITION size (bit-identical results)
        two_phase=True,
    )
    return capped.groupBy("lang", "mass", "alloc").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_words").cast("bigint").alias("tokens_kept"),
    )


# =====================================================================
# ORC + JSON-lines sink/source roundtrip
# =====================================================================

_ORC_JSONL_SCRATCH: list = []


def _orc_jsonl_scratch_dir() -> str:
    """A FRESH subdirectory per invocation under one scratch dir, which
    is removed at interpreter exit (session.scratch_dir). The fresh
    subdir means a second invocation never overwrites files a
    previously returned — still lazy — DataFrame's file index points at
    (mode=overwrite on a shared dir would delete them and FileNotFound
    the earlier plan)."""
    import os

    if not _ORC_JSONL_SCRATCH:
        from spark_extensions_spark.session import scratch_dir

        _ORC_JSONL_SCRATCH.extend([scratch_dir("orc_jsonl_rt_"), 0])
    _ORC_JSONL_SCRATCH[1] += 1
    d = os.path.join(
        _ORC_JSONL_SCRATCH[0], f"inv{_ORC_JSONL_SCRATCH[1]}"
    )
    os.makedirs(d, exist_ok=True)
    return d

@_register(
    "io_orc_jsonl_roundtrip",
    """
    SELECT doc_id, lang, md5(text) AS text_md5,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
    doc="Columnar-ORC and JSON-lines sink/source roundtrip (the two "
    "interchange formats not already covered by the parquet/arrow/csv/"
    "xml/warc/webdataset roundtrips): documents written to both "
    "formats, read back (JSON under the EXPLICIT source schema — "
    "inference is not contract), inner-joined on doc_id with "
    "equality-filtered payloads, so any row the roundtrip corrupted "
    "drops and fails the oracle's row count. Text is md5-fingerprinted "
    "in the output (driver canonicalizer contract).",
)
def q_io_orc_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    # the written copies are consumed LAZILY by the returned plan, so
    # the directory can't be removed here — stage under ONE fixed
    # per-process path (mode=overwrite reuses it across invocations,
    # so repeated bench/grading runs don't accumulate copies) and
    # remove it at interpreter exit
    out = _orc_jsonl_scratch_dir()
    docs.write.mode("overwrite").orc(f"{out}/orc")
    docs.write.mode("overwrite").json(f"{out}/jsonl")
    orc = spark.read.orc(f"{out}/orc")
    jl = spark.read.schema(docs.schema).json(f"{out}/jsonl")
    j = orc.alias("o").join(
        jl.alias("j"), F.col("o.doc_id") == F.col("j.doc_id")
    )
    return j.filter(
        F.col("o.text").eqNullSafe(F.col("j.text"))
        & F.col("o.lang").eqNullSafe(F.col("j.lang"))
        & F.col("o.n_chars").eqNullSafe(F.col("j.n_chars"))
    ).select(
        F.col("o.doc_id").alias("doc_id"),
        F.col("o.lang").alias("lang"),
        F.md5(F.col("o.text").cast("binary")).alias("text_md5"),
        F.col("o.n_chars").cast("bigint").alias("n_chars"),
    )


# =====================================================================
# IVF probe-tuning curve: recall as a function of n_probe
# =====================================================================

_PC_PROBES = (1, 2, 4)
_PC_K = 5
_PC_LISTS = 16


def _probe_curve_oracle() -> str:
    from spark_extensions_spark.queries2 import _ann_ivf_oracle
    from spark_extensions_spark.queries38 import exact_topk_oracle

    exact = (
        "SELECT query_id, neighbor_id FROM "
        f"({exact_topk_oracle(_PC_K)}) ex0"
    )
    arms = "\n    UNION ALL\n".join(
        f"""
    SELECT {p} AS n_probe,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS sum_hits,
           CAST(COUNT(*) AS BIGINT) AS max_possible
    FROM exact e
    LEFT JOIN (
      SELECT query_id, neighbor_id
      FROM ({_ann_ivf_oracle(_PC_LISTS, p, _PC_K)}) t{p}
    ) a ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    """
        for p in _PC_PROBES
    )
    return f"WITH exact AS ({exact})\n{arms}"


@_register(
    "eval_ann_probe_curve",
    _probe_curve_oracle(),
    doc="IVF tuning curve: total recall@5 hits across the query set at "
    "n_probe = 1, 2, 4 (16 lists), against exact brute-force ground "
    "truth — the measured recall/cost frontier an index operator reads "
    "before picking n_probe, not a guess. Each arm is the "
    "deterministic IVF path (bit-reproducible list membership), so the "
    "curve is hash-exact. The exact side computes ONCE (checkpointed) "
    "and every arm joins against it; arms differ only in probe count.",
)
def q_eval_ann_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.similarity import (
        ann_ivf_candidates_det,
    )
    from spark_extensions_spark.queries38 import exact_topk_spark
    from spark_extensions_spark.queries import EMB_DIM

    emb = _t(spark, sf_dir, "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = (
        exact_topk_spark(spark, sf_dir, _PC_K)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    # ONE corpus quantize+assign and ONE scoring join for the whole
    # curve: probe sequences are nested prefixes of one deterministic
    # ordering, so arm p's candidate set is exactly probe_rank < p —
    # previously each arm re-ran the full IVF pipeline (3× corpus
    # encode at sf0.1)
    cand = ann_ivf_candidates_det(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding",
        dim=EMB_DIM, n_lists=_PC_LISTS, n_probe_max=max(_PC_PROBES),
    ).localCheckpoint(eager=False)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    arms = []
    for p in _PC_PROBES:
        approx = (
            cand.filter(F.col("probe_rank") < p)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= _PC_K)
            .select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
        )
        arms.append(
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .agg(
                F.count("__hit").alias("sum_hits"),
                F.count(F.lit(1)).alias("max_possible"),
            )
            .select(
                F.lit(p).cast("int").alias("n_probe"),
                "sum_hits",
                "max_possible",
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out


# =====================================================================
# ROUGE-2 generation-eval metric over neighbor-doc pairs
# =====================================================================

@_register(
    "eval_rouge2",
    __import__(
        "spark_extensions_spark.operators.evals", fromlist=["x"]
    ).rouge_n_oracle_sql(
        """SELECT r.doc_id, r.text AS ref_text, h.text AS hyp_text
           FROM documents r JOIN documents h ON h.doc_id = r.doc_id + 1""",
        "doc_id",
        "ref_text",
        "hyp_text",
        n=2,
    ),
    doc="ROUGE-2 with clipped counts (operators/evals.py:rouge_n; Lin "
    "2004) over deterministic neighbor-doc pairs — the summarization/"
    "distillation eval metric, exact integer math end-to-end (clipped "
    "overlap is sum(min(rc, hc)) of integer counts; P/R/F1 are "
    "cross-multiplied e6 integer divisions). Row-local n-gram "
    "expansion, two (pair, gram)-keyed hash aggregates, one equi-join "
    "— nothing corpus-sized broadcasts, no driver state.",
)
def q_eval_rouge2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.evals import rouge_n
    from spark_extensions_spark.session import ensure_parallelism

    # the bigram explosion runs in the join's output stage, which
    # inherits the one-row-group scan's single partition (measured two
    # ~1 s single-task jobs at sf0.1) — widen the scan first
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")["documents"])
    pairs = (
        docs.alias("r")
        .join(
            docs.alias("h"),
            F.col("h.doc_id") == F.col("r.doc_id") + 1,
        )
        .select(
            F.col("r.doc_id").alias("doc_id"),
            F.col("r.text").alias("ref_text"),
            F.col("h.text").alias("hyp_text"),
        )
    )
    return rouge_n(pairs, "doc_id", "ref_text", "hyp_text", n=2)

from spark_extensions_spark import queries41  # noqa: E402,F401  (registration side effect)
