"""t2 query registry, batch 34: multi-source BFS, incremental join
maintenance, the CDC changefeed, GDPR erasure, and leakage-safe
group splits.

Registered into the shared registry (imported from queries33 at module
end). Same determinism rules as the queries.py docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_extensions_spark.operators.sampling import (
    hash_bucket,
    hash_bucket_duck,
)
from spark_extensions_spark.queries import _register, _t
from spark_extensions_spark.queries25 import _LPA_EDGES_SQL
from spark_extensions_spark.session import scratch_dir


# =====================================================================
# Multi-source BFS layers (graph family)
# =====================================================================

_BFS_SEEDS_SQL = (
    f"SELECT DISTINCT src AS node FROM ({_LPA_EDGES_SQL}) WHERE src % 50 = 0"
)


@_register(
    "graph_bfs",
    __import__(
        "spark_extensions_spark.operators.graph", fromlist=["x"]
    ).bfs_oracle_sql(_LPA_EDGES_SQL, _BFS_SEEDS_SQL, rounds=3),
    doc="Multi-source BFS hop distances over the part bought-together "
    "graph (operators/graph.py:bfs_layers): 3 synchronous frontier "
    "expansions from a deterministic seed set — the reachability/"
    "radius primitive behind influence propagation and contamination "
    "spread analyses. Round r joins the frontier (dist = r) onto the "
    "persisted dst-partitioned symmetric edge list and min-aggregates "
    "without an exchange; the one (node, dist) table is the lazily "
    "checkpointed round state, and no round probes for an empty "
    "frontier. Unrolled-CTE oracle, fully hash-checked.",
)
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.graph import (
        bfs_layers,
        canonical_edges,
    )
    from spark_extensions_spark.queries21 import _part_edges

    # one materialization of the w·(w-1)/2 co-purchase expansion: the
    # seed scan and the BFS symmetrization both consume it (lazily it
    # re-ran as two identical 2.2 s jobs at sf0.1)
    edges = _part_edges(spark, sf_dir).localCheckpoint(eager=False)
    seeds = (
        canonical_edges(edges, "src", "dst")
        .filter(F.col("src") % 50 == 0)
        .select(F.col("src").alias("node"))
        .distinct()
    )
    return bfs_layers(edges, seeds, rounds=3)


# =====================================================================
# Incremental join maintenance (insert-only delta identity)
# =====================================================================

@_register(
    "incremental_join_delta",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment, o.o_totalprice
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="Incremental view maintenance of a materialized join "
    "(operators/incremental.py:join_delta_refresh): the base view "
    "A JOIN B plus the insert-only delta dA JOIN (B u dB) UNION "
    "A JOIN dB must equal the full recompute — the IVM identity that "
    "keeps a 100 TB materialized join refreshable at per-batch cost "
    "proportional to the deltas (dA probes B once; the small dB "
    "broadcasts against A). The oracle IS the full recompute: "
    "equality is the whole check.",
)
def q_incremental_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.incremental import (
        join_delta_refresh,
    )

    t = _t(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    cut = F.lit("1997-01-01").cast("timestamp")
    a = o.filter(F.col("o_orderdate") < cut)
    da = o.filter(F.col("o_orderdate") >= cut)
    b = c.filter(F.col("c_custkey") % 10 != 0)
    db = c.filter(F.col("c_custkey") % 10 == 0)
    on = F.col("c_custkey") == F.col("o_custkey")
    cols = ["o_orderkey", "o_custkey", "c_mktsegment", "o_totalprice"]
    base = a.join(b, on).select(*cols)
    delta = join_delta_refresh(a, da, b, db, on).select(*cols)
    return base.unionByName(delta)


# =====================================================================
# CDC changefeed (table_changes over the versioned state)
# =====================================================================

def _changefeed_oracle() -> str:
    def gen(i: int, bound: str) -> str:
        return f"""g{i} AS (
      SELECT user_id, event_id FROM (
        SELECT user_id, event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE {bound}
      ) WHERE rn = 1 AND event_type <> 'error'
    )"""

    def diff(i: int) -> str:
        return f"""
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NOT NULL AND n.user_id IS NOT NULL
                  THEN 'U'
                WHEN n.user_id IS NOT NULL THEN 'I'
                ELSE 'D' END AS change_type,
           o.event_id AS old_event_id,
           n.event_id AS new_event_id,
           CAST({i} AS INT) AS version
    FROM g{i - 1} o FULL JOIN g{i} n ON o.user_id = n.user_id
    WHERE o.user_id IS NULL OR n.user_id IS NULL
       OR o.event_id <> n.event_id
    """

    return (
        "WITH "
        + ",\n".join(
            [
                gen(0, "event_id < 4000"),
                gen(1, "event_id < 7000"),
                gen(2, "TRUE"),
            ]
        )
        + diff(1)
        + "UNION ALL"
        + diff(2)
    )


@_register(
    "cdc_changefeed",
    _changefeed_oracle(),
    doc="Change-data-feed read over the versioned CDC state "
    "(operators/incremental.py:read_cdc_changes): three change "
    "batches commit through apply_cdc_batch, then table_changes(v0 -> "
    "v2) reconstructs every I/U/D with the version that introduced it "
    "from the immutable snapshots — the downstream-consumer surface "
    "(sync a search index, invalidate caches) lakehouse formats call "
    "CDF. One snapshot_diff full-outer join per version step. Oracle "
    "recomputes both diffs from the raw events.",
)
def q_cdc_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from spark_extensions_spark.operators.incremental import (
        apply_cdc_batch,
        read_cdc_changes,
    )

    e = _t(spark, sf_dir, "events")["events"]
    state = scratch_dir("cdc_cf_q_")

    def changes(cond):
        return e.filter(cond).select(
            "user_id",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "event_id",
        )

    apply_cdc_batch(
        changes(F.col("event_id") < 4000), state, ["user_id"], "event_id"
    )
    apply_cdc_batch(
        changes((F.col("event_id") >= 4000) & (F.col("event_id") < 7000)),
        state,
        ["user_id"],
        "event_id",
    )
    apply_cdc_batch(
        changes(F.col("event_id") >= 7000), state, ["user_id"], "event_id"
    )
    cf = read_cdc_changes(spark, state, 0, 2, ["user_id"])
    return cf.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "change_type",
        F.col("old_event_id").cast("bigint").alias("old_event_id"),
        F.col("new_event_id").cast("bigint").alias("new_event_id"),
        "version",
    )


# =====================================================================
# GDPR erasure sweep
# =====================================================================

@_register(
    "privacy_erasure_sweep",
    """
    WITH del AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_before,
           CAST(COUNT(*) FILTER (WHERE d.user_id IS NULL) AS BIGINT)
             AS n_after,
           CAST(COUNT(*) FILTER (WHERE d.user_id IS NOT NULL) AS BIGINT)
             AS n_erased
    FROM events e LEFT JOIN del d ON d.user_id = e.user_id
    GROUP BY e.event_type
    """,
    doc="GDPR/right-to-be-forgotten erasure sweep: a deletion list "
    "(users who raised an 'error' event, standing in for erasure "
    "requests) is anti-joined out of the fact table, with a per-"
    "event-type before/after/erased audit — the deletion-with-proof "
    "pass a data platform must run on demand. The (small) delete "
    "list broadcasts, so the fact table never shuffles; at 100 TB "
    "this composes with partition-pruned rewrites "
    "(backfill_partitions) to physically materialize the erasure.",
)
def q_privacy_erasure_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    dels = (
        e.filter(F.col("event_type") == "error")
        .select("user_id")
        .distinct()
    )
    marked = e.join(
        F.broadcast(dels.withColumn("__del", F.lit(True))),
        "user_id",
        "left",
    )
    return marked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before"),
        F.count(F.when(F.col("__del").isNull(), 1))
        .cast("bigint")
        .alias("n_after"),
        F.count(F.when(F.col("__del").isNotNull(), 1))
        .cast("bigint")
        .alias("n_erased"),
    )


# =====================================================================
# Leakage-safe group split
# =====================================================================

@_register(
    "sample_group_split",
    f"""
    SELECT doc_id, source,
           CASE WHEN {hash_bucket_duck('source', 'gsplit', 100)} < 80
                  THEN 'train'
                WHEN {hash_bucket_duck('source', 'gsplit', 100)} < 90
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="Leakage-safe GROUP-level train/val/test split: the split key "
    "is the SOURCE (domain), not the document — near-duplicates and "
    "templated pages cluster within a source, so a per-document hash "
    "split leaks eval content into training; hashing the group puts "
    "every document of a source on the same side by construction "
    "(the standard contamination control, complementing the n-gram "
    "decontamination pass). Row-local md5 bucket shared with the "
    "oracle, zero shuffle, stable under re-runs and backfills.",
)
def q_sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    b = hash_bucket("source", "gsplit", 100)
    return docs.select(
        "doc_id",
        "source",
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )

from spark_extensions_spark import queries35  # noqa: E402,F401  (registration side effect)
