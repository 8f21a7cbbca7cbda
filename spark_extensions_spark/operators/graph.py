"""Connected components over an edge DataFrame — the cluster-resolution
step a large-scale dedup pipeline runs after candidate-pair generation.

MinHash-LSH / n-gram-Jaccard emit *pairs*; picking one canonical
document per duplicate *group* requires the transitive closure of those
pairs. :func:`connected_components` computes it as iterative hash-min
label propagation, entirely with DataFrame joins/aggregations:

    label(n)  ←  min(label(n), min over neighbors m of label(m))

which converges to ``component id = min node id in the component``
within ``diameter`` rounds. Near-dup graphs are overwhelmingly tiny
dense cliques (diameter 1–2), so 3–5 rounds is typical; each round is
one join + one groupBy shuffle, both keyed by node id.

The iterative operators (all but pagerank) share one round loop,
:func:`_iterate`: each round's state is lazily ``localCheckpoint``-ed
(without truncation iteration k replans k² joins), and a convergence
test is ONE aggregate over the round's state — the count of labels
that moved, or the edge-set signature — which is also the job that
materializes the round; nothing but that scalar row reaches the
driver. Deep graphs (long chains) take the large-star/small-star pair
of Kiveris et al. ("Connected Components in MapReduce and Beyond",
SoCC'14): O(log²) rounds, where hash-min wins by constant factors on
shallow dedup cliques. LPA, k-core and BFS iterate over one persisted
layout, :func:`_symmetric`.

Reference scope note: the reference library has no graph surface; this
belongs to the LLM-data-pipeline extension layer (SURVEY.md §7 M5).
The DuckDB oracle is a recursive-CTE transitive closure
(:func:`cc_oracle_sql`) — exact, so both components operators are
fully hash-checked (see queries4.dedup_clusters).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Iterative operators carry a node-sized table (labels / ranks /
# distances / surviving-degree sets) through every round. Its lineage
# is localCheckpoint-ed, which HIDES size statistics from Catalyst —
# so without a hint the per-round join plans as a sort-merge join that
# re-shuffles the full EDGE list every round (measured: LPA at sf0.1
# paid 2 SMJs/round). Below this node-count bound we hint broadcast
# (2M nodes x ~16B = ~32MB, comfortably under executor memory); above
# it the shuffle join is the correct plan and we keep it.
_BROADCAST_NODES_MAX = 2_000_000
# contract bound for served anchor sets (link_predict_anchored): unlike
# _BROADCAST_NODES_MAX — a plan HINT whose overflow just picks the
# shuffle join — exceeding this is a misuse of the anchored form and
# raises, mirroring hard_negatives (operators/alignment.py:305-310)
_ANCHORS_BROADCAST_MAX = 2_000_000


def _maybe_broadcast(df: DataFrame, n_nodes: int) -> DataFrame:
    return F.broadcast(df) if n_nodes <= _BROADCAST_NODES_MAX else df


def _persist(df: DataFrame) -> DataFrame:
    """``df`` persisted columnar (compressed, disk-spilling), unless the
    CacheManager already holds an equal plan — the lookup ``persist``
    makes itself, minus its "already cached" WARN on every warm call."""
    if df.storageLevel == StorageLevel.NONE:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def _iterate(state, step, rounds, probe=None, done=None, name=None):
    """``state = step(state, r)`` for ``r`` in ``range(rounds)``; each
    round's state is ``localCheckpoint(eager=False)``-ed, filled by the
    first job that reads it. With ``probe`` (aggregate columns), the
    probe over the round's state is the round's one action and
    ``done(prev, row)`` on the last two probe rows (``prev`` None after
    round one) ends the loop; running out of rounds then raises."""
    prev = None
    for r in range(rounds):
        state = step(state, r).localCheckpoint(eager=False)
        if probe is not None:
            row = tuple(state.agg(*probe).head())
            if done(prev, row):
                return state
            prev = row
    if probe is not None:
        raise RuntimeError(f"{name} did not converge in {rounds} rounds")
    return state


def _symmetric(edges: DataFrame, src: str, dst: str, key: str):
    """``(sym, n_nodes)``: the canonical undirected edge list in both
    directions as ``(src, dst)``, hash-partitioned by ``key`` ONCE so
    per-round aggregates on ``key`` run exchange-free (broadcast joins
    keep the stream side's layout; guide §2.4), and its node count —
    the action that fills the cache — for :func:`_maybe_broadcast`.
    Persisted columnar, not checkpointed: the round-10 memory audit saw
    row-RDD checkpoint blocks (216 MiB/partition at sf1) OOM a 0.5 g/core
    session, and truncating one distinct of lineage buys nothing."""
    from spark_extensions_spark.session import expansion_width

    e = canonical_edges(edges, src, dst)
    sym = _persist(
        e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).repartition(expansion_width(e.sparkSession), key)
    )
    return sym, sym.select("src").distinct().count()


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of the undirected edge list with its component.

    Returns ``(node, component)`` where ``component`` is the minimum
    node id reachable from ``node`` (self included); one row per
    distinct endpoint of ``edges``. Raises if ``max_iter`` rounds don't
    reach a fixpoint (guards against silent wrong answers on graphs
    deeper than expected — raise the cap or switch algorithms then).

    One Spark action per round (:func:`_iterate`): the count of labels
    that moved materializes the round's lazy checkpoint. The edge list
    and initial labels are lazy too, filled by the first round's job.
    """
    # Checkpointed once: upstream lineage (e.g. an LSH candidate-pair
    # join) must not be re-executed every round.
    sym = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .union(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Round 0 folds the first propagation into initialization.
    labels = sym.groupBy("node").agg(
        F.least(F.min("nbr"), F.first("node")).alias("component")
    )

    def step(labels: DataFrame, _r: int) -> DataFrame:
        # neighbor minimum of current labels
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("node").alias("nbr"), F.col("component").alias("c")
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("c").alias("c"))
        )
        return labels.join(nbr_min, "node", "left").select(
            "node",
            F.least("component", F.coalesce("c", "component")).alias("component"),
            (F.col("c") < F.col("component")).alias("__changed"),
        )

    return _iterate(
        labels,
        step,
        max_iter,
        probe=[F.count_if(F.col("__changed"))],
        done=lambda _prev, row: row[0] == 0,
        name="connected_components",
    ).drop("__changed")


def connected_components_star(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star.

    Same output contract as :func:`connected_components` — one
    ``(node, component)`` row per distinct endpoint, component = min
    reachable id — but converges in O(log² n) rounds regardless of
    graph DIAMETER (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC'14), where plain hash-min label propagation needs
    O(diameter) rounds. Use this for adversarially deep graphs (long
    chains, paths through near-dup transitive closures); hash-min wins
    by constant factors on the shallow-clique dedup workload.

    Each round is two shuffle pairs (groupBy min + join per phase) on
    the current edge set; the edge set only shrinks toward the star
    graph, so per-round cost decreases. Converged when the edge set's
    count and order-insensitive hash signature equal the previous
    round's — the probe that materializes the round (:func:`_iterate`).
    """
    # Checkpoint the raw pair list BEFORE the self-loop filter: both
    # the iteration's edge set AND the final node roster derive from
    # this one checkpoint, so the (potentially expensive) upstream
    # pair-generation lineage executes exactly once — deriving nodes
    # from `edges` directly would re-run it in the final join.
    E0 = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=False)
    nodes = (
        E0.select(F.col("u").alias("node"))
        .union(E0.select(F.col("v").alias("node")))
        .distinct()
    )
    # Node-count upper bound (2 per edge) gating the broadcast of the
    # node-sized per-phase min-label tables (checkpointed edges have no
    # stats, so unhinted joins plan SMJ and shuffle the edge side every
    # round; guide §3.1). The count is the job that fills E0.
    n_bound = 2 * E0.count()

    # one distinct per ROUND (after small_star): intermediate duplicate
    # edges don't change either phase's min aggregates, so per-phase
    # distincts would only add shuffles
    def large_star(e: DataFrame) -> DataFrame:
        bi = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = bi.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        return (
            bi.join(_maybe_broadcast(m, n_bound), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = directed.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        with_self = directed.union(
            directed.select("u", F.col("u").alias("v"))
        )
        return (
            with_self.join(_maybe_broadcast(m, n_bound), "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )

    E = _iterate(
        E0.filter(F.col("u") != F.col("v")),
        lambda e, _r: small_star(large_star(e)),
        max_iter,
        # bit_xor: order-insensitive, overflow-free under ANSI (the
        # edge set is distinct, so xor is a faithful set signature)
        probe=[F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))],
        done=lambda prev, row: row == prev,
        name="connected_components_star",
    )
    labels = E.select(F.col("u").alias("node"), F.col("v").alias("component"))
    return (
        nodes.join(labels, "node", "left")
        .groupBy("node")
        .agg(F.least(F.min("component"), F.first("node")).alias("component"))
    )


def cc_oracle_sql(edges_sql: str) -> str:
    """DuckDB twin of both connected-components operators: the exact
    recursive-CTE transitive closure. ``edges_sql`` selects ``(src,
    dst)`` pairs; the result is ``(node, component)``."""
    return f"""
    WITH RECURSIVE pairs AS ({edges_sql}),
    edges AS (SELECT src AS a, dst AS b FROM pairs
              UNION SELECT dst, src FROM pairs),
    reach(a, b) AS (SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    """


PAGERANK_SCALE = 1_000_000_000_000  # 1e12: integer-scaled rank units


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    A training-data pipeline uses link-graph centrality as a document /
    domain quality prior (the Common-Crawl curation recipe: rank hosts
    by the hyperlink graph, upweight central ones). This is the generic
    operator: ``edges(src, dst)`` in, ``(node, rank_scaled, rank)`` out
    after exactly ``iterations`` synchronous power-iteration rounds.

    All arithmetic is *integer-scaled* (ranks live in units of
    1/PAGERANK_SCALE): per-edge contribution is ``rank div outdeg``,
    the damping blend is ``(damping_pct * sum) div 100`` — every step
    is exact 64-bit integer math, so the result is bit-identical on any
    engine and any partitioning (no FP summation-order hazard at all).
    Truncation loses ≤ outdeg units of mass per node per round —
    irrelevant for ranking at 1e12 scale.

    Scale shape: the edge list is checkpointed once (upstream lineage —
    e.g. a fact-table distinct — runs exactly once); each round is one
    co-keyed join (edges ⋈ ranks on src) + one groupBy(dst) shuffle;
    nothing but the node count ever reaches the driver. Rounds are
    fixed (no convergence probe) — the common production choice for a
    quality prior, and what makes the DuckDB oracle an exact unrolled
    CTE chain.
    """
    # STATIC inputs persist columnar (compressed, disk-spilling) —
    # the round-10 memory audit measured the deserialized row-RDD
    # localCheckpoint blocks as the heap hog of the graph family
    # (pagerank peaked at 3.2 GB of a 4 GB cap before this change);
    # lineage above them is one distinct, so truncation buys nothing.
    # Per-round RANKS need no checkpoint either: each round rebuilds
    # from the cached nodes/e_deg, so plan depth grows linearly in
    # the fixed iteration count.
    E = _persist(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    )
    nodes = _persist(
        E.select(F.col("src").alias("node"))
        .union(E.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        # empty graph: no nodes, no ranks (operator fuzzer, round 8 —
        # the driver-side integer division below would raise on n = 0).
        # Column order matches the main return path so positional
        # consumers / unionAll across the branches bind identically.
        return nodes.select(
            F.col("node"),
            F.lit(0).cast("bigint").alias("rank_scaled"),
            F.lit(0.0).alias("rank"),
        )
    from spark_extensions_spark.session import expansion_width

    outdeg = E.groupBy("src").agg(F.count("*").alias("outdeg"))
    # Hash-partition the persisted (src, dst, outdeg) table by dst
    # ONCE: the per-round broadcast rank join preserves the stream
    # side's partitioning, so every round's groupBy(dst) contribution
    # sum runs exchange-free — one exchange here replaces one per
    # round (guide §2.4). Beyond the broadcast bound the rank join
    # itself reshuffles by src and the dst layout is simply unused.
    e_deg = _persist(
        E.join(outdeg, "src").repartition(expansion_width(E.sparkSession), "dst")
    )

    base = (PAGERANK_SCALE * (100 - damping_pct)) // (100 * n)
    r0 = PAGERANK_SCALE // n
    # Rank of a node given the previous round's contribution sums s:
    #   r = base + (damping * coalesce(s, 0)) div 100
    # Every edge src IS a node, so attaching ranks to e_deg never needs
    # the node table: the rank expression is computed INLINE on the
    # contribution join against the previous round's s (one broadcast
    # join per round instead of two — the nodes ⟕ s backfill join only
    # runs once, at the end, to emit zero-in-degree nodes). Round 1's
    # ranks are the constant r0, so it needs no join at all. Bit-exact
    # vs the two-join form: identical int64 expressions on the same
    # rows, only the join that carried them is folded away.
    r_expr = (
        f"(cast({base} as bigint)"
        f" + ({damping_pct} * coalesce(s, 0L)) div 100)"
    )
    s = None
    if iterations == 0:
        return nodes.select(
            "node",
            F.lit(r0).cast("bigint").alias("rank_scaled"),
            (F.lit(r0).cast("double") / F.lit(float(PAGERANK_SCALE))).alias(
                "rank"
            ),
        )
    for i in range(iterations):
        if s is None:
            contrib = e_deg.select(
                F.col("dst"), F.expr(f"cast({r0} as bigint) div outdeg").alias("c")
            )
        else:
            # s is node-sized with checkpoint-hidden stats: hint
            # broadcast below the bound so the edge list never
            # re-shuffles
            contrib = e_deg.join(
                _maybe_broadcast(s.withColumnRenamed("dst", "sn"), n),
                e_deg["src"] == F.col("sn"),
                "left",
            ).select(F.col("dst"), F.expr(f"{r_expr} div outdeg").alias("c"))
        s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
    ranks = nodes.join(
        _maybe_broadcast(s, n), nodes["node"] == s["dst"], "left"
    ).select("node", F.expr(r_expr).cast("bigint").alias("r"))
    return ranks.select(
        "node",
        F.col("r").alias("rank_scaled"),
        (F.col("r").cast("double") / F.lit(float(PAGERANK_SCALE))).alias("rank"),
    )


def pagerank_oracle_sql(
    edges_sql: str,
    iterations: int = 3,
    damping_pct: int = 85,
) -> str:
    """DuckDB twin of :func:`pagerank`: exact unrolled iteration CTEs.

    ``edges_sql`` must select distinct ``(src, dst)``. Integer ``//``
    floor-division matches Spark's ``div`` bit-for-bit on the
    non-negative ranks used here.
    """
    sc = PAGERANK_SCALE
    parts = [
        f"WITH e AS ({edges_sql})",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "st AS (SELECT COUNT(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src)",
        f"r0 AS (SELECT node, CAST({sc} // st.n AS BIGINT) AS r "
        "FROM nodes CROSS JOIN st)",
    ]
    prev = "r0"
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst, SUM({prev}.r // outdeg.outdeg) AS s "
            f"FROM e JOIN outdeg USING (src) "
            f"JOIN {prev} ON {prev}.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node, CAST("
            f"({sc} * (100 - {damping_pct})) // (100 * st.n) "
            f"+ ({damping_pct} * COALESCE(c{i}.s, 0)) // 100 AS BIGINT) AS r "
            f"FROM nodes CROSS JOIN st "
            f"LEFT JOIN c{i} ON c{i}.dst = nodes.node)"
        )
        prev = f"r{i}"
    return (
        ",\n".join(parts)
        + f"\nSELECT node, r AS rank_scaled, "
        f"CAST(r AS DOUBLE) / {float(sc)} AS rank FROM {prev}"
    )


def neardup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Resolve near-duplicate candidate pairs into duplicate groups.

    ``(doc_id, cluster_id)`` for every document that appears in a pair;
    ``cluster_id`` is the minimum doc id of the group — the canonical
    survivor under keep-first policy. Downstream: anti-join the corpus
    against ``doc_id != cluster_id`` rows to drop the losers.
    """
    return connected_components(pairs, id_a, id_b).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# ---------------------------------------------------------------------
# Triangle counting / degree distribution (undirected graphs)
# ---------------------------------------------------------------------


def grouped_pair_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    src: str = "src",
    dst: str = "dst",
    pre_partitioned: bool = False,
) -> DataFrame:
    """Co-occurrence pairs via ONE groupBy + a row-local expansion over
    each group's sorted DISTINCT item set: emits each unordered pair
    exactly once per group (w·(w-1)/2 rows, already ``src < dst``),
    where the naive self-join materializes w² rows per group before the
    ``a < b`` filter and needs a second shuffle.  Group width is
    bounded in co-purchase/co-occurrence data (order width, basket
    size), so the per-group O(w²) expansion is row-local work, never a
    skew risk.  ``collect_set`` makes the pair-once invariant local —
    duplicate items within a group cannot produce self-pairs no matter
    what the caller fed in.
    """
    from spark_extensions_spark.session import expansion_width

    # Pin the group exchange's width: the w·(w-1)/2 expansion below
    # runs in the post-exchange stage, and AQE coalesces the exchange
    # by its (tiny) byte size, blind to the downstream blowup — an
    # explicit keyed repartition replaces the exchange the groupBy
    # would insert anyway and is exempt from AQE coalescing. A caller
    # that already pinned a hashpartitioning(group_col) exchange
    # passes pre_partitioned=True so the same exchange serves both
    # (guide: operations keyed the same way share one exchange).
    if not pre_partitioned:
        df = df.repartition(expansion_width(df.sparkSession), group_col)
    items = df.groupBy(group_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("__gpe_ps")
    )
    return items.select(
        F.explode(
            F.expr(
                "flatten(transform(__gpe_ps, (x, i) -> "
                "transform(slice(__gpe_ps, i + 2, size(__gpe_ps)), "
                f"y -> struct(x AS {src}, y AS {dst}))))"
            )
        ).alias("__gpe_e")
    ).select(f"__gpe_e.{src}", f"__gpe_e.{dst}")


def canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list canonicalized to src < dst, deduplicated.

    One hash-distinct shuffle; self-loops dropped. The canonical
    orientation is what makes the triangle join enumerate each triangle
    exactly once (the standard compact-forward trick).
    """
    a, b = F.col(src), F.col(dst)
    return (
        edges.select(
            F.least(a, b).alias("src"), F.greatest(a, b).alias("dst")
        )
        .filter(F.col("src") < F.col("dst"))
        .distinct()
    )


def _degree_table(canonical: DataFrame) -> DataFrame:
    """Per-node degree of an already-canonical (src<dst, distinct)
    edge list: endpoint explode + one hash aggregate."""
    nodes = canonical.select(F.col("src").alias("node")).unionAll(
        canonical.select(F.col("dst").alias("node"))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))


def _wedge_mass_says_order(deg: DataFrame) -> bool:
    """Degree-ordered iff the naive wedge mass Σ C(d, 2) exceeds
    ~4·m^1.5 (the degree-ordering bound) — i.e. the histogram is
    skewed enough that hub wedges would dominate.  One small aggregate
    over the node-sized degree table + a 1-row collect."""
    import math

    row = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1)).alias("w2"),
        F.sum("deg").alias("sd"),
    ).first()
    if row["sd"] is None or row["sd"] == 0:
        return False
    m = row["sd"] / 2.0
    naive_wedges = row["w2"] / 2.0
    return naive_wedges > 4.0 * m * math.sqrt(m)


def should_degree_order(
    edges: DataFrame, src="src", dst="dst", assume_canonical: bool = False
) -> bool:
    """Probe the degree distribution and decide the triangle-count
    orientation (see :func:`_wedge_mass_says_order` for the bound).
    ``assume_canonical=True`` skips the canonicalizing distinct when
    the caller already holds a src<dst deduplicated edge list."""
    if assume_canonical:
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    else:
        e = canonical_edges(edges, src, dst)
    return _wedge_mass_says_order(_degree_table(e))


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    degree_ordered: bool | str = "auto",
) -> DataFrame:
    """Count triangles by adjacency-set intersection over an oriented
    edge list: Σ over oriented edges (u,v) of |N⁺(u) ∩ N⁺(v)|.

    Orientation makes the edge list acyclic, so every triangle has
    exactly one "base" edge (its two lowest-order vertices) and is
    counted exactly once — no wedge materialization.  Intersecting
    per-edge neighbor arrays does Σ (outdeg(u)+outdeg(v)) row-local
    hash work — O(m·d̄) versus the wedge join's O(Σ C(d,2)) — and the
    only data movement is attaching the node-sized adjacency table
    twice (broadcast while it fits, shuffle joins beyond; the
    GraphFrames/vertex-cut shape).

    ``degree_ordered=True`` orients each canonical edge from its
    lower-(degree, id) endpoint to the higher one, which caps outdeg —
    and therefore both the intersection work (O(m^1.5) total) and the
    largest adjacency array (O(√m)) — on power-law graphs; hubs get
    high rank and tiny out-lists.  ``False`` keeps the cheaper id
    orientation (better on uniform graphs).  The default ``"auto"``
    probes the degree histogram (:func:`should_degree_order`) and
    decides per input.

    Output: one row (n_triangles bigint).  The canonical edge list is
    localCheckpoint-ed first: the adjacency aggregate and the probe
    side both read it, and truncating lineage materializes the
    upstream pair-generation ONCE (same trick as
    connected_components).  The probe side is parallelism-restored
    (round-robin repartition, no-op on real multi-split edge lists):
    the per-row intersection is the compute-heavy stage and must keep
    scan width even when the checkpointed list coalesced small.
    """
    from spark_extensions_spark.session import ensure_parallelism

    e = canonical_edges(edges, src, dst).localCheckpoint(eager=False)
    deg = _degree_table(e)
    if degree_ordered == "auto":
        # Probe over the checkpointed canonical edges (no second
        # distinct).  The degree table is NOT checkpointed here — on a
        # False decision nothing would ever use it again and the pinned
        # cache would just hold executor storage; the ordered path
        # below checkpoints it before its two join branches.
        degree_ordered = _wedge_mass_says_order(deg)
    if degree_ordered:
        # two rank-attach joins read it — materialize once
        deg = deg.localCheckpoint(eager=False)
        with_d = (
            e.join(deg.withColumnRenamed("node", "src"), "src")
            .withColumnRenamed("deg", "ds")
            .join(deg.withColumnRenamed("node", "dst"), "dst")
            .withColumnRenamed("deg", "dd")
        )
        lo_first = (F.col("ds") < F.col("dd")) | (
            (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
        )
        # the (deg, id) rank order only needs to ORIENT the edges; the
        # intersection itself never compares ranks again
        e = with_d.select(
            F.when(lo_first, F.col("src")).otherwise(F.col("dst")).alias("src"),
            F.when(lo_first, F.col("dst")).otherwise(F.col("src")).alias("dst"),
        ).localCheckpoint(eager=False)
    # m gates the adjacency broadcast: the table holds one array entry
    # per edge, so EDGE count (not node count) bounds its bytes
    m = e.count()
    adj = e.groupBy("src").agg(F.collect_list("dst").alias("__nbrs"))
    adj = adj.localCheckpoint(eager=False)
    a_u = _maybe_broadcast(
        adj.select(F.col("src").alias("__u"), F.col("__nbrs").alias("__nu")), m
    )
    a_v = _maybe_broadcast(
        adj.select(F.col("src").alias("__v"), F.col("__nbrs").alias("__nv")), m
    )
    probe = ensure_parallelism(e)
    closed = probe.join(a_u, probe["src"] == F.col("__u")).join(
        a_v, F.col("dst") == F.col("__v")
    )
    return closed.agg(
        F.coalesce(
            F.sum(F.size(F.array_intersect("__nu", "__nv"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_triangles")
    )


def degree_distribution(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree histogram of the undirected graph: (degree, n_nodes).

    Canonicalize, explode both endpoints, two hash aggregates — the
    degree sequence summary used for skew diagnosis before running the
    heavier graph passes.
    """
    # materialize the canonical edges once: both endpoint-union
    # branches embed the caller's full edge construction otherwise
    e = canonical_edges(edges, src, dst).localCheckpoint(eager=False)
    return (
        _degree_table(e)
        .groupBy(F.col("deg").cast("bigint").alias("degree"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )


def cooccurrence_edges_sql(table: str, group_col: str, item_col: str) -> str:
    """Shared SQL: canonical co-occurrence edges (items sharing a group)."""
    return f"""
      SELECT DISTINCT a.{item_col} AS src, b.{item_col} AS dst
      FROM {table} a JOIN {table} b
        ON a.{group_col} = b.{group_col} AND a.{item_col} < b.{item_col}
    """


def triangle_oracle_sql(table: str, group_col: str, item_col: str) -> str:
    edges = cooccurrence_edges_sql(table, group_col, item_col)
    return f"""
    WITH e AS ({edges})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM e e1 JOIN e e2 ON e1.dst = e2.src
              JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst
    """


def degree_oracle_sql(table: str, group_col: str, item_col: str) -> str:
    edges = cooccurrence_edges_sql(table, group_col, item_col)
    return f"""
    WITH e AS ({edges}),
    nodes AS (SELECT src AS node FROM e UNION ALL SELECT dst FROM e),
    deg AS (SELECT node, COUNT(*) AS degree FROM nodes GROUP BY 1)
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY 1
    """


# ---------------------------------------------------------------------
# Label propagation communities (synchronous LPA, deterministic)
# ---------------------------------------------------------------------


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), fully deterministic: every node simultaneously adopts
    the MODAL label among its neighbors, ties broken by the SMALLEST
    label, fixed iteration count (synchronous + fixed rounds = the
    reproducible variant; classic async LPA is run-order dependent).

    Per round: one join (labels onto the symmetrized edge list), one
    (node, label) count aggregate, one max_by argmax per node.  The
    edge list is :func:`_symmetric` partitioned by ``src`` — the node
    both aggregates group on — so every round runs exchange-free
    below the broadcast bound; the labels are the :func:`_iterate`
    state.  Output: (node, community).
    """
    sym, n_nodes = _symmetric(edges, src, dst, "src")

    def step(labels: DataFrame, _r: int) -> DataFrame:
        # labels are node-sized with checkpoint-hidden stats — hint
        # broadcast below the bound so sym never re-shuffles
        msgs = sym.join(
            _maybe_broadcast(
                labels.withColumnRenamed("node", "dst"), n_nodes
            ),
            "dst",
        ).select(F.col("src").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("c")
        )
        # argmax by (count desc, label asc): max_by on (c, -label) via
        # struct ordering — encode as struct(c, negated label).
        # sym is symmetrized, so EVERY node receives ≥1 message — the
        # aggregate's node set is complete and no backfill join with
        # the node set is needed (removing it saves one shuffle per round).
        return counts.groupBy("node").agg(
            F.max_by(
                "label",
                F.struct(F.col("c"), (-F.col("label")).alias("nl")),
            ).alias("label")
        )

    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = _iterate(
        nodes.select("node", F.col("node").alias("label")), step, iterations
    )
    return labels.select("node", F.col("label").alias("community"))


def lpa_oracle_sql(edges_sql: str, iterations: int = 3) -> str:
    """DuckDB twin of :func:`label_propagation`: unrolled rounds."""
    parts = [
        f"WITH e0 AS ({edges_sql})",
        "sym AS (SELECT src, dst FROM e0 "
        "UNION ALL SELECT dst, src FROM e0)",
        "nodes AS (SELECT DISTINCT src AS node FROM sym)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    prev = "l0"
    for i in range(1, iterations + 1):
        parts.append(
            f"m{i} AS (SELECT sym.src AS node, {prev}.label, COUNT(*) AS c "
            f"FROM sym JOIN {prev} ON {prev}.node = sym.dst "
            f"GROUP BY 1, 2)"
        )
        parts.append(
            f"w{i} AS (SELECT node, label FROM m{i} "
            f"QUALIFY ROW_NUMBER() OVER (PARTITION BY node "
            f"ORDER BY c DESC, label) = 1)"
        )
        parts.append(
            f"l{i} AS (SELECT nodes.node, "
            f"COALESCE(w{i}.label, nodes.node) AS label "
            f"FROM nodes LEFT JOIN w{i} ON w{i}.node = nodes.node)"
        )
        prev = f"l{i}"
    return (
        ",\n".join(parts)
        + f"\nSELECT node, label AS community FROM {prev}"
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous k-core pruning with a FIXED round count (the
    deterministic, oracle-checkable variant of the classic peel-to-
    fixpoint algorithm; Seidman 1983): each round every node computes
    its degree in the surviving subgraph simultaneously, then all nodes
    with degree < k drop out together with their edges.

    Fixed synchronous rounds make the result a pure function of the
    input (run-to-fixpoint converges to the same core but needs a
    data-dependent round count); callers wanting the true core loop
    until the edge count stops changing.

    The :func:`_iterate` state is the surviving :func:`_symmetric`
    edge list, partitioned by ``src``: the degree aggregate groups on
    that key and the broadcast semi-joins keep it, so rounds run
    exchange-free. A row ``(a, b)`` survives iff both endpoints do, so
    its mirror survives too and the set stays symmetric.  Output:
    ``(node, deg)`` for every endpoint surviving all rounds (``deg`` =
    its residual degree).
    """
    sym, n_nodes = _symmetric(edges, src, dst, "src")

    def step(sym: DataFrame, _r: int) -> DataFrame:
        keep = (
            sym.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("src")
        )
        # keep is node-sized with checkpoint-hidden stats — hint
        # broadcast below the bound so the edge list never shuffles
        return sym.join(
            _maybe_broadcast(keep, n_nodes), "src", "left_semi"
        ).join(
            _maybe_broadcast(keep.withColumnRenamed("src", "dst"), n_nodes),
            "dst",
            "left_semi",
        )

    return (
        _iterate(sym, step, rounds)
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .withColumnRenamed("src", "node")
    )


def kcore_oracle_sql(
    edges_sql: str, k: int = 2, rounds: int = 3
) -> str:
    """DuckDB twin of :func:`k_core`: the fixed rounds unrolled as CTEs.

    ``edges_sql`` must produce DISTINCT canonical ``src < dst`` pairs
    (same contract as :func:`lpa_oracle_sql`).
    """
    parts = [f"WITH e0 AS ({edges_sql})"]
    # each round reads the previous one three times: MATERIALIZED keeps
    # the plan linear in rounds (inlined, it grows 3^rounds)
    for i in range(1, rounds + 1):
        prev = f"e{i-1}"
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT node FROM ("
            f"SELECT src AS node FROM {prev} "
            f"UNION ALL SELECT dst FROM {prev}) "
            f"GROUP BY node HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT src, dst FROM {prev} "
            f"WHERE src IN (SELECT node FROM k{i}) "
            f"AND dst IN (SELECT node FROM k{i}))"
        )
    return (
        ",\n".join(parts)
        + f"""
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
      SELECT src AS node FROM e{rounds}
      UNION ALL SELECT dst FROM e{rounds}
    ) GROUP BY node
    """
    )


def bfs_layers(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source BFS over an undirected graph, FIXED round count:
    after ``rounds`` synchronous frontier expansions every node reached
    so far carries its hop distance from the nearest seed.

    Fixed rounds keep the result a pure function of the input (and the
    oracle an unrolled CTE); run-to-fixpoint needs a data-dependent
    diameter bound.  ``seeds`` is a one-column (``node``) DataFrame;
    it is defensively deduplicated below (the frontier form unions the
    seed set into the output verbatim, so a caller-side duplicate would
    otherwise duplicate output rows — ADVICE r10).

    The :func:`_iterate` state is one ``(node, dist)`` table. A
    distance is final the round its node is first reached, so round
    ``r`` expands only the frontier ``dist == r`` over the
    :func:`_symmetric` layout partitioned by ``dst`` (the min-aggregate
    key: no per-round exchange) and anti-joins away reached nodes —
    O(m) work over all rounds.  An empty frontier adds no row, so
    rounds past the graph's depth leave the output unchanged.  Output:
    ``(node, dist)`` for every reached node.
    """
    sym, n_nodes = _symmetric(edges, src, dst, "dst")

    def step(dist: DataFrame, r: int) -> DataFrame:
        # frontier/dist are node-sized with checkpoint-hidden stats —
        # hint broadcast below the bound so the edge list never shuffles
        frontier = dist.filter(F.col("dist") == r)
        reached = sym.join(
            _maybe_broadcast(
                frontier.withColumnRenamed("node", "src"), n_nodes
            ),
            "src",
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.lit(1)).alias("dist"),
        )
        new = (
            reached.groupBy("node")
            .agg(F.min("dist").cast("bigint").alias("dist"))
            .join(
                _maybe_broadcast(dist.select("node"), n_nodes),
                "node",
                "left_anti",
            )
        )
        return dist.unionAll(new)

    dist = seeds.select("node").distinct().select(
        F.col("node"), F.lit(0).cast("bigint").alias("dist")
    )
    return _iterate(dist, step, rounds)


def bfs_oracle_sql(
    edges_sql: str, seeds_sql: str, rounds: int = 3
) -> str:
    """DuckDB twin of :func:`bfs_layers`: fixed rounds unrolled.

    ``edges_sql`` must produce DISTINCT canonical ``src < dst`` pairs;
    ``seeds_sql`` a one-column ``node`` relation (duplicates allowed).
    """
    parts = [
        f"WITH e0 AS ({edges_sql})",
        "sym AS (SELECT src, dst FROM e0 "
        "UNION ALL SELECT dst, src FROM e0)",
        # seeds deduplicated like bfs_layers' seed set: with rounds=0
        # nothing below regroups d0, so a duplicate would reach the output
        "d0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM "
        f"(SELECT DISTINCT node FROM ({seeds_sql})))",
    ]
    # each round reads the previous one twice: MATERIALIZED keeps the
    # plan linear in rounds (inlined, it grows 2^rounds — minutes at 10)
    for i in range(1, rounds + 1):
        prev = f"d{i-1}"
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, CAST(MIN(dist) AS BIGINT) "
            f"AS dist "
            f"FROM (SELECT node, dist FROM {prev} "
            f"UNION ALL "
            f"SELECT sym.dst AS node, {prev}.dist + 1 AS dist "
            f"FROM sym JOIN {prev} ON {prev}.node = sym.src) "
            f"GROUP BY node)"
        )
    return ",\n".join(parts) + f"\nSELECT node, dist FROM d{rounds}"


# ---------------------------------------------------------------------
# Common-neighbor link prediction
# ---------------------------------------------------------------------


def _adjacency(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """``(node, nbr)``: every edge in both directions, as given."""
    return edges.select(
        F.col(src).alias("node"), F.col(dst).alias("nbr")
    ).unionByName(
        edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
    )


def _degrees(nb: DataFrame):
    """``(deg, n_nodes)``: the ``(node, deg)`` table of an
    :func:`_adjacency`, checkpointed so its count and later joins share
    one aggregation, and the count that gates its broadcast — a |V|-row
    broadcast fails on a web-scale graph, where the shuffle join is the
    right plan."""
    deg = nb.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    ).localCheckpoint(eager=False)
    return deg, deg.count()


def link_predict(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
) -> DataFrame:
    """Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003):
    rank NON-adjacent node pairs by how many neighbors they share, with
    the neighborhood-Jaccard score as the normalized strength — the
    classic "people you may know" / co-purchase-recommendation shape.

    Scale shape: adjacency explodes each canonical edge both ways (two
    row-local rows per edge), candidate pairs come from
    :func:`grouped_pair_edges` over each neighbor's posting list — the
    SAME w·(w-1)/2 grouped expansion the triangle counter uses, so cost
    is Σ_v deg(v)², bounded by the hub degree, never an n² self-join.
    Degrees are one hash aggregate; existing edges leave via one
    broadcast-or-shuffle anti join on the canonical pair key.

    Output: ``(id_a, id_b, common_neighbors, jaccard_e6)`` for
    non-adjacent pairs with at least ``min_common`` shared neighbors;
    jaccard = common / (deg_a + deg_b − common), e6 fixed point.
    """
    nb = _adjacency(edges, src, dst)
    deg, n_nodes = _degrees(nb)
    pairs = grouped_pair_edges(nb, "nbr", "node", src="id_a", dst="id_b")
    common = pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors")
    )
    # min_common prunes BEFORE the anti/degree joins (it is the
    # selective predicate)
    non_adj = common.filter(F.col("common_neighbors") >= min_common).join(
        edges.select(
            F.col(src).alias("id_a"), F.col(dst).alias("id_b")
        ),
        ["id_a", "id_b"],
        "left_anti",
    )
    return (
        non_adj.join(
            _maybe_broadcast(deg.withColumnRenamed("node", "id_a"), n_nodes),
            "id_a",
        )
        .withColumnRenamed("deg", "deg_a")
        .join(
            _maybe_broadcast(deg.withColumnRenamed("node", "id_b"), n_nodes),
            "id_b",
        )
        .withColumnRenamed("deg", "deg_b")
        .select(
            "id_a",
            "id_b",
            "common_neighbors",
            F.expr(
                "cast(floor(common_neighbors / cast(deg_a + deg_b"
                " - common_neighbors as double) * 1e6 + 0.5d) as bigint)"
            ).alias("jaccard_e6"),
        )
    )


def link_predict_anchored(
    edges: DataFrame,
    anchors: DataFrame,
    node_col: str,
    src: str = "src",
    dst: str = "dst",
    min_common: int = 2,
    top_k: int = 5,
) -> DataFrame:
    """Per-anchor common-neighbor link prediction — the SERVED form of
    :func:`link_predict`: recommendations are computed for a query set
    of anchor nodes, not for every pair in the graph.

    Why this is the 100 TB shape: global all-pairs CN costs Σ_v deg(v)²
    (298M pair rows on the sf0.1 part graph — measured), which no
    output cap reduces because candidate GENERATION is the cost. The
    anchored form walks only the anchors' 2-hop:
    Σ_{a∈A} Σ_{u∈N(a)} deg(u) — linear in |A| at fixed density, the
    contract a recommendation service actually has.

    Plan: one semi join (anchor adjacency), one equi join on the
    shared-neighbor key, one hash agg on (anchor, candidate), an anti
    join dropping already-adjacent pairs, degree joins (broadcast only
    below ``_BROADCAST_NODES_MAX`` — a |V|-row broadcast is not a
    web-scale plan), and
    a per-anchor rank window (bounded by the anchor's 2-hop). Output:
    ``(anchor, candidate, common_neighbors, jaccard_e6, rank)`` with
    rank ≤ ``top_k``, deterministic tiebreak on candidate id.
    """
    # materialization barrier: the adjacency feeds FOUR consumers
    # (anchor semi join, witness join, anti join, degrees) — without
    # it the upstream edge construction re-executes per consumer
    nb = _adjacency(edges, src, dst).localCheckpoint(eager=False)
    deg, n_nodes = _degrees(nb)
    # the anchor set is contractually a served query set, but the
    # broadcast must not trust the docstring: count it once and refuse
    # beyond the broadcast bound, mirroring hard_negatives
    # (operators/alignment.py:305-310); the checkpoint shares the
    # anchors lineage between the count and the broadcast join
    anchor_set = anchors.select(F.col(node_col).alias("node")).localCheckpoint(
        eager=False
    )
    n_anchors = anchor_set.count()
    if n_anchors > _ANCHORS_BROADCAST_MAX:
        raise ValueError(
            "link_predict_anchored broadcasts the served anchor set; "
            f"{n_anchors} anchors exceeds the broadcast bound "
            f"({_ANCHORS_BROADCAST_MAX}). For corpus-scale anchor sets "
            "use link_predict (global CN, shuffle-joined) or pre-prune "
            "the anchors (e.g. the IVF index in operators/similarity.py "
            "for embedding-derived candidates) before anchoring."
        )
    a_nb = nb.join(F.broadcast(anchor_set), "node").select(
        F.col("node").alias("anchor"), "nbr"
    )
    two_hop = a_nb.join(
        nb.select(F.col("node").alias("nbr"), F.col("nbr").alias("cand")),
        "nbr",
    ).where(F.col("cand") != F.col("anchor"))
    common = two_hop.groupBy("anchor", "cand").agg(
        F.count(F.lit(1)).cast("bigint").alias("common_neighbors")
    ).filter(F.col("common_neighbors") >= min_common)
    non_adj = common.join(
        nb.select(
            F.col("node").alias("anchor"), F.col("nbr").alias("cand")
        ),
        ["anchor", "cand"],
        "left_anti",
    )
    scored = (
        non_adj.join(
            _maybe_broadcast(
                deg.withColumnRenamed("node", "anchor"), n_nodes
            ),
            "anchor",
        )
        .withColumnRenamed("deg", "deg_a")
        .join(
            _maybe_broadcast(
                deg.withColumnRenamed("node", "cand"), n_nodes
            ),
            "cand",
        )
        .withColumnRenamed("deg", "deg_b")
    )
    w = Window.partitionBy("anchor").orderBy(
        F.desc("common_neighbors"), F.col("cand")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(
            F.col("anchor"),
            F.col("cand").alias("candidate"),
            "common_neighbors",
            F.expr(
                "cast(floor(common_neighbors / cast(deg_a + deg_b"
                " - common_neighbors as double) * 1e6 + 0.5d) as bigint)"
            ).alias("jaccard_e6"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def link_predict_anchored_oracle_sql(
    table: str,
    group_col: str,
    item_col: str,
    anchor_pred: str,
    min_common: int = 2,
    top_k: int = 5,
) -> str:
    """DuckDB twin of :func:`link_predict_anchored` over the
    co-occurrence graph; ``anchor_pred`` selects anchor nodes (a SQL
    predicate over column name ``node``)."""
    edges = cooccurrence_edges_sql(table, group_col, item_col)
    return f"""
    WITH lpa_e AS ({edges}),
    lpa_nb AS (
      SELECT src AS node, dst AS nbr FROM lpa_e
      UNION ALL SELECT dst, src FROM lpa_e
    ),
    lpa_deg AS (SELECT node, COUNT(*) AS deg FROM lpa_nb GROUP BY 1),
    lpa_anchors AS (
      SELECT DISTINCT node FROM lpa_nb WHERE {anchor_pred}
    ),
    lpa_common AS (
      SELECT a.node AS anchor, b.nbr AS cand,
             COUNT(*) AS common_neighbors
      FROM lpa_nb a
      JOIN lpa_anchors an ON an.node = a.node
      JOIN lpa_nb b ON b.node = a.nbr
      WHERE b.nbr <> a.node
      GROUP BY 1, 2
      HAVING COUNT(*) >= {min_common}
    ),
    lpa_nonadj AS (
      SELECT c.* FROM lpa_common c
      LEFT JOIN lpa_nb e ON e.node = c.anchor AND e.nbr = c.cand
      WHERE e.node IS NULL
    ),
    lpa_ranked AS (
      SELECT n.anchor, n.cand, n.common_neighbors,
             CAST(FLOOR(n.common_neighbors
               / CAST(da.deg + db.deg - n.common_neighbors AS DOUBLE)
               * 1e6 + 0.5) AS BIGINT) AS jaccard_e6,
             ROW_NUMBER() OVER (PARTITION BY n.anchor
               ORDER BY n.common_neighbors DESC, n.cand) AS rank
      FROM lpa_nonadj n
      JOIN lpa_deg da ON da.node = n.anchor
      JOIN lpa_deg db ON db.node = n.cand
    )
    SELECT anchor, cand AS candidate, common_neighbors, jaccard_e6,
           CAST(rank AS INT) AS rank
    FROM lpa_ranked WHERE rank <= {top_k}
    """


# ---------------------------------------------------------------------
# Degree assortativity (Newman 2002)
# ---------------------------------------------------------------------

# Pearson r over the symmetrized endpoint-degree pairs; every sum is
# exact DECIMAL(38,0), the final r is one guarded double expression
# (sqrt is IEEE-correctly-rounded, so the value is engine-portable).
# CASE guard: a degree-regular graph has zero variance — ANSI Spark
# throws on the double division, the oracle yields NULL; both now take
# the defined NULL branch.
_ASSORT_R = (
    "case when (n * sxx - sx * sx) > 0 and (n * syy - sy * sy) > 0 "
    "then (cast(n as double) * cast(sxy as double)"
    " - cast(sx as double) * cast(sy as double))"
    " / (sqrt(cast(n as double) * cast(sxx as double)"
    "         - cast(sx as double) * cast(sx as double))"
    "    * sqrt(cast(n as double) * cast(syy as double)"
    "           - cast(sy as double) * cast(sy as double)))"
    " else null end"
)


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient of the undirected graph —
    Pearson correlation between the degrees at the two ends of each
    edge (Newman 2002). Positive: hubs link to hubs (social shape);
    negative: hubs link to leaves (web/biology shape) — the one-number
    audit of whether a co-occurrence graph is hub-dominated before
    running the heavier iterative operators on it.

    Exact-integer shape: degrees from ONE hash aggregate; two degree
    joins onto the edge list (broadcast below the module node bound,
    shuffle above — the link_predict discipline); each undirected edge
    contributes BOTH (d_u, d_v) and (d_v, d_u) so the coefficient is
    orientation-free; Σx, Σx², Σxy accumulate in DECIMAL(38,0) (degree
    ≤ 2^20 and 2^40-scale squares times billions of edges stay inside
    38 digits); ONE guarded double expression at the end.

    Output one row: ``(n_pairs, sx, sxx, sxy, r)``.
    """
    # materialization barrier: the degree aggregate and the two score
    # joins all consume nb, and each union branch embeds the caller's
    # full edge construction (lazily it ran up to four times)
    nb = _adjacency(edges, src, dst).localCheckpoint(eager=False)
    deg, n_nodes = _degrees(nb)
    sym = (
        nb.join(
            _maybe_broadcast(deg, n_nodes), "node"
        )
        .withColumnRenamed("deg", "dx")
        .join(
            _maybe_broadcast(
                deg.select(
                    F.col("node").alias("nbr"), F.col("deg").alias("dy")
                ),
                n_nodes,
            ),
            "nbr",
        )
    )
    d = "decimal(38,0)"
    agg = sym.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("dx").cast(d)).alias("sx"),
        F.sum(F.col("dy").cast(d)).alias("sy"),
        F.sum((F.col("dx") * F.col("dx")).cast(d)).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast(d)).alias("syy"),
        F.sum((F.col("dx") * F.col("dy")).cast(d)).alias("sxy"),
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        F.col("sx").cast("bigint").alias("sx"),
        F.col("sxx").cast("bigint").alias("sxx"),
        F.col("sxy").cast("bigint").alias("sxy"),
        F.expr(_ASSORT_R).alias("r"),
    )


def assortativity_oracle_sql(
    table: str, group_col: str, item_col: str
) -> str:
    """DuckDB twin of :func:`degree_assortativity` over the
    co-occurrence graph of ``item_col`` sharing ``group_col``."""
    edges = cooccurrence_edges_sql(table, group_col, item_col)
    return f"""
    WITH as_e AS ({edges}),
    as_nb AS (
      SELECT src AS node, dst AS nbr FROM as_e
      UNION ALL SELECT dst, src FROM as_e
    ),
    as_deg AS (SELECT node, COUNT(*) AS deg FROM as_nb GROUP BY 1),
    as_sym AS (
      SELECT dx.deg AS dx, dy.deg AS dy
      FROM as_nb nb
      JOIN as_deg dx ON dx.node = nb.node
      JOIN as_deg dy ON dy.node = nb.nbr
    ),
    as_agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(dx AS DECIMAL(38,0))) AS sx,
             SUM(CAST(dy AS DECIMAL(38,0))) AS sy,
             SUM(CAST(dx AS DECIMAL(38,0)) * dx) AS sxx,
             SUM(CAST(dy AS DECIMAL(38,0)) * dy) AS syy,
             SUM(CAST(dx AS DECIMAL(38,0)) * dy) AS sxy
      FROM as_sym
    )
    SELECT n AS n_pairs,
           CAST(sx AS BIGINT) AS sx,
           CAST(sxx AS BIGINT) AS sxx,
           CAST(sxy AS BIGINT) AS sxy,
           {_ASSORT_R} AS r
    FROM as_agg
    """
