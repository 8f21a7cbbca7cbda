"""Round-11 optimization pins: operator internals that changed this
round keep their exact contracts."""

from __future__ import annotations

from pyspark.sql import functions as F


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_k_core_residual_degrees_on_doubled_layout(spark):
    """k_core now iterates on a pre-doubled (node, other) table; the
    doubling must NOT double any degree, and mixed orientations /
    duplicates / self-loops still canonicalize first.

    Graph: K4 on {1,2,3,4} plus a pendant 5-1. k=2, rounds=2:
    round 1 drops 5 (deg 1); K4 survives with residual degree 3
    each (node 1 loses its pendant edge).
    """
    from spark_extensions_spark.operators.graph import k_core

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    pairs = k4 + [(5, 1), (1, 5), (2, 2)]  # dup orientation + self-loop
    rows = {
        r["node"]: r["deg"]
        for r in k_core(_edges(spark, pairs), k=2, rounds=2).collect()
    }
    assert rows == {1: 3, 2: 3, 3: 3, 4: 3}


def test_bfs_layers_dedups_duplicate_seeds(spark):
    """ADVICE r10: duplicate seed rows must not duplicate output rows
    (the frontier form unions seeds into the output verbatim), and the
    DuckDB twin must agree on the same duplicated seeds — at rounds=0
    no round regroups the seed set, so only a deduplicated oracle seed
    gives the operator's rows."""
    import duckdb

    from spark_extensions_spark.operators.graph import (
        bfs_layers,
        bfs_oracle_sql,
    )

    seeds = spark.createDataFrame([(1,), (1,), (1,)], "node bigint")
    edges = _edges(spark, [(1, 2), (2, 3)])
    out = bfs_layers(edges, seeds, rounds=3).collect()
    assert sorted((r["node"], r["dist"]) for r in out) == [
        (1, 0),
        (2, 1),
        (3, 2),
    ]
    con = duckdb.connect()
    for rounds in (0, 3):
        oracle = con.execute(
            bfs_oracle_sql(
                "SELECT * FROM (VALUES (1::BIGINT, 2::BIGINT),"
                " (2::BIGINT, 3::BIGINT)) t(src, dst)",
                "SELECT * FROM (VALUES (1::BIGINT), (1::BIGINT),"
                " (1::BIGINT)) t(node)",
                rounds=rounds,
            )
        ).fetchall()
        got = bfs_layers(edges, seeds, rounds=rounds).collect()
        assert sorted(oracle) == sorted(map(tuple, got)), rounds


def test_bfs_layers_empty_frontier_early_exit_output_unchanged(spark):
    """The empty-frontier break must not change the reached set: a
    2-path exhausted in 2 rounds gives the same rows at rounds=10."""
    from spark_extensions_spark.operators.graph import bfs_layers

    seeds = spark.createDataFrame([(1,)], "node bigint")
    edges = _edges(spark, [(1, 2), (2, 3)])
    few = bfs_layers(edges, seeds, rounds=2).collect()
    many = bfs_layers(edges, seeds, rounds=10).collect()
    assert sorted(map(tuple, few)) == sorted(map(tuple, many))


def test_cc_star_broadcast_gate_matches_shuffle_path(spark):
    """connected_components_star now broadcast-hints the node-sized
    min-label tables; forcing the shuffle path (bound over the gate)
    must give identical components."""
    from spark_extensions_spark.operators import graph as G

    pairs = [(1, 2), (2, 3), (10, 11), (12, 12), (20, 21), (21, 20)]
    e = _edges(spark, pairs)
    got = {
        (r["node"], r["component"])
        for r in G.connected_components_star(e, "src", "dst").collect()
    }
    old_max = G._BROADCAST_NODES_MAX
    G._BROADCAST_NODES_MAX = -1  # force the no-broadcast path
    try:
        ref = {
            (r["node"], r["component"])
            for r in G.connected_components_star(e, "src", "dst").collect()
        }
    finally:
        G._BROADCAST_NODES_MAX = old_max
    assert got == ref
    assert {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)} <= got


def _bloom_fresh_vs_flags(spark, m):
    from spark_extensions_spark.operators.sketches import (
        bloom_prefilter_dedup,
        bloom_prefilter_fresh,
    )

    # history: keys h0..h49; batch: 30 dups, 30 new, a NULL key, and
    # keys crafted near the hash range to exercise FP confirm paths
    hist = spark.createDataFrame(
        [(f"h{i}",) for i in range(50)], "k string"
    )
    new = spark.createDataFrame(
        [(i, f"h{i}") for i in range(30)]
        + [(100 + i, f"n{i}") for i in range(30)]
        + [(999, None)],
        "id bigint, k string",
    )
    flags = bloom_prefilter_dedup(new, hist, "id", "k", d=3, m=m)
    want = sorted(
        (r["id"], r["k"])
        for r in new.join(
            flags.where(~F.col("confirmed_dup")).select(
                F.col("id").alias("id")
            ),
            "id",
        ).collect()
    )
    got = sorted(
        (r["id"], r["k"])
        for r in bloom_prefilter_fresh(new, hist, "k", d=3, m=m).collect()
    )
    assert got == want
    # the 30 new keys + the NULL key survive; every hist dup is gone
    assert len(got) == 31
    assert (999, None) in got


def test_bloom_prefilter_fresh_equals_flag_form_mask_path(spark):
    _bloom_fresh_vs_flags(spark, m=4096)


def test_bloom_prefilter_fresh_equals_flag_form_perbit_path(spark):
    from spark_extensions_spark.operators import sketches as S

    # force the oversized-filter branch with a tiny threshold
    old = S._BLOOM_LITERAL_MAX_M
    S._BLOOM_LITERAL_MAX_M = 1
    try:
        _bloom_fresh_vs_flags(spark, m=4096)
    finally:
        S._BLOOM_LITERAL_MAX_M = old


def test_bloom_prefilter_fresh_tiny_m_forces_fp_confirm(spark):
    # m=8 bits over 50 hist keys: nearly every probe is maybe_dup, so
    # the anti-join confirm path carries real weight and false
    # positives MUST survive via the exact confirm
    _bloom_fresh_vs_flags(spark, m=8)


def test_backfill_partitions_clustered_write_one_file_per_partition(
    spark, tmp_path
):
    """The clustered backfill write emits ~one file per partition dir
    (not one per task) and stays idempotent."""
    import os

    from spark_extensions_spark.operators.incremental import (
        backfill_partitions,
    )

    src = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 8).cast("string").alias("p")
    )
    sink = str(tmp_path / "sink")
    done = backfill_partitions(src, sink, "p")
    assert sorted(done) == [str(i) for i in range(8)]
    for d in os.listdir(sink):
        if not d.startswith("p="):
            continue
        files = [
            f
            for f in os.listdir(os.path.join(sink, d))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (d, files)
    assert backfill_partitions(src, sink, "p") == []
