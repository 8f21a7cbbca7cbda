"""Triangle count / degree distribution on known toy graphs."""

from __future__ import annotations

import pytest

from spark_extensions_spark.operators.graph import (
    canonical_edges,
    degree_distribution,
    triangle_count,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_triangle_count_k4(spark):
    # complete graph on 4 nodes: C(4,3) = 4 triangles
    pairs = [(a, b) for a in range(4) for b in range(4) if a != b]
    assert triangle_count(_edges(spark, pairs)).first().n_triangles == 4


def test_triangle_count_handles_dups_and_orientation(spark):
    # one triangle given as mixed orientations + duplicates + self-loop
    pairs = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2), (3, 4)]
    assert triangle_count(_edges(spark, pairs)).first().n_triangles == 1


def test_triangle_free_graph(spark):
    # a path has no triangles
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    assert triangle_count(_edges(spark, pairs)).first().n_triangles == 0


def test_canonical_edges(spark):
    out = canonical_edges(_edges(spark, [(2, 1), (1, 2), (3, 3)]), "src", "dst")
    assert [(r.src, r.dst) for r in out.collect()] == [(1, 2)]


def test_degree_distribution_star(spark):
    # star K1,4: center degree 4, four leaves degree 1
    pairs = [(0, i) for i in range(1, 5)]
    out = {r.degree: r.n_nodes for r in degree_distribution(_edges(spark, pairs)).collect()}
    assert out == {4: 1, 1: 4}


def test_triangle_orientations_agree(spark):
    import random

    rng = random.Random(5)
    pairs = list({(rng.randrange(30), rng.randrange(30)) for _ in range(150)})
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    n_deg = triangle_count(e, degree_ordered=True).first().n_triangles
    n_id = triangle_count(e, degree_ordered=False).first().n_triangles
    assert n_deg == n_id > 0


def test_triangle_auto_orientation_probe(spark):
    """degree_ordered='auto' picks id orientation on uniform graphs
    and the O(m^1.5) degree-ordered path on hub-skewed graphs — and
    counts identically either way."""
    from spark_extensions_spark.operators.graph import should_degree_order

    # uniform: K4 — every degree equal, naive wedges ~ m^1.5 scale
    k4 = _edges(
        spark, [(a, b) for a in range(4) for b in range(4) if a < b]
    )
    assert not should_degree_order(k4)

    # hub: one center joined to 200 leaves plus a sparse leaf ring —
    # naive wedges C(200,2) >> 4*m^1.5
    pairs = [(0, i) for i in range(1, 201)]
    pairs += [(i, i + 1) for i in range(1, 200, 7)]
    hub = _edges(spark, pairs)
    assert should_degree_order(hub)

    # the auto path returns the same count as both explicit modes
    n_auto = triangle_count(hub, degree_ordered="auto").first().n_triangles
    n_deg = triangle_count(hub, degree_ordered=True).first().n_triangles
    n_id = triangle_count(hub, degree_ordered=False).first().n_triangles
    assert n_auto == n_deg == n_id


def test_label_propagation_two_cliques(spark):
    from spark_extensions_spark.operators.graph import label_propagation

    # two 4-cliques joined by nothing: communities = min node of each
    pairs = [(a, b) for a in range(4) for b in range(4) if a < b]
    pairs += [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    out = {
        r.node: r.community
        for r in label_propagation(_edges(spark, pairs)).collect()
    }
    assert all(out[n] == 0 for n in range(4))
    assert all(out[n] == 10 for n in range(10, 14))


def test_label_propagation_deterministic(spark):
    import random

    from spark_extensions_spark.operators.graph import label_propagation

    rng = random.Random(11)
    pairs = list({(rng.randrange(40), rng.randrange(40)) for _ in range(120)})
    e = _edges(spark, [(a, b) for a, b in pairs if a != b])
    r1 = sorted(map(tuple, label_propagation(e).collect()))
    r2 = sorted(map(tuple, label_propagation(e).collect()))
    assert r1 == r2


def test_k_core_peels_path_tail(spark):
    from spark_extensions_spark.operators.graph import k_core

    # triangle {1,2,3} with a pendant path 3-4-5: the 2-core is the
    # triangle; the path peels off over two rounds (5 first, then 4)
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    out = {
        r.node: r.deg
        for r in k_core(_edges(spark, pairs), k=2, rounds=3).collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}


def test_k_core_fixed_rounds_is_partial_peel(spark):
    from spark_extensions_spark.operators.graph import k_core

    # a 4-chain into a triangle needs 3 rounds to fully peel; after
    # ONE round only the outermost node is gone (synchronous semantics)
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    one = {r.node for r in k_core(_edges(spark, pairs), k=2, rounds=1).collect()}
    full = {r.node for r in k_core(_edges(spark, pairs), k=2, rounds=3).collect()}
    assert one == {1, 2, 3, 4, 5}
    assert full == {1, 2, 3}


def test_k_core_oracle_ten_rounds_on_a_12_node_path(spark):
    """Path 0-1-...-11 closed into the triangle {9, 10, 11}: the path
    peels one node a round, so all 10 rounds change the graph. The
    oracle's per-round CTEs are MATERIALIZED; inlined, DuckDB's plan
    grows 3^rounds, and 6 rounds on a path already ran for minutes."""
    import duckdb

    from spark_extensions_spark.operators.graph import k_core, kcore_oracle_sql

    pairs = [(i, i + 1) for i in range(11)] + [(9, 11)]
    values = ", ".join(f"({a}, {b})" for a, b in pairs)
    sql = kcore_oracle_sql(
        f"SELECT * FROM (VALUES {values}) t(src, dst)", k=2, rounds=10
    )
    want = sorted(duckdb.sql(sql).fetchall())
    assert want == [(9, 2), (10, 2), (11, 2)]
    got = k_core(_edges(spark, pairs), k=2, rounds=10).collect()
    assert sorted(map(tuple, got)) == want


def test_k_core_empty_when_k_exceeds_degrees(spark):
    from spark_extensions_spark.operators.graph import k_core

    pairs = [(1, 2), (2, 3)]
    assert k_core(_edges(spark, pairs), k=3, rounds=2).count() == 0


def test_bfs_layers_path(spark):
    from spark_extensions_spark.operators.graph import bfs_layers

    # path 1-2-3-4-5, seed {1}: dist = hops, node 5 unreached in 3 rounds
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    seeds = spark.createDataFrame([(1,)], "node bigint")
    out = {
        r.node: r.dist
        for r in bfs_layers(_edges(spark, pairs), seeds, rounds=3).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_layers_multi_source_min(spark):
    from spark_extensions_spark.operators.graph import bfs_layers

    # seeds at both ends of a path: middle node takes the nearer one
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    seeds = spark.createDataFrame([(1,), (5,)], "node bigint")
    out = {
        r.node: r.dist
        for r in bfs_layers(_edges(spark, pairs), seeds, rounds=3).collect()
    }
    assert out == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0}


def test_cc_round_caps_pin_the_non_convergence_boundary(spark):
    """The fixpoint loop's round accounting: hash-min on a 12-node path
    finishes at max_iter=11 (10 moving rounds + the no-change round)
    and raises at 10; large-star/small-star on the 400-edge chain
    finishes at 10 and raises at 9."""
    from spark_extensions_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    for fn, n_edges, cap in (
        (connected_components, 11, 11),
        (connected_components_star, 400, 10),
    ):
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(n_edges)], "s long, d long"
        )
        rows = fn(df, "s", "d", max_iter=cap).collect()
        assert {r.component for r in rows} == {0}
        assert len(rows) == n_edges + 1
        with pytest.raises(RuntimeError, match="did not converge"):
            fn(df, "s", "d", max_iter=cap - 1).collect()
