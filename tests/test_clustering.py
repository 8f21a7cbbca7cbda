"""k-means / diverse-sampling tests: pure-Python twin, per-cluster cap."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_extensions_spark.operators.clustering import sample_diverse


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_sample_diverse_caps_every_cluster(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    out = sample_diverse(
        emb, "vec_id", "embedding", k=4, cap=25, iters=2
    )
    sizes = {
        r["cluster"]: r["n"]
        for r in out.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert all(n <= 25 for n in sizes.values())
    assert len(sizes) >= 2  # the corpus genuinely spans clusters


def test_kmeans_det_matches_python_twin(spark):
    """Deterministic integer k-means: full-fit centroids and final
    assignments match an independent pure-Python recompute (same init,
    same exact-integer rules)."""
    import hashlib
    import math

    from spark_extensions_spark.operators.clustering import (
        kmeans_assignments_det,
        kmeans_fit_det,
    )
    from spark_extensions_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01", "embeddings")[
        "embeddings"
    ]
    k, iters = 4, 2
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {
        r["vec_id"]: [math.floor(float(v) * 1e6 + 0.5) for v in r["embedding"]]
        for r in rows
    }
    order = sorted(
        vecs,
        key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
    )
    cents = [list(vecs[i]) for i in order[:k]]

    def assign_all(cs):
        out = {}
        for vid, q in vecs.items():
            dists = [
                sum((v - c) * (v - c) for v, c in zip(q, cq)) for cq in cs
            ]
            out[vid] = dists.index(min(dists))
        return out

    for _ in range(iters):
        a = assign_all(cents)
        nxt = [list(c) for c in cents]
        for ci in range(k):
            members = [vecs[vid] for vid, c in a.items() if c == ci]
            if members:
                nxt[ci] = [
                    math.floor(float(sum(col)) / len(members))
                    for col in zip(*members)
                ]
        cents = nxt

    got_cents = kmeans_fit_det(emb, "vec_id", "embedding", k=k, iters=iters)
    assert got_cents == cents

    expected = assign_all(cents)
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assignments_det(
            emb, "vec_id", "embedding", k=k, iters=iters
        ).collect()
    }
    assert got == expected
