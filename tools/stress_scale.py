"""Synthetic scale-up stress: no sf1 fixtures exist, so union sf0.1 K
times with key offsets (distinct ids, same value distributions) into a
temp parquet dataset, then drive the scale-critical operators at ~10x
the per-round bench size. Surfaces skew/memory/driver-state issues
invisible at sf0.1 — e.g. a driver collect that sf0.1 hides.

Usage: python tools/stress_scale.py [K] [sf_dir] [--json OUT.json]
Prints one line per operator: name, rows_out, seconds.  With --json,
also records {"metric", "value", "unit", "k", "sf_dir", "operators":
{name: {"sec", "rows"}}} — the BENCH_sf1 artifact.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from spark_extensions_spark.session import (  # noqa: E402
    get_spark,
    load_tables,
    scratch_dir,
)


def scaled(df, key_cols: dict[str, int], k: int):
    """Union K shifted copies; ``key_cols`` maps column -> offset stride
    (ids stay distinct across copies; non-key columns repeat)."""
    parts = []
    for i in range(k):
        p = df
        for c, stride in key_cols.items():
            p = p.withColumn(c, (F.col(c) + F.lit(i * stride)).cast("long"))
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def main() -> int:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    k = int(argv[0]) if len(argv) > 0 else 10
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("stress_scale")
    t = load_tables(
        spark,
        sf_dir,
        "documents",
        "embeddings",
        "lineitem",
        "orders",
        "customer",
        "events",
    )

    base = scratch_dir("stress_sf_")
    docs_p = os.path.join(base, "documents")
    emb_p = os.path.join(base, "embeddings")
    li_p = os.path.join(base, "lineitem")
    scaled(t["documents"], {"doc_id": 1_000_000}, k).write.parquet(docs_p)
    scaled(t["embeddings"], {"vec_id": 1_000_000}, k).write.parquet(emb_p)
    scaled(t["lineitem"], {"l_orderkey": 100_000_000}, k).write.parquet(li_p)
    docs = spark.read.parquet(docs_p)
    emb = spark.read.parquet(emb_p)
    li = spark.read.parquet(li_p)
    orders = t["orders"]
    print(
        f"scaled x{k}: docs={docs.count()} emb={emb.count()} li={li.count()}",
        flush=True,
    )

    results: dict[str, dict] = {}

    def run(name, thunk):
        t0 = time.time()
        try:
            n = thunk()
            sec = time.time() - t0
            results[name] = {"sec": round(sec, 2), "rows": int(n)}
            print(f"OK   {name:28s} rows={n:>9} {sec:7.1f}s", flush=True)
        except Exception as e:
            results[name] = {"sec": None, "rows": None, "err": str(e)[:160]}
            print(f"FAIL {name:28s} {str(e)[:160]}", flush=True)

    from spark_extensions_spark.operators.dedup import (
        embedding_neardup_pairs,
        minhash_lsh_candidates,
        ngram_jaccard_pairs_prefix,
    )
    from spark_extensions_spark.operators.graph import neardup_clusters
    from spark_extensions_spark.operators.quality import (
        check_rules,
        referential_rule,
    )
    from spark_extensions_spark.operators.sketches import bloom_semi_join

    run(
        "minhash_lsh_candidates",
        lambda: minhash_lsh_candidates(docs, "doc_id", "text").count(),
    )
    run(
        "ngram_prefix_pairs",
        lambda: ngram_jaccard_pairs_prefix(
            docs, "doc_id", "text", threshold=0.5
        ).count(),
    )
    run(
        "embedding_blocked",
        lambda: embedding_neardup_pairs(
            emb, "vec_id", "embedding", dim=64, threshold=0.30
        ).count(),
    )
    run(
        "neardup_clusters",
        lambda: neardup_clusters(
            minhash_lsh_candidates(docs, "doc_id", "text")
        ).count(),
    )
    run(
        "bloom_semi_join",
        lambda: bloom_semi_join(li, orders, "l_orderkey", "o_orderkey").count(),
    )

    def q_rules():
        joined, viol = referential_rule(li, "l_orderkey", orders, "o_orderkey")
        return check_rules(
            joined,
            [
                ("qty_positive", ~(F.col("l_quantity") > 0)),
                ("referential", viol),
            ],
        ).count()

    run("quality_rules", q_rules)

    from spark_extensions_spark.functions.text import corpus_line_dedup
    from spark_extensions_spark.operators.dedup import fuzzy_blocked_pairs
    from spark_extensions_spark.operators.graph import (
        connected_components_star,
    )

    run(
        "star_clusters",
        lambda: connected_components_star(
            minhash_lsh_candidates(docs, "doc_id", "text"), "id_a", "id_b"
        ).count(),
    )
    run(
        "fuzzy_blocked_pairs",
        lambda: fuzzy_blocked_pairs(
            docs.withColumn(
                "__nm", F.concat_ws(" ", F.col("lang"), F.col("text"))
            ),
            "doc_id",
            "__nm",
            max_dist=3,
            block_words=4,
        ).count(),
    )
    run(
        "corpus_line_dedup",
        lambda: corpus_line_dedup(
            docs.select(
                "doc_id",
                F.regexp_replace(F.col("text"), " ", "\n").alias("t"),
            ),
            "doc_id",
            "t",
        ).count(),
    )

    # --- round-2 additions: incremental load, LM scoring, shuffle index,
    # incremental dedup, gap-fill ------------------------------------
    from spark_extensions_spark.operators.dedup import (
        minhash_lsh_candidates_incremental,
    )
    from spark_extensions_spark.operators.incremental import (
        scd2_apply,
        scd2_init,
    )
    from spark_extensions_spark.operators.lm import bigram_lm_scores
    from spark_extensions_spark.operators.sampling import (
        deterministic_shuffle,
    )
    from spark_extensions_spark.operators.timeseries import gapfill_grid

    cust = scaled(t["customer"], {"c_custkey": 10_000_000}, k)
    ev = scaled(t["events"], {"event_id": 10_000_000, "user_id": 100_000}, k)

    def q_scd2():
        base_t = cust.select("c_custkey", "c_acctbal", "c_mktsegment")
        snap = base_t.filter(F.col("c_custkey") % 37 != 0).withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 100.0
            ).otherwise(F.col("c_acctbal")),
        )
        hist = scd2_init(
            base_t, ["c_custkey"], ["c_acctbal", "c_mktsegment"], 1
        )
        return scd2_apply(
            hist, snap, ["c_custkey"], ["c_acctbal", "c_mktsegment"], 2
        ).count()

    run("scd2_apply", q_scd2)
    run(
        "bigram_lm_scores",
        lambda: bigram_lm_scores(docs, "doc_id", "text").count(),
    )
    run(
        "deterministic_shuffle",
        lambda: deterministic_shuffle(
            docs.select("doc_id"), "doc_id"
        ).count(),
    )
    run(
        "dedup_incremental",
        lambda: minhash_lsh_candidates_incremental(
            docs.filter(F.col("doc_id") % 10 == 0),
            docs.filter(F.col("doc_id") % 10 != 0),
            "doc_id",
            "text",
        ).count(),
    )
    run(
        "ts_gapfill",
        lambda: gapfill_grid(
            ev, "user_id", "ts", "value", step="1 hour", trunc_unit="hour"
        ).count(),
    )

    from spark_extensions_spark.operators.clustering import (
        kmeans_assignments_det,
    )

    run(
        "embedding_kmeans",
        lambda: kmeans_assignments_det(
            emb, "vec_id", "embedding", k=8, iters=2
        ).count(),
    )

    # --- round-2 second-half additions: drift stats, time-series
    # windows, graph structure, collocations, pHash ------------------
    from spark_extensions_spark.operators.graph import triangle_count
    from spark_extensions_spark.operators.retrieval import collocations
    from spark_extensions_spark.operators.stats import ks_statistic
    from spark_extensions_spark.operators.timeseries import rolling_zscore
    from spark_extensions_spark.multimodal.media import (
        phash_candidates,
        phash_images,
    )

    run(
        "ks_statistic",
        lambda: ks_statistic(
            li, "l_extendedprice", "l_returnflag", "R", "N", round_to=0
        ).count(),
    )
    run(
        "rolling_zscore",
        lambda: rolling_zscore(
            ev, "user_id", "ts", "event_id", "value"
        ).count(),
    )

    def q_triangles():
        from spark_extensions_spark.operators.graph import (
            grouped_pair_edges,
        )

        e = grouped_pair_edges(li, "l_orderkey", "l_partkey")
        return triangle_count(e, degree_ordered=True).first().n_triangles

    run("triangle_count", q_triangles)
    run(
        "collocations",
        lambda: collocations(docs, "text").count(),
    )
    from spark_extensions_spark.operators.graph import label_propagation
    from spark_extensions_spark.operators.sampling import pps_systematic
    from spark_extensions_spark.operators.quality import expectation_suite

    def q_lpa():
        from spark_extensions_spark.operators.graph import (
            grouped_pair_edges,
        )

        e = grouped_pair_edges(li, "l_orderkey", "l_partkey")
        return label_propagation(e, iterations=2).count()

    run("label_propagation", q_lpa)
    run(
        "pps_systematic",
        lambda: pps_systematic(docs, "doc_id", "n_chars", 5000).count(),
    )
    run(
        "expectation_suite",
        lambda: expectation_suite(
            li,
            [
                ("qty_pos", "between", {"col": "l_quantity", "lo": 0, "hi": 1e9}),
                ("key_nn", "not_null", {"col": "l_orderkey"}),
                ("flag_set", "in_set", {"col": "l_returnflag", "values": ["A", "N", "R"]}),
            ],
        ).count(),
    )
    run(
        "phash_pairs",
        lambda: phash_candidates(
            phash_images(
                docs.select(
                    "doc_id", F.col("text").cast("binary").alias("content")
                ),
                deterministic_fake=True,
            ).select("doc_id", "phash"),
            "doc_id",
        ).count(),
    )

    # --- round-2 closing additions: deterministic-integer ANN family
    from spark_extensions_spark.operators.clustering import (
        kmeans_assignments_det,
    )
    from spark_extensions_spark.operators.dedup import (
        embedding_neardup_pairs_ivf_det,
    )
    from spark_extensions_spark.operators.similarity import (
        ann_ivfpq_topk_det,
    )

    run(
        "kmeans_det",
        lambda: kmeans_assignments_det(
            emb, "vec_id", "embedding", k=8, iters=3
        ).count(),
    )
    run(
        "ivf_neardup_det",
        lambda: embedding_neardup_pairs_ivf_det(
            emb, "vec_id", "embedding", dim=64, threshold=0.30, n_lists=64
        ).count(),
    )
    run(
        "ivfpq_det",
        lambda: ann_ivfpq_topk_det(
            emb,
            emb.filter(F.col("vec_id") < 20),
            "vec_id",
            "embedding",
            "vec_id",
            "embedding",
            k=5,
            dim=64,
            n_lists=64,
            n_probe=4,
        ).count(),
    )

    # --- round-2 closing additions: barrier-pattern text kernels
    from pyspark.sql import functions as F2

    from spark_extensions_spark.functions.text import (
        char_entropy_cols,
        char_entropy_sql,
        dup_chars_from_sorted_sql,
        hash_embedding_cols,
        hash_embedding_sql,
        word_ngrams_sql,
    )

    def q_text_kernels():
        s_col, st_col, ks_col = char_entropy_cols("text")
        g = (
            docs.withColumn(
                "s2", F2.sort_array(F2.expr(word_ngrams_sql("text", 2)))
            )
            .withColumn("__s", s_col)
            .withColumn("__st", st_col)
            .withColumn("__ks", ks_col)
            .localCheckpoint(eager=False)
        )
        return g.select(
            F2.expr(dup_chars_from_sorted_sql("s2", "text")).alias("d"),
            F2.expr(char_entropy_sql("__ks", "__s")).alias("e"),
        ).count()

    run("text_gate_kernels", q_text_kernels)

    def q_hash_embed():
        w_col, hb_col, cnt_col = hash_embedding_cols("text", 64)
        g = (
            docs.withColumn("__w", w_col)
            .withColumn("__hb", hb_col)
            .localCheckpoint(eager=False)
            .withColumn("__cnt", cnt_col)
        )
        return g.select(
            F2.expr(hash_embedding_sql("__cnt")).alias("v")
        ).count()

    run("hash_embedding", q_hash_embed)

    # --- round-3 additions: PII gate, domain cap, mixture weights,
    # exact distributed ntile ----------------------------------------
    from spark_extensions_spark.operators.lm import domain_mixture_weights
    from spark_extensions_spark.operators.privacy import pii_scan
    from spark_extensions_spark.operators.sampling import (
        distributed_ntile,
        domain_cap,
    )

    run(
        "pii_scan",
        lambda: pii_scan(docs, "doc_id", "text")
        .agg(F.sum("n_pii_total"))
        .count(),
    )
    run(
        "domain_cap",
        lambda: domain_cap(docs, "doc_id", "source", 50).count(),
    )
    run(
        "domain_mixture",
        lambda: domain_mixture_weights(docs, "source").count(),
    )
    run(
        "distributed_ntile",
        lambda: distributed_ntile(
            docs.select("doc_id", "n_chars"), ["n_chars", "doc_id"], 5, "q"
        ).count(),
    )

    # Round-4 additions: iterative graph peels/layers, alignment-pair
    # construction, agreement stats — the ops whose shuffle shapes the
    # round-4 verdict should see at 10x.
    from spark_extensions_spark.operators.alignment import (
        hard_negatives,
        preference_pairs,
    )
    from spark_extensions_spark.operators.graph import bfs_layers, k_core
    from spark_extensions_spark.operators.stats import cohen_kappa

    def co_edges():
        return (
            li.select(
                F.col("l_orderkey").alias("g"), F.col("l_partkey").alias("v")
            )
            .alias("a")
            .join(
                li.select(
                    F.col("l_orderkey").alias("g"),
                    F.col("l_partkey").alias("w"),
                ).alias("b"),
                "g",
            )
            .filter(F.col("v") < F.col("w"))
            .select(F.col("v").alias("src"), F.col("w").alias("dst"))
        )

    run("k_core", lambda: k_core(co_edges(), k=3, rounds=4).count())

    def q_bfs():
        seeds = spark.createDataFrame([(1,), (2,), (3,)], "node bigint")
        return bfs_layers(co_edges(), seeds, rounds=3).count()

    run("bfs_layers", q_bfs)
    run(
        "preference_pairs",
        lambda: preference_pairs(
            docs.select(
                (F.col("doc_id") % 4096).alias("p"),
                "doc_id",
                F.col("n_chars").alias("score"),
            ),
            "p",
            "doc_id",
            "score",
        ).count(),
    )
    run(
        "hard_negatives",
        lambda: hard_negatives(
            emb, "vec_id", "embedding", "label", list(range(32)), k=10,
            dim=64,
        ).count(),
    )
    run(
        "cohen_kappa",
        lambda: cohen_kappa(
            docs.select(
                (F.col("n_chars") % 7 < 3).alias("qa"),
                (F.col("n_chars") % 5 < 2).alias("qb"),
            ),
            "qa",
            "qb",
        ).count(),
    )

    # Kafka-semantics log: produce the scaled docs corpus to a topic
    # (murmur2 placement shuffle + one segment writer per partition),
    # then a full ranged batch read-back and a log compaction.
    from spark_extensions_spark.sources.filekafka import (
        compact_latest,
        produce,
        register_filekafka,
    )

    register_filekafka(spark)
    kafka_root = os.path.join(base, "kafka_log")

    def kafka_produce():
        msgs = docs.select(
            F.col("doc_id").cast("string").cast("binary").alias("key"),
            F.col("text").cast("binary").alias("value"),
        )
        rep = produce(msgs, kafka_root, "docs", num_partitions=32)
        return sum(c for _, c in rep.values())

    run("kafka_produce", kafka_produce)

    def kafka_topic():
        return (
            spark.read.format("filekafka")
            .option("path", kafka_root)
            .option("topic", "docs")
            .load()
        )

    run("kafka_read_all", lambda: kafka_topic().count())
    run("kafka_compaction", lambda: compact_latest(kafka_topic()).count())

    # --- round-5 additions: rejection sampling, tokenize->pack,
    # ANN recall harness, budget apportionment --------------------
    from spark_extensions_spark.functions.text import (
        chunk_windows,
        pack_chunks,
    )
    from spark_extensions_spark.operators.alignment import best_of_n
    from spark_extensions_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_topk_det,
    )

    run(
        "best_of_n",
        lambda: best_of_n(
            docs.select(
                (F.col("doc_id") % 4096).alias("p"),
                "doc_id",
                F.col("n_chars").alias("reward"),
            ),
            "p",
            "doc_id",
            "reward",
            min_reward=100,
        ).count(),
    )

    def q_tokenize_pack():
        chunks = chunk_windows(docs, "doc_id", "text", 64, stride=48)
        keyed = chunks.join(
            docs.select(
                "doc_id",
                F.concat_ws(
                    "|", F.col("lang"), (F.col("doc_id") % 256).cast("string")
                ).alias("pk"),
            ),
            "doc_id",
        )
        return pack_chunks(
            keyed.select("pk", "doc_id", "chunk_id", "n_tokens"),
            "pk",
            ["doc_id", "chunk_id"],
            "n_tokens",
            budget=256,
        ).count()

    run("tokenize_pack", q_tokenize_pack)

    def q_ann_recall():
        queries = emb.filter(F.col("vec_id") < 10)
        exact = ann_bruteforce_topk(
            emb, queries, "vec_id", "embedding", "vec_id", "embedding",
            k=5, dim=64,
        ).select("query_id", "neighbor_id", "rank")
        approx = ann_ivf_topk_det(
            emb, queries, "vec_id", "embedding", "vec_id", "embedding",
            k=5, dim=64, n_lists=64, n_probe=4,
        ).select("query_id", "neighbor_id", F.lit(1).alias("h"))
        return (
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(F.count("h").alias("hits"))
            .count()
        )

    run("ann_recall_harness", q_ann_recall)

    from spark_extensions_spark.operators.sampling import (
        largest_remainder_alloc,
    )

    def q_budget_apportion():
        # high-cardinality domain key (4096 shards) stresses the
        # whole-table windows inside the apportionment itself, not
        # just the upstream mass aggregate
        counts = docs.groupBy(
            (F.col("doc_id") % 4096).alias("shard")
        ).agg(F.sum("n_chars").cast("bigint").alias("mass"))
        return largest_remainder_alloc(
            counts, "shard", "mass", 1_000_000
        ).count()

    run("budget_apportion", q_budget_apportion)

    import shutil

    shutil.rmtree(base, ignore_errors=True)
    if json_out:
        import json

        total = sum(
            r["sec"] for r in results.values() if r["sec"] is not None
        )
        with open(json_out, "w") as f:
            json.dump(
                {
                    "metric": "stress_scale_total_sec",
                    "value": round(total, 2),
                    "unit": "sec",
                    "k": k,
                    "sf_dir": sf_dir,
                    "operators": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
            f.write("\n")
        print(f"wrote {json_out}: total {total:.1f}s", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
