"""Unit tests for custom operators on tiny in-memory frames."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from spark_extensions_spark.operators.joins import asof_join, interval_join
from spark_extensions_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    simhash,
)
from spark_extensions_spark.operators.similarity import ann_bruteforce_topk


def ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "L1"), (1, ts("2024-01-01T12:00:00"), "L2"),
         (2, ts("2024-01-01T09:00:00"), "L3")],
        "k int, t timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T09:30:00"), "R1"), (1, ts("2024-01-01T11:00:00"), "R2"),
         (3, ts("2024-01-01T00:00:00"), "R3")],
        "k int, t timestamp, rv string",
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="t",
                    right_values=["rv"])
    got = {(r["k"], r["lv"]): r["rv"] for r in out.collect()}
    assert got == {(1, "L1"): "R1", (1, "L2"): "R2", (2, "L3"): None}


def test_asof_join_equal_ts_matches(spark):
    left = spark.createDataFrame([(1, ts("2024-01-01T10:00:00"), "L")],
                                 "k int, t timestamp, lv string")
    right = spark.createDataFrame([(1, ts("2024-01-01T10:00:00"), "R")],
                                  "k int, t timestamp, rv string")
    out = asof_join(left, right, on="k", left_time="t", right_time="t",
                    right_values=["rv"]).collect()
    assert out[0]["rv"] == "R"


def test_asof_join_inner_drops_unmatched(spark):
    left = spark.createDataFrame([(1, ts("2024-01-01T08:00:00"), "L")],
                                 "k int, t timestamp, lv string")
    right = spark.createDataFrame([(1, ts("2024-01-01T10:00:00"), "R")],
                                  "k int, t timestamp, rv string")
    out = asof_join(left, right, on="k", left_time="t", right_time="t",
                    right_values=["rv"], how="inner").collect()
    assert out == []


def test_interval_join_overlap(spark):
    a = spark.createDataFrame([(1, 0, 10), (1, 20, 30)], "k int, s int, e int")
    b = spark.createDataFrame([(1, 5, 25), (1, 40, 50)], "k int, s int, e int")
    out = interval_join(a, b, on="k", left_start="s", left_end="e",
                        right_start="s", right_end="e")
    assert out.count() == 2  # [0,10]∩[5,25], [20,30]∩[5,25]


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "id long, txt string"
    )
    out = {r["keep_id"]: r["dup_count"] for r in
           exact_dedup(df, "txt", "id").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now")],
        "id long, txt string",
    )
    sigs = {r["id"]: tuple(r["minhash_sig"]) for r in
            minhash_signatures(df, "id", "txt", num_hashes=8).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_minhash_short_doc_null_signature(spark):
    df = spark.createDataFrame([(1, "two words")], "id long, txt string")
    sig = minhash_signatures(df, "id", "txt", num_hashes=4).collect()[0]
    assert all(v is None for v in sig["minhash_sig"])


def test_simhash_identical_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "")],
        "id long, txt string",
    )
    got = {r["id"]: (r["simhash"], r["n_words"]) for r in
           simhash(df, "id", "txt").collect()}
    assert got[1] == got[2]
    assert got[3] == (0, 0)


def test_ann_bruteforce_self_is_nearest(spark):
    df = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    out = ann_bruteforce_topk(df, df, "vec_id", "embedding", "vec_id",
                              "embedding", k=1, dim=4)
    for r in out.collect():
        assert r["neighbor_id"] == r["query_id"] and abs(r["cosine"] - 1.0) < 1e-12


def test_approx_count_distinct_error_bound(spark):
    """HLL++ estimate stays within its documented rsd bound (default 5%)."""
    from pyspark.sql import functions as F

    from spark_extensions_spark.session import load_tables

    o = load_tables(spark, "/root/testdata/sf0.01", "orders")["orders"]
    exact = o.select("o_custkey").distinct().count()
    approx = o.agg(
        F.approx_count_distinct("o_custkey", rsd=0.01).alias("a")
    ).head()["a"]
    assert abs(approx - exact) / exact < 0.05


def test_hll_sketch_error_and_merge(spark):
    """DataSketches HLL: estimates produced by union-merging fine-grained
    (status, priority) sketches up to status stay within 5% of exact —
    merging partial sketches must not degrade the estimate."""
    from spark_extensions_spark.queries import registry

    q = {x.name: x for x in registry()}["agg_hll_sketch"]
    rows = {
        r["o_orderstatus"]: r["approx_cust"]
        for r in q.spark(spark, "/root/testdata/sf0.01").collect()
    }

    from pyspark.sql import functions as F

    from spark_extensions_spark.session import load_tables

    o = load_tables(spark, "/root/testdata/sf0.01", "orders")["orders"]
    exact = {
        r["o_orderstatus"]: r["n"]
        for r in o.groupBy("o_orderstatus")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for k, est in rows.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, k


def test_ann_lsh_and_ivf_recall(spark):
    """Approximate ANN paths recover most of the exact top-k (recall@5)."""
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_topk_det,
        ann_lsh_topk_det,
    )
    from spark_extensions_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01", "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    args = (emb, queries, "vec_id", "embedding", "vec_id", "embedding")
    exact = ann_bruteforce_topk(*args, k=5, dim=64)
    truth = {
        (r["query_id"], r["neighbor_id"]) for r in exact.collect()
    }

    def recall(df):
        got = {(r["query_id"], r["neighbor_id"]) for r in df.collect()}
        return len(got & truth) / len(truth)

    # generous bounds: randomized structures, deterministic seeds
    assert (
        recall(ann_ivf_topk_det(*args, k=5, dim=64, n_lists=8, n_probe=4))
        > 0.5
    )
    assert recall(ann_lsh_topk_det(*args, k=5, dim=64, n_planes=4)) > 0.3


def test_ann_lsh_det_buckets_and_recall(spark):
    """Deterministic sign-plane LSH: buckets match a pure-Python
    recompute exactly (integer math), and recall tracks the numpy-plane
    variant's regime."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_lsh_topk_det,
        lsh_bucket_from_quantized,
        quantize_vec_expr,
        signplane_signs,
    )
    from spark_extensions_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01", "embeddings")[
        "embeddings"
    ]
    planes = signplane_signs(4, 64, seed=42)
    # independent twin: hashlib-derived signs + python floor quantization
    sub = emb.filter(F.col("vec_id") < 50)
    got = {
        r["vec_id"]: r["b"]
        for r in sub.withColumn("__qq", F.expr(quantize_vec_expr("embedding")))
        .select(
            "vec_id", lsh_bucket_from_quantized("__qq", planes).alias("b")
        )
        .collect()
    }
    for r in sub.select("vec_id", "embedding").collect():
        q = [math.floor(float(v) * 1e6 + 0.5) for v in r["embedding"]]
        b = 0
        for p, signs in enumerate(planes):
            if sum(v * s for v, s in zip(q, signs)) >= 0:
                b += 1 << p
        assert got[r["vec_id"]] == b
    # sanity on the md5 derivation itself
    h = hashlib.md5(b"lshsign:42:0:0").hexdigest()
    assert planes[0][0] == (1 if int(h[:8], 16) & 1 else -1)

    queries = emb.filter(F.col("vec_id") < 20)
    args = (emb, queries, "vec_id", "embedding", "vec_id", "embedding")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(*args, k=5, dim=64).collect()
    }
    got_det = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_lsh_topk_det(*args, k=5, dim=64, n_planes=4).collect()
    }
    assert len(got_det & truth) / len(truth) > 0.3


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """Bucketed tables joined on the bucket key: no Exchange on either side."""
    from spark_extensions_spark.sources import write_table

    df = spark.createDataFrame(
        [(i, i % 7, f"v{i}") for i in range(100)], ["id", "k", "v"]
    )
    base = str(tmp_path)
    for name in ("bkt_a_t", "bkt_b_t"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_table(
            df, f"{base}/{name}", mode="overwrite", bucket_by=(4, ["k"]),
            table_name=name,
        )
    joined = spark.table("bkt_a_t").join(spark.table("bkt_b_t"), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    if "BroadcastHashJoin" not in plan:
        # bucketing removed the shuffles: no Exchange below the join
        assert "Exchange hashpartitioning" not in plan


def test_asof_join_forward(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "L1"), (1, ts("2024-01-01T23:00:00"), "L2")],
        "k int, t timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T11:00:00"), "R1"), (1, ts("2024-01-01T12:00:00"), "R2")],
        "k int, t timestamp, rv string",
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="t",
                    right_values=["rv"], direction="forward")
    got = {r["lv"]: r["rv"] for r in out.collect()}
    # L1 10:00 -> earliest at-or-after is R1 11:00; L2 23:00 -> nothing after
    assert got == {"L1": "R1", "L2": None}


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame([(1, ts("2024-01-01T10:00:00"), "L")],
                                 "k int, t timestamp, lv string")
    right = spark.createDataFrame([(1, ts("2024-01-01T06:00:00"), "R")],
                                  "k int, t timestamp, rv string")
    near = asof_join(left, right, on="k", left_time="t", right_time="t",
                     right_values=["rv"],
                     tolerance=F.expr("INTERVAL 5 HOURS")).collect()
    assert near[0]["rv"] == "R"
    far = asof_join(left, right, on="k", left_time="t", right_time="t",
                    right_values=["rv"],
                    tolerance=F.expr("INTERVAL 2 HOURS")).collect()
    assert far[0]["rv"] is None


def test_salted_join_matches_plain(spark):
    from spark_extensions_spark.operators.joins import salted_join

    # skewed left: 90% of rows share key 0
    left = spark.createDataFrame(
        [(0 if i % 10 else i % 3, i) for i in range(1000)], ["k", "v"]
    )
    right = spark.createDataFrame([(i, f"r{i}") for i in range(3)], ["k", "rv"])
    plain = {(r["k"], r["v"], r["rv"]) for r in left.join(right, "k").collect()}
    salted = {
        (r["k"], r["v"], r["rv"])
        for r in salted_join(left, right, on="k", n_salts=4).collect()
    }
    assert salted == plain and len(plain) > 0


def test_sketches(spark):
    from spark_extensions_spark.operators.sketches import (
        approx_quantiles,
        bloom_filter,
        count_min_sketch,
        freq_items,
    )
    from spark_extensions_spark.session import load_tables

    o = load_tables(spark, "/root/testdata/sf0.01", "orders")["orders"]
    # count-min: estimate >= true count, within eps*N at confidence
    cms = count_min_sketch(o, "o_custkey", eps=0.001)
    true_n = o.filter(F.col("o_custkey") == 7).count()
    est = cms.estimate_count(7)
    assert est >= true_n and est <= true_n + 0.001 * o.count() * 3
    # bloom: no false negatives
    bf = bloom_filter(o, "o_orderkey", expected_items=20000)
    for r in o.select("o_orderkey").limit(50).collect():
        assert bf.might_contain(r["o_orderkey"])
    # freq items returns a row of arrays
    fi = freq_items(o, ["o_orderpriority"], support=0.1).head()
    assert len(fi[0]) >= 1
    # approx quantiles bracket the exact median
    q50 = approx_quantiles(o, "o_totalprice", [0.5], 0.01)[0]
    exact = o.selectExpr("percentile(o_totalprice, 0.5)").head()[0]
    lo, hi = o.approxQuantile("o_totalprice", [0.45, 0.55], 0.001)
    assert lo <= q50 <= hi and lo <= exact <= hi


def test_bloom_semi_join(spark):
    from spark_extensions_spark.operators.sketches import bloom_semi_join
    from spark_extensions_spark.session import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01", "lineitem", "orders")
    dim = t["orders"].filter(F.col("o_totalprice") > 400000).select("o_orderkey")
    fact = t["lineitem"]
    filtered = bloom_semi_join(fact, dim, "l_orderkey", "o_orderkey")
    true_match = fact.join(dim, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    n_true, n_filtered, n_fact = true_match.count(), filtered.count(), fact.count()
    # no false negatives: every true match survives
    assert n_filtered >= n_true
    # real selectivity: the filter removed the vast majority of non-matches
    assert n_filtered <= n_true + 0.05 * n_fact
    # follow-up real join gives exactly the true semi-join
    assert (
        filtered.join(dim, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi").count()
        == n_true
    )


def test_hash_split_deterministic_and_complete(spark):
    from spark_extensions_spark.operators.sampling import hash_split

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = hash_split(df, "k", splits).groupBy("split").count().collect()
    b = hash_split(df.repartition(13), "k", splits).groupBy("split").count().collect()
    ca = {r["split"]: r["count"] for r in a}
    cb = {r["split"]: r["count"] for r in b}
    # partitioning-independent, covers every row, ~weights
    assert ca == cb
    assert sum(ca.values()) == 5000
    assert 3700 < ca["train"] < 4300 and 300 < ca["val"] < 700


def test_hash_split_disjoint_salts_differ(spark):
    from spark_extensions_spark.operators.sampling import hash_bucket

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    n_diff = (
        df.select(
            (hash_bucket("k", "a") != hash_bucket("k", "b")).alias("d")
        )
        .filter("d")
        .count()
    )
    assert n_diff > 900  # salts decorrelate assignments


def test_stratified_cap_bounds_and_determinism(spark):
    from spark_extensions_spark.operators.sampling import stratified_cap

    df = spark.createDataFrame(
        [(g, i) for g in range(10) for i in range(g + 1)], "g int, k int"
    )
    kept = stratified_cap(df, "g", "k", cap=3)
    counts = {r["g"]: r["count"] for r in kept.groupBy("g").count().collect()}
    for g in range(10):
        assert counts[g] == min(g + 1, 3)
    again = stratified_cap(df.repartition(7), "g", "k", cap=3)
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, again.collect()))


def test_connected_components_two_components_and_chain(spark):
    from spark_extensions_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        # component {1,2,3,4} as a chain (diameter 3) + clique {10,11,12}
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "a long, b long",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "a", "b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_connected_components_singleton_edge(spark):
    from spark_extensions_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(7, 9)], "a long, b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges, "a", "b").collect()
    }
    assert got == {7: 7, 9: 7}


def test_ngram_contamination_flags_copied_text(spark):
    """A corpus doc that copies a benchmark passage is flagged with the
    right distinct-overlap count; disjoint and sub-threshold docs are not."""
    from spark_extensions_spark.operators.dedup import ngram_contamination

    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "bid int, btext string",
    )
    corpus = spark.createDataFrame(
        [
            # verbatim copy: every benchmark 3-gram matches
            (10, "the quick brown fox jumps over the lazy dog"),
            # one shared 3-gram ("quick brown fox") — below min_overlap=2
            (11, "a quick brown fox sat still"),
            # disjoint vocabulary
            (12, "completely unrelated words here entirely"),
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r["overlap_cnt"]
        for r in ngram_contamination(
            corpus, bench, "doc_id", "text", "bid", "btext", n=3, min_overlap=2
        ).collect()
    }
    # 9 words -> 7 trigrams, all distinct
    assert out == {10: 7}


def test_ngram_prefix_equals_plain(spark, sf_dir):
    """The prefix-filtered set-similarity join (AllPairs/PPJoin prefix
    lemma) must produce EXACTLY the plain inverted-index join's pairs."""
    from spark_extensions_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_prefix,
    )
    from spark_extensions_spark.session import load_tables

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    for t in (0.3, 0.5, 0.8):
        plain = {
            tuple(r)
            for r in ngram_jaccard_pairs(docs, "doc_id", "text", 3, t).collect()
        }
        pref = {
            tuple(r)
            for r in ngram_jaccard_pairs_prefix(
                docs, "doc_id", "text", 3, t
            ).collect()
        }
        assert plain == pref, f"threshold {t}: {len(plain)} vs {len(pref)}"


def test_chunk_and_pack_properties(spark):
    """Property-based checks for chunk_windows + pack_chunks: full
    coverage with stride overlap, size bounds, and pack-bin budget."""
    import random

    from spark_extensions_spark.functions.text import chunk_windows, pack_chunks

    rng = random.Random(7)
    rows = []
    for i in range(40):
        n = rng.randint(1, 300)
        rows.append((i, "g%d" % (i % 3), " ".join("w%d" % j for j in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    W, S, B = 32, 24, 100
    chunks = chunk_windows(df, "doc_id", "text", window_tokens=W, stride=S)
    got = chunks.collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, source, text in rows:
        words = text.split(" ")
        cs = sorted(by_doc[doc_id], key=lambda r: r["chunk_id"])
        # every chunk is the exact slice; sizes bounded; coverage complete
        for r in cs:
            start = r["chunk_id"] * S
            expect = words[start : start + W]
            assert r["chunk_text"].split(" ") == expect
            assert 1 <= r["n_tokens"] == len(expect) <= W
        covered = set()
        for r in cs:
            covered.update(range(r["chunk_id"] * S, r["chunk_id"] * S + r["n_tokens"]))
        assert covered == set(range(len(words)))

    packed = pack_chunks(
        chunks.join(
            df.select("doc_id", "source"), "doc_id"
        ).select("doc_id", "source", "chunk_id", "n_tokens"),
        "source",
        ["doc_id", "chunk_id"],
        "n_tokens",
        budget=B,
    ).collect()
    bins = {}
    for r in packed:
        bins.setdefault((r["source"], r["bin_id"]), []).append(r["n_tokens"])
    for (src, b), toks in bins.items():
        # bins never exceed budget unless a single oversized chunk
        assert sum(toks) <= B or len(toks) == 1
    assert len(packed) == len(got)


def test_check_rules_single_pass(spark):
    from spark_extensions_spark.operators.quality import (
        check_referential,
        check_rules,
        referential_rule,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (3, 0.0), (4, None)],
        "id int, v double",
    )
    out = check_rules(
        df,
        [
            ("v_positive", ~(F.col("v") > 0)),
            ("v_not_null", F.col("v").isNull()),
        ],
    )
    rows = {r["rule"]: r for r in out.collect()}
    # NULL > 0 is NULL -> cast long -> NULL; sum skips it, so the
    # v_positive violation count covers rows 2 and 3 only.
    assert rows["v_positive"]["n_violations"] == 2
    assert rows["v_not_null"]["n_violations"] == 1
    assert all(r["n_rows"] == 4 for r in rows.values())
    assert rows["v_not_null"]["violation_rate"] == 0.25
    # single-pass shape: exactly one scan of the input in the (final)
    # plan — AQE's toString repeats the initial plan, so split it off
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan ExistingRDD") == 1

    dim = spark.createDataFrame([(1,), (2,)], "id int")
    ref = check_referential(df, "id", dim, "id")
    r = ref.collect()[0]
    assert (r["rule"], r["n_violations"], r["n_rows"]) == ("referential", 2, 4)

    # composed: fact rules + FK check share one aggregate pass
    joined, violated = referential_rule(df, "id", dim, "id")
    both = check_rules(joined, [("v_null", F.col("v").isNull()), ("fk", violated)])
    got = {r["rule"]: r["n_violations"] for r in both.collect()}
    assert got == {"v_null": 1, "fk": 2}


def test_embedding_neardup_blocked_equals_broadcast(spark, sf_dir):
    from spark_extensions_spark.operators.dedup import embedding_neardup_pairs
    from spark_extensions_spark.session import load_tables

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    kw = dict(id_col="vec_id", vec_col="embedding", dim=64, threshold=0.30)
    blocked = embedding_neardup_pairs(emb, method="blocked", n_blocks=5, **kw)
    exact = embedding_neardup_pairs(emb, method="broadcast", **kw)
    b = {(r.id_a, r.id_b): r.cosine for r in blocked.collect()}
    e = {(r.id_a, r.id_b): r.cosine for r in exact.collect()}
    assert set(b) == set(e) and len(b) > 0
    # bit-identical scores: same IEEE accumulation order on both paths
    assert all(b[k] == e[k] for k in b)
    # default path plans no driver-side collect: it is a grouped
    # applyInPandas over the block-pair shuffle
    plan = blocked._jdf.queryExecution().logical().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_connected_components_star_matches_hashmin(spark):
    import random

    from spark_extensions_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "s long, d long")
    hm = {r["node"]: r["component"]
          for r in connected_components(df, "s", "d").collect()}
    st = {r["node"]: r["component"]
          for r in connected_components_star(df, "s", "d").collect()}
    assert st == hm


def test_connected_components_star_deep_chain(spark):
    """A 400-node path has diameter 399: hash-min label propagation
    cannot finish in its default 25 rounds, large-star/small-star
    converges in O(log^2 n)."""
    from spark_extensions_spark.operators.graph import (
        connected_components_star,
    )

    chain = [(i, i + 1) for i in range(400)]
    df = spark.createDataFrame(chain, "s long, d long")
    out = connected_components_star(df, "s", "d")
    rows = out.collect()
    assert len(rows) == 401
    assert all(r["component"] == 0 for r in rows)


def test_embedding_ivf_neardup_recall(spark):
    """IVF-blocked approximate near-dup recovers nearly all true
    near-dup pairs at a high threshold: near-identical vectors
    co-quantize to the same list. Scores of recovered pairs are
    bit-identical to the exact path."""
    import random

    from spark_extensions_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_ivf_det,
    )

    rng = random.Random(11)
    rows = []
    vid = 0
    for g in range(40):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        for _ in range(3):  # 3 near-identical copies per group
            rows.append(
                (vid, [v + rng.uniform(-1e-3, 1e-3) for v in base])
            )
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kw = dict(id_col="vec_id", vec_col="embedding", dim=16, threshold=0.999)
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs(df, method="broadcast", **kw).collect()
    }
    ivf = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_neardup_pairs_ivf_det(df, n_lists=8, **kw).collect()
    }
    assert len(exact) >= 100  # the 40 groups produce >=120 true pairs
    assert set(ivf) <= set(exact)  # no false pairs (same threshold)
    recall = len(set(ivf) & set(exact)) / len(exact)
    assert recall > 0.9, recall
    # emitted scores bit-match the exact path
    assert all(ivf[k] == exact[k] for k in ivf)


def test_broadcast_neardup_refuses_large_corpus(spark):
    """The opt-in driver-collect path must refuse above its row bound
    with a pointer to the distributed alternatives — no silent OOM."""
    import pytest

    from spark_extensions_spark.operators.dedup import (
        embedding_neardup_pairs,
    )

    df = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="blocked"):
        embedding_neardup_pairs(
            df, "vec_id", "embedding", dim=2, method="broadcast",
            broadcast_max_rows=5,
        )
    # under the bound it still runs
    assert (
        embedding_neardup_pairs(
            df, "vec_id", "embedding", dim=2, threshold=1.1,
            method="broadcast", broadcast_max_rows=10,
        ).count()
        == 0
    )


def test_new_operators_edge_cases(spark):
    """Empty/degenerate inputs through the round-2 operators."""
    from spark_extensions_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_ivf_det,
    )
    from spark_extensions_spark.operators.graph import (
        connected_components_star,
    )

    # single vector: no pairs from either path
    one = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    assert (
        embedding_neardup_pairs(
            one, "vec_id", "embedding", dim=2, threshold=0.5, n_blocks=3
        ).count()
        == 0
    )
    assert (
        embedding_neardup_pairs_ivf_det(
            one, "vec_id", "embedding", dim=2, threshold=0.5, n_lists=2
        ).count()
        == 0
    )

    # two identical vectors across an n_blocks > n corpus
    two = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    pairs = embedding_neardup_pairs(
        two, "vec_id", "embedding", dim=2, threshold=0.99, n_blocks=5
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]

    # star CC: single edge and self-loop-only node set
    e1 = spark.createDataFrame([(5, 3)], "s long, d long")
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(e1, "s", "d").collect()
    }
    assert got == {3: 3, 5: 3}
    eself = spark.createDataFrame([(7, 7)], "s long, d long")
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(eself, "s", "d").collect()
    }
    assert got == {7: 7}


def test_fuzzy_blocked_pairs(spark):
    from spark_extensions_spark.operators.dedup import fuzzy_blocked_pairs

    df = spark.createDataFrame(
        [
            (1, "Johnson Controls"),
            (2, "Jonson Controls"),   # dist 1, same 4-prefix? "john" vs "jons" -> different block
            (3, "Johnson Kontrols"),  # dist 1 vs id 1, same block "john"
            (4, "Completely Other"),
            (5, "JOHNSON CONTROLS"),  # dist 0 vs id 1 after lowering
        ],
        "id long, name string",
    )
    out = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_blocked_pairs(df, "id", "name", max_dist=2, prefix_len=4).collect()
    }
    assert out[(1, 5)] == 0
    assert out[(1, 3)] == 1
    assert out[(3, 5)] == 1
    # (1,2) is a true dist-1 pair but blocks differ ("john" vs "jons") —
    # declared blocking semantics, not silent loss
    assert (1, 2) not in out
    assert all(k[0] < k[1] and v <= 2 for k, v in out.items())


def test_zorder_write_shrinks_rowgroup_spans(spark, tmp_path):
    """Z-ordered files cover narrow ranges of BOTH cluster columns:
    the per-file (max-min) span summed over files is far below the
    natural-order layout's, which is what parquet min/max pruning
    feeds on."""
    import glob

    import pyarrow.parquet as pq

    from spark_extensions_spark.operators.layout import write_zordered
    from spark_extensions_spark.session import load_tables

    li = load_tables(spark, "/root/testdata/sf0.01", "lineitem")["lineitem"]
    zpath = str(tmp_path / "zord")
    npath = str(tmp_path / "nat")
    write_zordered(li, zpath, ["l_partkey", "l_suppkey"], n_files=16)
    li.repartition(16).write.mode("overwrite").parquet(npath)

    def span_sum(path, col):
        total = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col:
                        st = c.statistics
                        total += st.max - st.min
        return total

    for col in ("l_partkey", "l_suppkey"):
        z, n = span_sum(zpath, col), span_sum(npath, col)
        # natural layout: every file spans ~the full domain; z-order
        # should cut the summed span at least in half on both columns
        assert z < 0.5 * n, (col, z, n)


def test_ann_ivfpq_recall_and_determinism(spark):
    """IVF-PQ with exact rerank recovers most of the exact top-5; two
    runs are identical (every stage deterministic)."""
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivfpq_topk_det,
    )
    from spark_extensions_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01", "embeddings")["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    args = (emb, queries, "vec_id", "embedding", "vec_id", "embedding")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(*args, k=5, dim=64).collect()
    }
    out = ann_ivfpq_topk_det(
        *args, k=5, dim=64, n_lists=8, n_probe=4, rerank=64
    )
    got = {(r["query_id"], r["neighbor_id"]) for r in out.collect()}
    assert len(got & truth) / len(truth) > 0.5
    # rerank means surviving pairs carry EXACT cosine: self-match = 1.0
    self_cos = {
        r["query_id"]: r["cosine"]
        for r in out.collect()
        if r["query_id"] == r["neighbor_id"]
    }
    assert all(abs(c - 1.0) < 1e-9 for c in self_cos.values())
    rerun = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivfpq_topk_det(
            *args, k=5, dim=64, n_lists=8, n_probe=4, rerank=64
        ).collect()
    }
    assert rerun == got


def test_expectation_suite_kinds(spark):
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.quality import expectation_suite

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (2, 500.0, None)],
        "k bigint, v double, s string",
    )
    out = {
        r.expectation: r
        for r in expectation_suite(
            df,
            [
                ("k_nn", "not_null", {"col": "k"}),
                ("s_nn", "not_null", {"col": "s"}),
                ("v_rng", "between", {"col": "v", "lo": 0, "hi": 100}),
                ("s_set", "in_set", {"col": "s", "values": ["A", "B"]}),
                ("k_uniq", "unique", {"col": "k"}),
                ("n_rows", "row_count", {"lo": 1, "hi": 10}),
            ],
        ).collect()
    }
    assert out["k_nn"].passed and out["k_nn"].n_bad == 0
    assert not out["s_nn"].passed and out["s_nn"].n_bad == 1
    assert not out["v_rng"].passed and out["v_rng"].n_bad == 1
    assert not out["s_set"].passed and out["s_set"].n_bad == 1  # null fails
    assert not out["k_uniq"].passed and out["k_uniq"].n_bad == 1
    assert out["n_rows"].passed
    assert all(r.n_rows == 3 for r in out.values())


def test_kmv_sketch_accuracy_and_merge(spark):
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.sketches import kmv_sketch

    df = spark.range(20000).select(
        (F.col("id") % 5000).cast("string").alias("k")
    )
    row = kmv_sketch(df, "k", 256).first()
    assert row.n_seen == 256
    assert abs(row.est_distinct - 5000) / 5000 < 0.15  # ~1/sqrt(k) error
    # small set: exact
    small = spark.range(100).select(F.col("id").cast("string").alias("k"))
    r2 = kmv_sketch(small, "k", 256).first()
    assert r2.est_distinct == 100.0
    # determinism
    assert kmv_sketch(df, "k", 256).first() == row


def test_observe_quality_rides_the_action(spark):
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.quality import observe_quality

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 10).alias("m")
    )
    inst, obs = observe_quality(
        df,
        "gate",
        [("m_is_9", F.col("m") == 9), ("id_neg", F.col("id") < 0)],
    )
    # metrics ride the action — here a count
    assert inst.count() == 1000
    got = obs.get
    assert got["n_rows"] == 1000
    assert got["v_m_is_9"] == 100
    assert got["v_id_neg"] == 0


def test_ann_ivf_det_assignment_and_recall(spark):
    """Deterministic IVF: list assignment matches a pure-Python integer
    recompute exactly, and the probe-join top-k keeps reasonable recall
    vs brute force."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_topk_det,
        ivf_assign_expr,
        ivf_centroids_det,
        quantize_vec_expr,
    )
    from spark_extensions_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01", "embeddings")[
        "embeddings"
    ]
    cents = ivf_centroids_det(emb, "vec_id", "embedding", n_lists=8)
    # independent centroid twin: python md5 order + floor quantization
    rows = emb.select("vec_id", "embedding").collect()
    order = sorted(rows, key=lambda r: (hashlib.md5(str(r["vec_id"]).encode()).hexdigest(), r["vec_id"]))
    expected_cents = [
        [math.floor(float(v) * 1e6 + 0.5) for v in r["embedding"]]
        for r in order[:8]
    ]
    assert cents == expected_cents

    sub = emb.filter(F.col("vec_id") < 50)
    got = {
        r["vec_id"]: r["l"]
        for r in sub.withColumn("__qq", F.expr(quantize_vec_expr("embedding")))
        .select("vec_id", F.expr(ivf_assign_expr("__qq", cents)).alias("l"))
        .collect()
    }
    for r in sub.select("vec_id", "embedding").collect():
        q = [math.floor(float(v) * 1e6 + 0.5) for v in r["embedding"]]
        dists = [
            sum((v - c) * (v - c) for v, c in zip(q, cq)) for cq in cents
        ]
        assert got[r["vec_id"]] == dists.index(min(dists))

    queries = emb.filter(F.col("vec_id") < 20)
    args = (emb, queries, "vec_id", "embedding", "vec_id", "embedding")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(*args, k=5, dim=64).collect()
    }
    got_det = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf_topk_det(
            *args, k=5, dim=64, n_lists=8, n_probe=3
        ).collect()
    }
    assert len(got_det & truth) / len(truth) > 0.3


def test_embedding_ivf_det_equivalence_above_threshold(spark):
    """Det-IVF near-dup: every emitted pair is a true pair (precision 1
    vs the exact scorer at the same threshold), and recall at a genuine
    near-dup threshold stays useful."""
    from spark_extensions_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_neardup_pairs_ivf_det,
    )
    from spark_extensions_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01", "embeddings")[
        "embeddings"
    ]
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(
            emb, "vec_id", "embedding", dim=64, threshold=0.30
        ).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs_ivf_det(
            emb, "vec_id", "embedding", dim=64, threshold=0.30, n_lists=8
        ).collect()
    }
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert v == exact[k]  # bit-identical scores
    assert len(approx) / max(1, len(exact)) > 0.1


def test_ann_ivfpq_det_codes_and_recall(spark):
    """Deterministic IVF-PQ: PQ codes match a pure-Python integer
    recompute, and the ADC+rerank pipeline keeps recall vs brute
    force."""
    import math

    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivfpq_topk_det,
        pq_codebooks_det,
        pq_encode_expr,
        quantize_vec_expr,
    )
    from spark_extensions_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01", "embeddings")[
        "embeddings"
    ]
    m, ksub = 8, 16
    books = pq_codebooks_det(emb, "vec_id", "embedding", m=m, ksub=ksub)
    assert len(books) == m and all(len(b) == ksub for b in books)

    sub = emb.filter(F.col("vec_id") < 30)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in sub.withColumn("__qq", F.expr(quantize_vec_expr("embedding")))
        .select("vec_id", F.expr(pq_encode_expr("__qq", books)).alias("codes"))
        .collect()
    }
    dsub = 64 // m
    for r in sub.select("vec_id", "embedding").collect():
        q = [math.floor(float(v) * 1e6 + 0.5) for v in r["embedding"]]
        codes = []
        for s in range(m):
            qs = q[s * dsub : (s + 1) * dsub]
            dists = [
                sum((v - c) * (v - c) for v, c in zip(qs, cw))
                for cw in books[s]
            ]
            codes.append(dists.index(min(dists)))
        assert got[r["vec_id"]] == codes

    queries = emb.filter(F.col("vec_id") < 20)
    args = (emb, queries, "vec_id", "embedding", "vec_id", "embedding")
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(*args, k=5, dim=64).collect()
    }
    got_pq = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivfpq_topk_det(
            *args, k=5, dim=64, n_lists=8, n_probe=3
        ).collect()
    }
    assert len(got_pq & truth) / len(truth) > 0.3


def test_quantization_portability_property(spark):
    """Property (hypothesis): the fixed-point quantizer and the integer
    L2 argmin match a pure-Python recompute for arbitrary float inputs
    — the invariant every deterministic ANN/IVF/k-means oracle rests
    on. Runs the whole batch through ONE Spark job."""
    import math

    from hypothesis import given, settings, strategies as st

    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import (
        ivf_assign_expr,
        quantize_vec_expr,
    )

    dim = 8

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.floats(
                    min_value=-100,
                    max_value=100,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                ),
                min_size=dim,
                max_size=dim,
            ),
            min_size=1,
            max_size=8,
        ),
        st.integers(min_value=2, max_value=4),
    )
    def check(vecs, k):
        cents = [
            [math.floor(float(v) * 1e6 + 0.5) for v in vec]
            for vec in vecs[:k]
        ]
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "id int, vec array<float>",
        )
        got = {
            r["id"]: (list(r["qq"]), r["l"])
            for r in df.withColumn("qq", F.expr(quantize_vec_expr("vec")))
            .withColumn("l", F.expr(ivf_assign_expr("qq", cents)))
            .collect()
        }
        for i, v in enumerate(vecs):
            q = [math.floor(float(np32) * 1e6 + 0.5) for np32 in _f32(v)]
            dists = [
                sum((a - c) * (a - c) for a, c in zip(q, cq)) for cq in cents
            ]
            assert got[i][0] == q
            assert got[i][1] == dists.index(min(dists))

    import numpy as np

    def _f32(v):
        return [float(x) for x in np.asarray(v, dtype=np.float32)]

    check()


def test_kmv_set_ops_accuracy(spark):
    """KMV set-op estimates: within ~15% of truth on overlapping sets;
    exact in the small regime (distinct union < k)."""
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.sketches import kmv_set_ops

    a = spark.range(0, 3000).select(F.col("id"))
    b = spark.range(1500, 4500).select(F.col("id"))
    r = kmv_set_ops(a, b, "id", k=512).collect()[0]
    assert abs(r["est_union"] - 4500) / 4500 < 0.15
    assert abs(r["est_intersect"] - 1500) / 1500 < 0.3

    small_a = spark.range(0, 50)
    small_b = spark.range(25, 80)
    r2 = kmv_set_ops(small_a, small_b, "id", k=256).collect()[0]
    assert r2["est_union"] == 80.0
    assert abs(r2["est_intersect"] - 25.0) < 1e-9


def test_ivf_index_persisted_equivalence(spark, tmp_path):
    """The persisted-IVF-index query path: same answer as the inline
    det-IVF query, and with the index bucketed on list_id the probe
    join re-shuffles at most the (tiny) query side."""
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import (
        ann_ivf_topk_det,
        ann_ivf_query_index,
        ivf_index_table,
    )
    from spark_extensions_spark.session import load_tables
    from spark_extensions_spark.sources import write_table

    emb = load_tables(spark, "/root/testdata/sf0.01", "embeddings")[
        "embeddings"
    ]
    queries = emb.filter(F.col("vec_id") < 10)

    idx_df, cents, _ = ivf_index_table(emb, "vec_id", "embedding", n_lists=16)
    name = "ivf_index_t_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base = str(tmp_path)
    write_table(
        idx_df,
        f"{base}/{name}",
        mode="overwrite",
        bucket_by=(8, ["list_id"]),
        table_name=name,
    )
    index = spark.table(name)
    got = ann_ivf_query_index(
        index, cents, queries, "vec_id", "embedding", "vec_id", "embedding",
        k=5, n_probe=4,
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    if "BroadcastHashJoin" not in plan:
        assert plan.count("Exchange hashpartitioning") <= 1, plan

    inline = ann_ivf_topk_det(
        emb, queries, "vec_id", "embedding", "vec_id", "embedding",
        k=5, dim=64, n_lists=16, n_probe=4,
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in inline.collect()
    }


def test_jl_project_distance_preservation(spark):
    """JL projection: pairwise distances in 16-d stay within a loose
    multiplicative band of the 64-d distances for most pairs (the JL
    property at this compression), and projection is deterministic."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.similarity import jl_project
    from spark_extensions_spark.session import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01", "embeddings")[
        "embeddings"
    ]
    sub = emb.filter(F.col("vec_id") < 40)
    orig = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in sub.collect()
    }
    proj = {
        r["vec_id"]: np.array(r["projected"], dtype=np.float64)
        for r in jl_project(sub, "vec_id", "embedding", 16, 64).collect()
    }
    proj2 = {
        r["vec_id"]: list(r["projected"])
        for r in jl_project(
            sub.repartition(7), "vec_id", "embedding", 16, 64
        ).collect()
    }
    assert {k: list(v) for k, v in proj.items()} == proj2

    ids = sorted(orig)
    ratios = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d0 = np.linalg.norm(orig[ids[i]] - orig[ids[j]])
            d1 = np.linalg.norm(proj[ids[i]] - proj[ids[j]])
            if d0 > 0:
                ratios.append(d1 / d0)
    ratios = np.array(ratios)
    assert 0.7 < np.median(ratios) < 1.3
    assert ((ratios > 0.4) & (ratios < 1.9)).mean() > 0.9


def test_minhash_estimate_tracks_true_jaccard(spark):
    """Signature-agreement estimates approximate the exact shingle
    Jaccard on the LSH candidate pairs (12 hashes → coarse but
    unbiased; errors bounded and high-sim pairs score high)."""
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.dedup import (
        minhash_jaccard_estimates,
        ngram_jaccard_pairs,
    )
    from spark_extensions_spark.session import load_tables

    docs = load_tables(spark, "/root/testdata/sf0.01", "documents")[
        "documents"
    ]
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_jaccard_estimates(docs, "doc_id", "text").collect()
    }
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.0
        ).collect()
    }
    assert est, "no candidate pairs"
    errs = [abs(v - exact.get(k, 0.0)) for k, v in est.items()]
    assert sum(errs) / len(errs) < 0.30
    high = [v for k, v in est.items() if exact.get(k, 0) > 0.8]
    if high:
        assert min(high) > 0.5


def test_domain_cap_matches_single_window_and_bounds(spark):
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.sampling import domain_cap

    # skewed: one mega-domain with 500 rows, several small ones
    rows = [Row(doc_id=i, dom="big") for i in range(500)] + [
        Row(doc_id=1000 + i, dom=f"s{i % 7}") for i in range(30)
    ]
    df = spark.createDataFrame(rows)
    out = domain_cap(df, "doc_id", "dom", cap=5, pre_buckets=4)
    got = {(r["dom"], r["doc_id"]) for r in out.collect()}
    # every domain bounded at cap
    per_dom = out.groupBy("dom").count().collect()
    assert all(r["count"] <= 5 for r in per_dom)
    # bit-identical to the naive single-window form (the oracle shape)
    prio = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":domcap")))
    w = Window.partitionBy("dom").orderBy(prio, "doc_id")
    naive = df.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= 5
    )
    want = {(r["dom"], r["doc_id"]) for r in naive.collect()}
    assert got == want


def test_distributed_ntile_matches_window_ntile(spark):
    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.sampling import distributed_ntile

    # ties in v, unique tiebreak k; n chosen to exercise uneven tiles
    rows = [Row(k=i, v=i % 7) for i in range(23)]
    df = spark.createDataFrame(rows)
    for n_tiles in (1, 2, 3, 5, 23, 30):
        got = {
            r["k"]: r["q"]
            for r in distributed_ntile(
                df, ["v", "k"], n_tiles, "q", num_partitions=4
            ).collect()
        }
        w = Window.orderBy("v", "k")
        want = {
            r["k"]: r["q"]
            for r in df.withColumn(
                "q", F.ntile(n_tiles).over(w)
            ).collect()
        }
        assert got == want, f"n_tiles={n_tiles}"


def test_cross_doc_duplicate_spans(spark):
    from spark_extensions_spark.operators.dedup import (
        cross_doc_duplicate_spans,
    )

    shared = "alpha beta gamma delta epsilon"
    docs = spark.createDataFrame(
        [
            (1, shared + " unique one tail words here"),
            (2, shared + " other totally different suffix text"),
            (3, "completely unrelated content with no overlap at all"),
            (4, "tiny"),  # < 5 words: zero spans
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.n_spans, r.n_dup_spans)
        for r in cross_doc_duplicate_spans(
            docs, "doc_id", "text", n=5, min_docs=2
        ).collect()
    }
    # docs 1 and 2 share exactly the one leading 5-gram
    assert out[1][1] == 1 and out[2][1] == 1
    assert out[3] == (4, 0)  # 8 words -> 4 distinct 5-grams, none shared
    assert out[4] == (0, 0)
    assert len(out) == 4
