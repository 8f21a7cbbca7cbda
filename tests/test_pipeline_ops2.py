"""Unit tests for the batch-18 pipeline operators: bigram LM scoring,
token-budget sampling, deterministic shuffle index, time-series
gap-fill."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_extensions_spark.operators.lm import (
    bigram_lm_scores,
    bigram_occurrences,
)
from spark_extensions_spark.operators.sampling import (
    deterministic_shuffle,
    hash_bucket,
    token_budget_cap,
)
from spark_extensions_spark.operators.timeseries import gapfill_grid


def test_bigram_occurrences_rowlocal(spark):
    df = spark.createDataFrame(
        [Row(id=1, text="a b c"), Row(id=2, text="x"), Row(id=3, text="")]
    )
    rows = bigram_occurrences(df, "id", "text").collect()
    got = {(r["id"], r["w1"], r["w2"]) for r in rows}
    assert got == {(1, "a", "b"), (1, "b", "c")}


def test_bigram_lm_scores_hand_computed(spark):
    # corpus: "a b", "a b", "a c"  ->  c(a,b)=2 c(a,c)=1, c1(a)=3, V=3
    df = spark.createDataFrame(
        [
            Row(id=1, text="a b"),
            Row(id=2, text="a b"),
            Row(id=3, text="a c"),
            Row(id=4, text="solo"),
        ]
    )
    out = {r["id"]: r for r in bigram_lm_scores(df, "id", "text").collect()}
    lp_ab = round(math.log(3 / 6), 6)   # (2+1)/(3+3)
    lp_ac = round(math.log(2 / 6), 6)   # (1+1)/(3+3)
    assert out[1]["n_bigrams"] == 1
    assert abs(out[1]["nll"] - round(-lp_ab, 6)) < 1e-9
    assert abs(out[3]["nll"] - round(-lp_ac, 6)) < 1e-9
    # a doc with fewer than two tokens scores NULL, zero bigrams
    assert out[4]["n_bigrams"] == 0 and out[4]["nll"] is None


def test_token_budget_cap_respects_budget_and_order(spark):
    df = spark.createDataFrame(
        [Row(g="s", k=i, tok=40) for i in range(10)]
        + [Row(g="t", k=i, tok=500) for i in range(3)]
    )
    kept = token_budget_cap(df, "g", "k", "tok", budget=100).collect()
    per_group: dict[str, list] = {}
    for r in kept:
        per_group.setdefault(r["g"], []).append(r)
    # 40-token docs: floor(100/40) = 2 survive; 500-token docs: none fit
    assert len(per_group.get("s", [])) == 2
    assert "t" not in per_group
    assert all(r["cum_tokens"] <= 100 for r in kept)
    # deterministic: survivors are the hash-least keys, not input order
    expect = [
        r["k"]
        for r in df.filter(F.col("g") == "s")
        .select("k", hash_bucket("k", "budget", 1 << 60).alias("h"))
        .orderBy("h", "k")
        .collect()
    ][:2]
    assert sorted(r["k"] for r in per_group["s"]) == sorted(expect)


def test_deterministic_shuffle_is_total_permutation(spark):
    df = spark.createDataFrame([Row(k=i) for i in range(100)])
    out = deterministic_shuffle(df, "k", num_partitions=7)
    rows = out.collect()
    assert sorted(r["shuffle_pos"] for r in rows) == list(range(100))
    # matches the single-window global order (the oracle shape)
    expected = {
        r["k"]: i
        for i, r in enumerate(
            df.select("k", hash_bucket("k", "shuffle", 1 << 60).alias("h"))
            .orderBy("h", "k")
            .collect()
        )
    }
    got = {r["k"]: r["shuffle_pos"] for r in rows}
    assert got == expected
    # partition-count independent
    got3 = {
        r["k"]: r["shuffle_pos"]
        for r in deterministic_shuffle(df, "k", num_partitions=3).collect()
    }
    assert got3 == expected


def test_incremental_minhash_matches_full_selfjoin(spark, sf_dir):
    from spark_extensions_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_candidates,
        minhash_lsh_candidates_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    index = docs.filter(F.col("doc_id") % 10 != 0)
    inc = {
        (r["new_id"], r["index_id"])
        for r in minhash_lsh_candidates_incremental(
            new_batch, index, "doc_id", "text"
        ).collect()
    }
    # ground truth: cross-subset pairs of the full self-join
    full = minhash_lsh_candidates(docs, "doc_id", "text").collect()
    expect = set()
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if a % 10 == 0 and b % 10 != 0:
            expect.add((a, b))
        elif b % 10 == 0 and a % 10 != 0:
            expect.add((b, a))
    assert inc == expect
    # a precomputed band-table index is accepted verbatim
    band_index = minhash_band_table(index, "doc_id", "text")
    inc2 = {
        (r["new_id"], r["index_id"])
        for r in minhash_lsh_candidates_incremental(
            new_batch, band_index, "doc_id", "text"
        ).collect()
    }
    assert inc2 == inc


def test_band_index_persisted_bucketed_join(spark, sf_dir, tmp_path):
    """The dedup index written bucketed on the band key: the incremental
    join reuses the bucketing — the corpus side scans without an
    Exchange, only the (small) new-batch side shuffles."""
    from spark_extensions_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_candidates_incremental,
    )
    from spark_extensions_spark.sources import write_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    name = "band_index_t_test"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    base = str(tmp_path)
    write_table(
        minhash_band_table(corpus, "doc_id", "text"),
        f"{base}/{name}",
        mode="overwrite",
        bucket_by=(8, ["band_idx", "band_key"]),
        table_name=name,
    )
    index = spark.table(name)
    pairs = minhash_lsh_candidates_incremental(
        batch, index, "doc_id", "text"
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    if "BroadcastHashJoin" not in plan:
        # exactly one shuffle below the join: the batch side; the
        # bucketed index scan must not re-Exchange
        n_exch = plan.count("Exchange hashpartitioning")
        assert n_exch <= 1, plan
    # same answer as computing the index inline
    inline = minhash_lsh_candidates_incremental(
        batch, corpus, "doc_id", "text"
    )
    assert {tuple(r) for r in pairs.collect()} == {
        tuple(r) for r in inline.collect()
    }


def test_write_shards_matches_manifest(spark, sf_dir, tmp_path):
    from spark_extensions_spark.sources.export import (
        shard_manifest,
        write_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    n_shards = 4
    path = str(tmp_path / "out")
    write_shards(docs, path, "doc_id", n_shards)
    manifest = {
        r["shard"]: r["n_rows"]
        for r in shard_manifest(docs, "doc_id", n_shards).collect()
    }
    back = spark.read.parquet(path)
    got = {
        r["shard"]: r["n"]
        for r in back.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == manifest
    assert back.count() == docs.count()
    # every shard nonempty and reasonably balanced on this corpus
    assert set(got) == set(range(n_shards))
    assert max(got.values()) < 2 * min(got.values())


def test_url_canonicalize_variants(spark):
    from spark_extensions_spark.functions.url import url_canonicalize

    cases = [
        # mixed case, fragment, tracking-only query, trailing slash
        ("HTTPS://Ex.COM/a/b/?utm_source=x&fbclid=1#frag",
         "https://ex.com/a/b"),
        # param reorder + tracking strip + kept params sorted
        ("https://ex.com/p?b=2&utm_campaign=z&a=1",
         "https://ex.com/p?a=1&b=2"),
        # no query, no path
        ("http://EX.com", "http://ex.com"),
        # root slash trimmed
        ("https://ex.com/", "https://ex.com"),
    ]
    df = spark.createDataFrame(
        [Row(i=i, url=u) for i, (u, _) in enumerate(cases)]
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", url_canonicalize("url").alias("c")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_gapfill_forward_fill(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, ts="2024-01-01 00:05:00", v=1.0),
            Row(k=1, ts="2024-01-01 03:10:00", v=4.0),
            Row(k=2, ts="2024-01-01 00:00:00", v=9.0),
        ]
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = gapfill_grid(df, "k", "ts", "v", step="1 hour", trunc_unit="hour")
    rows = sorted(
        out.collect(), key=lambda r: (r["k"], r["bucket_ts"])
    )
    k1 = [r for r in rows if r["k"] == 1]
    assert len(k1) == 4  # hours 00..03
    assert [r["v"] for r in k1] == [1.0, 1.0, 1.0, 4.0]
    assert [r["filled"] for r in k1] == [False, True, True, False]
    k2 = [r for r in rows if r["k"] == 2]
    assert len(k2) == 1 and k2[0]["v"] == 9.0 and not k2[0]["filled"]


def test_naive_bayes_classifier(spark):
    """NB train/predict: separable vocab is classified correctly,
    every doc gets exactly one prediction, unseen tokens fall back to
    the unk likelihood, argmax ties break deterministically."""
    from pyspark.sql import functions as F

    from spark_extensions_spark.operators.classify import (
        nb_predict,
        nb_train,
    )

    rows = []
    for i in range(30):
        rows.append((i, "apple banana fruit sweet apple", "food"))
    for i in range(30, 60):
        rows.append((i, "engine wheel piston torque engine", "cars"))
    df = spark.createDataFrame(rows, "doc_id long, text string, lab string")
    model = nb_train(df, "doc_id", "text", "lab")
    pred = nb_predict(model, df, "doc_id", "text")
    got = {r["doc_id"]: r["label"] for r in pred.collect()}
    assert len(got) == 60
    assert all(got[i] == "food" for i in range(30))
    assert all(got[i] == "cars" for i in range(30, 60))

    # unseen-token doc: scores via unk fallback only → priors+unk
    # decide; equal priors and equal unk → tie → max class name wins
    probe = spark.createDataFrame(
        [(99, "zzz qqq")], "doc_id long, text string"
    )
    p = nb_predict(model, probe, "doc_id", "text").collect()[0]
    assert p["label"] == "food"  # 'food' > 'cars' lexicographically
    # and the model tables are bounded artifacts
    assert model["priors"].count() == 2
    assert model["likelihood"].count() == 8  # 4 distinct tokens/class

    # zero-token doc (text with no word characters): still exactly one
    # row, predicted from the prior argmax alone (equal priors → max
    # class name wins) with score = that prior
    empty = spark.createDataFrame(
        [(100, "!!! ???"), (101, "")], "doc_id long, text string"
    )
    ep = {r["doc_id"]: r for r in nb_predict(
        model, empty, "doc_id", "text"
    ).collect()}
    assert set(ep) == {100, 101}
    prior_food = {
        r["label"]: r["prior_e6"] for r in model["priors"].collect()
    }["food"]
    for r in ep.values():
        assert r["label"] == "food"
        assert r["score_e6"] == prior_food
