"""Execution-control surface: join-strategy hints, range repartitioning,
partition/file introspection columns, seeded randomSplit, catalog API.

These are §2.E capabilities with no oracle-expressible output (they
control HOW the plan executes, not WHAT it computes), so they are
plan-shape- and invariant-tested instead.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_extensions_spark.plans import executed_plan
from spark_extensions_spark.session import load_tables


def _tables(spark, sf_dir):
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    return t["lineitem"], t["orders"]


def test_join_hints_honored(spark, sf_dir):
    li, o = _tables(spark, sf_dir)
    j_b = li.join(o.hint("broadcast"), li["l_orderkey"] == o["o_orderkey"])
    assert "BroadcastHashJoin" in executed_plan(j_b)
    j_m = li.join(o.hint("merge"), li["l_orderkey"] == o["o_orderkey"])
    assert "SortMergeJoin" in executed_plan(j_m)
    j_h = li.join(o.hint("shuffle_hash"), li["l_orderkey"] == o["o_orderkey"])
    assert "ShuffledHashJoin" in executed_plan(j_h)
    # all three strategies return identical results
    n = j_b.count()
    assert j_m.count() == n and j_h.count() == n


def test_repartition_by_range(spark, sf_dir):
    li, _ = _tables(spark, sf_dir)
    df = li.select("l_orderkey").repartitionByRange(4, "l_orderkey")
    assert "rangepartitioning" in executed_plan(df).lower()

    # partitions hold disjoint, ordered key ranges
    def bounds(it):
        import pandas as pd

        for pdf in it:
            if len(pdf):
                yield pd.DataFrame(
                    {"lo": [int(pdf["l_orderkey"].min())],
                     "hi": [int(pdf["l_orderkey"].max())]}
                )

    parts = sorted(
        (r["lo"], r["hi"]) for r in df.mapInPandas(bounds, "lo long, hi long").collect()
    )
    for (_, hi_prev), (lo, _) in zip(parts, parts[1:]):
        assert hi_prev <= lo


def test_partition_introspection_columns(spark, sf_dir):
    li, _ = _tables(spark, sf_dir)
    df = li.select(
        F.monotonically_increasing_id().alias("mid"),
        F.spark_partition_id().alias("pid"),
        F.input_file_name().alias("fname"),
    )
    agg = df.agg(
        F.count("*").alias("n"),
        F.countDistinct("mid").alias("n_mid"),
        F.countDistinct("pid").alias("n_pid"),
        F.min(F.length("fname")).alias("min_fname"),
    ).collect()[0]
    assert agg["n_mid"] == agg["n"]  # ids unique across partitions
    assert agg["n_pid"] >= 1
    assert agg["min_fname"] > 0  # every row tagged with its source file


def test_random_split_seeded(spark, sf_dir):
    li, _ = _tables(spark, sf_dir)
    base = li.select("l_orderkey", "l_linenumber", "l_quantity")
    a, b = base.randomSplit([0.8, 0.2], seed=7)
    na, nb, n = a.count(), b.count(), base.count()
    assert na + nb == n
    assert 0.7 * n < na < 0.9 * n  # proportions approximate
    # same seed reproduces the same split sizes
    a2, _ = base.randomSplit([0.8, 0.2], seed=7)
    assert a2.count() == na


def test_catalog_api(spark, sf_dir):
    li, _ = _tables(spark, sf_dir)
    li.createOrReplaceTempView("cat_probe_view")
    names = [t.name for t in spark.catalog.listTables()]
    assert "cat_probe_view" in names
    cols = {c.name for c in spark.catalog.listColumns("cat_probe_view")}
    assert "l_orderkey" in cols
    assert spark.catalog.tableExists("cat_probe_view")
    spark.catalog.dropTempView("cat_probe_view")
    assert not spark.catalog.tableExists("cat_probe_view")


def test_python_datasource_batch(spark):
    """Custom Python DataSource: partition planning, deterministic
    content, and pushFilters range pruning (result correctness across
    the pushdown boundary)."""
    from spark_extensions_spark.sources.python_ds import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("n", 200)
        .option("parts", 3)
        .load()
    )
    assert df.count() == 200
    assert df.rdd.getNumPartitions() == 3
    got = df.filter("doc_id = 7").collect()
    assert len(got) == 1 and got[0]["title"] == "doc-7"
    import hashlib

    assert got[0]["body"] == hashlib.md5(b"7").hexdigest()
    rng = df.filter("doc_id >= 150 AND doc_id < 160")
    assert sorted(r["doc_id"] for r in rng.collect()) == list(range(150, 160))


def test_python_datasource_stream(spark):
    """Custom streaming Python DataSource: offset-tracked counter
    replayed to completion equals the batch generation."""
    from spark_extensions_spark.sources.python_ds import register_python_sources
    from spark_extensions_spark.streaming import run_available_now

    register_python_sources(spark)
    s = spark.readStream.format("counter_stream").option("n", 100).load()
    out = run_available_now(s, state_partitions=4)
    rows = sorted(r["doc_id"] for r in out.collect())
    assert rows == list(range(100))


def test_conf_override_restores_set_and_unset_keys(spark):
    """conf_override puts a set key back to its old value, unsets a key
    that was unset, leaves ``None`` entries alone, and restores on an
    exception too."""
    import pytest

    from spark_extensions_spark.session import conf_override

    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.sql.graft.test.confOverrideUnsetKey"
    untouched = "spark.sql.session.timeZone"
    before = spark.conf.get(set_key)
    zone = spark.conf.get(untouched)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError):
        with conf_override(
            spark, {set_key: 3, unset_key: "dynamic", untouched: None}
        ):
            assert spark.conf.get(set_key) == "3"
            assert spark.conf.get(unset_key) == "dynamic"
            assert spark.conf.get(untouched) == zone
            raise RuntimeError("body failed")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(untouched) == zone


def test_cache_and_unpersist(spark, sf_dir):
    """df.cache(): the second action reads an InMemoryTableScan;
    unpersist removes it."""
    from spark_extensions_spark.session import load_tables

    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    df = li.select("l_orderkey").distinct().cache()
    try:
        n1 = df.count()
        assert "InMemoryTableScan" in executed_plan(df)
        assert df.count() == n1
    finally:
        df.unpersist(blocking=True)


def test_corrupt_record_modes(spark, tmp_path):
    """The three malformed-record ingest modes: PERMISSIVE keeps bad
    lines in the corrupt column, DROPMALFORMED silently drops them,
    FAILFAST aborts the job."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    path = str(tmp_path / "feed")
    good = [f'{{"a": {i}, "b": "x{i}"}}' for i in range(20)]
    bad = ['{"a": 99, "b": ', "not json at all"]
    spark.createDataFrame(
        [(s,) for s in good + bad], "value string"
    ).coalesce(1).write.mode("overwrite").text(path)

    schema = "a bigint, b string, _corrupt string"
    permissive = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .cache()
    )
    assert permissive.count() == 22
    assert permissive.filter(F.col("_corrupt").isNotNull()).count() == 2
    assert permissive.filter(F.col("_corrupt").isNull()).count() == 20

    dropped = (
        spark.read.schema("a bigint, b string")
        .option("mode", "DROPMALFORMED")
        .json(path)
    )
    assert dropped.count() == 20

    failfast = (
        spark.read.schema("a bigint, b string")
        .option("mode", "FAILFAST")
        .json(path)
    )
    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        failfast.count()
