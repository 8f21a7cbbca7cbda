"""Probabilistic sketches over DataFrames (approximate, bounded-memory).

The 100 TB companions to exact aggregation: each sketch builds in a
single distributed pass with fixed memory per partition — one partial
sketch per partition (mapInPandas), then a two-level ``treeReduce``
merge on the EXECUTORS (sketches are linearly mergeable, exactly like
Spark's partial aggregates); only the single fully-merged sketch ever
reaches the driver. With tens of thousands of partitions a driver-side
merge loop would pull partitions × m/8 bytes through one process — the
tree merge keeps that traffic executor-side and logarithmic. The JVM
``countMinSketch``/``bloomFilter`` stat helpers were never exposed to
PySpark, so these are Python-native.

Hashing has two modes, chosen from the column's Spark type:

- ``int64`` — integral keys hash with a splitmix64-style finalizer,
  fully vectorized in numpy (no per-row Python). This is the hot path
  for join keys; a 600k-row probe is a handful of array ops.
- ``str`` — everything else goes through one md5 per value
  (Kirsch-Mitzenmacher double hashing derives all k positions from the
  two 64-bit md5 lanes).

- :func:`count_min_sketch` → :class:`CountMinSketch`: approximate item
  frequencies, overestimate-only, error ≤ eps·N with prob ≥ confidence.
- :func:`bloom_filter` → :class:`BloomFilter`: approximate membership,
  no false negatives, ≤ fpp false positives.
- :func:`bloom_semi_join`: pre-filter a fact table by a Bloom filter of
  the dim keys before the join shuffle (explicit runtime filter — the
  same idea as AQE's injected bloom filters).
- :func:`freq_items` / :func:`approx_quantiles`: Spark built-ins
  (heavy hitters, Greenwald-Khanna quantiles), re-exported for a
  complete sketch surface.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_M64 = (1 << 64) - 1
_C1, _C2, _C3 = 0x9E3779B97F4A7C15, 0xBF58476D1CE4E5B9, 0x94D049BB133111EB
_D1, _D2, _D3 = 0xD6E8FEB86659FD93, 0xFF51AFD7ED558CCD, 0xC4CEB9FE1A85EC53

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _hash_mode(df: DataFrame, col: str) -> str:
    return "int64" if isinstance(df.schema[col].dataType, _INT_TYPES) else "str"


def _md5_lanes(value: str) -> tuple[int, int]:
    """(h1, h2) 64-bit lanes from one md5."""
    d = hashlib.md5(value.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1


def _splitmix_lanes(v: int) -> tuple[int, int]:
    """Scalar mirror of :func:`_splitmix_lanes_np` (same bit pattern)."""
    x = ((int(v) & _M64) + _C1) & _M64
    z = x
    z ^= z >> 30
    z = (z * _C2) & _M64
    z ^= z >> 27
    z = (z * _C3) & _M64
    z ^= z >> 31
    z2 = x ^ _D1
    z2 = (z2 * _D2) & _M64
    z2 ^= z2 >> 33
    z2 = (z2 * _D3) & _M64
    z2 ^= z2 >> 33
    return z, z2 | 1


def _splitmix_lanes_np(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized (h1, h2) lanes over a uint64 array (wrapping math)."""
    with np.errstate(over="ignore"):
        x = arr + np.uint64(_C1)
        z = x.copy()
        z ^= z >> np.uint64(30)
        z *= np.uint64(_C2)
        z ^= z >> np.uint64(27)
        z *= np.uint64(_C3)
        z ^= z >> np.uint64(31)
        z2 = x ^ np.uint64(_D1)
        z2 *= np.uint64(_D2)
        z2 ^= z2 >> np.uint64(33)
        z2 *= np.uint64(_D3)
        z2 ^= z2 >> np.uint64(33)
    return z, z2 | np.uint64(1)


def _to_uint64(series: pd.Series) -> np.ndarray:
    """Non-null pandas values → uint64 keys (Arrow may hand back float
    with NaN-for-null for nullable int columns)."""
    s = series.dropna()
    arr = s.to_numpy()
    if arr.dtype.kind == "f":
        arr = arr.astype(np.int64)
    elif arr.dtype == object:
        arr = np.array([int(v) for v in arr], dtype=np.int64)
    return arr.astype(np.int64, copy=False).view(np.uint64)


def _scalar_lanes(value, mode: str) -> tuple[int, int]:
    if mode == "int64":
        return _splitmix_lanes(int(value))
    return _md5_lanes(str(value))


def _series_lanes(series: pd.Series, mode: str):
    """(h1, h2) lane arrays + the surviving (non-null) positional index."""
    if mode == "int64":
        s = series.dropna()
        return (*_splitmix_lanes_np(_to_uint64(series)), s.index)
    s = series.dropna()
    pairs = [_md5_lanes(str(v)) for v in s]
    if not pairs:
        return np.array([], np.uint64), np.array([], np.uint64), s.index
    h = np.array(pairs, dtype=np.uint64)
    return h[:, 0], h[:, 1], s.index


class BloomFilter:
    """Fixed-size bit-array membership sketch (mergeable via OR)."""

    def __init__(self, m_bits: int, k: int, bits: np.ndarray, mode: str = "str"):
        self.m = m_bits
        self.k = k
        self.bits = bits
        self.mode = mode

    def might_contain(self, value) -> bool:
        if value is None:
            return False
        h1, h2 = _scalar_lanes(value, self.mode)
        for i in range(self.k):
            pos = ((h1 + i * h2) & _M64) % self.m
            if not (self.bits[pos >> 6] >> np.uint64(pos & 63)) & np.uint64(1):
                return False
        return True

    def might_contain_many(self, series: pd.Series) -> pd.Series:
        """Vectorized membership over a pandas Series (nulls → False)."""
        h1, h2, idx = _series_lanes(series, self.mode)
        mask = np.ones(len(h1), dtype=bool)
        m = np.uint64(self.m)
        with np.errstate(over="ignore"):
            for i in range(self.k):
                pos = (h1 + np.uint64(i) * h2) % m
                word = self.bits[(pos >> np.uint64(6)).astype(np.int64)]
                mask &= ((word >> (pos & np.uint64(63))) & np.uint64(1)).astype(bool)
        out = pd.Series(False, index=series.index)
        out.loc[idx] = mask
        return out

    @staticmethod
    def params(expected_items: int, fpp: float) -> tuple[int, int]:
        m = int(-expected_items * math.log(fpp) / (math.log(2) ** 2))
        m = 1 << max(10, (m - 1).bit_length())  # power of two
        k = max(1, round(m / expected_items * math.log(2)))
        return m, k


def _tree_depth(df: DataFrame) -> int:
    """treeReduce depth from the partition count: 2 levels handle up to
    ~sqrt-thousands of partials; add a level per extra order of scale."""
    n = df.rdd.getNumPartitions()
    return 2 if n <= 4096 else 3


def bloom_filter(
    df: DataFrame, col: str, expected_items: int | None = None, fpp: float = 0.01
) -> BloomFilter:
    """Build a BloomFilter of ``col`` in one distributed pass.

    Per-partition partial bit arrays (Arrow-batched numpy build) merge
    with a ``treeReduce`` OR on the executors; the driver receives only
    the final m/8-byte array.
    """
    if expected_items is None:
        expected_items = max(1024, df.count())
    m, k = BloomFilter.params(expected_items, fpp)
    mode = _hash_mode(df, col)

    def build(batches):
        bits = np.zeros(m // 64, dtype=np.uint64)
        for pdf in batches:
            h1, h2, _ = _series_lanes(pdf.iloc[:, 0], mode)
            with np.errstate(over="ignore"):
                for i in range(k):
                    pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
                    np.bitwise_or.at(
                        bits,
                        (pos >> np.uint64(6)).astype(np.int64),
                        np.uint64(1) << (pos & np.uint64(63)),
                    )
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    partials = df.select(col).mapInPandas(build, "bits binary")

    def or_blobs(a: bytes, b: bytes) -> bytes:
        return (
            np.frombuffer(a, dtype=np.uint64) | np.frombuffer(b, dtype=np.uint64)
        ).tobytes()

    blob = partials.rdd.map(lambda r: bytes(r[0])).treeReduce(
        or_blobs, depth=_tree_depth(df)
    )
    combined = np.frombuffer(blob, dtype=np.uint64).copy()
    return BloomFilter(m, k, combined, mode)


class CountMinSketch:
    """depth×width counter table; estimates are min-over-rows (never
    underestimates; overestimate ≤ eps·N with prob ≥ confidence)."""

    def __init__(
        self, depth: int, width: int, table: np.ndarray, total: int, mode: str = "str"
    ):
        self.depth = depth
        self.width = width
        self.table = table
        self.total = total
        self.mode = mode

    def estimate_count(self, value) -> int:
        h1, h2 = _scalar_lanes(value, self.mode)
        return int(
            min(
                self.table[i][((h1 + i * h2) & _M64) % self.width]
                for i in range(self.depth)
            )
        )

    @staticmethod
    def params(eps: float, confidence: float) -> tuple[int, int]:
        depth = max(1, math.ceil(math.log(1.0 / (1.0 - confidence))))
        width = max(2, math.ceil(math.e / eps))
        return depth, width


def count_min_sketch(
    df: DataFrame, col: str, eps: float = 0.001, confidence: float = 0.99
) -> CountMinSketch:
    """Build a CountMinSketch of ``col`` in one distributed pass.

    Per-partition partial tables merge with a ``treeReduce`` add on the
    executors; the driver receives only the final depth×width table.
    """
    depth, width = CountMinSketch.params(eps, confidence)
    mode = _hash_mode(df, col)

    def build(batches):
        table = np.zeros((depth, width), dtype=np.int64)
        n = 0
        for pdf in batches:
            h1, h2, _ = _series_lanes(pdf.iloc[:, 0], mode)
            n += len(h1)
            with np.errstate(over="ignore"):
                for i in range(depth):
                    pos = ((h1 + np.uint64(i) * h2) % np.uint64(width)).astype(np.int64)
                    np.add.at(table[i], pos, 1)
        yield pd.DataFrame({"table": [table.tobytes()], "n": [n]})

    partials = df.select(col).mapInPandas(build, "table binary, n long")

    def add_blobs(a: tuple[bytes, int], b: tuple[bytes, int]) -> tuple[bytes, int]:
        return (
            (
                np.frombuffer(a[0], dtype=np.int64)
                + np.frombuffer(b[0], dtype=np.int64)
            ).tobytes(),
            a[1] + b[1],
        )

    blob, total = partials.rdd.map(lambda r: (bytes(r[0]), int(r[1]))).treeReduce(
        add_blobs, depth=_tree_depth(df)
    )
    combined = np.frombuffer(blob, dtype=np.int64).reshape(depth, width).copy()
    return CountMinSketch(depth, width, combined, int(total), mode)


def freq_items(df: DataFrame, cols: list[str], support: float = 0.01):
    """Heavy hitters: values appearing in more than ``support`` fraction
    of rows (may include false positives, never misses a true one)."""
    return df.stat.freqItems(cols, support=support)


def approx_quantiles(
    df: DataFrame, col: str, probabilities: list[float], relative_error: float = 0.01
) -> list[float]:
    """Greenwald-Khanna approximate quantiles in one pass."""
    return df.approxQuantile(col, probabilities, relative_error)


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """Filter ``fact`` down to rows whose key *might* exist in ``dim``.

    Builds the Bloom filter distributed over the dim side, broadcasts
    the fixed-size bit array, and applies a numpy-vectorized membership
    test on the fact side. False positives pass through (callers follow
    with the real join); false negatives cannot occur — non-matching
    fact rows never enter the join shuffle.
    """
    bf = bloom_filter(dim, dim_key, expected_items, fpp)
    bc = fact.sparkSession.sparkContext.broadcast(
        (bf.m, bf.k, bf.bits.tobytes(), bf.mode)
    )

    def test(batches):
        m, k, raw, mode = bc.value
        local = BloomFilter(m, k, np.frombuffer(raw, dtype=np.uint64), mode)
        for pdf in batches:
            yield pdf[local.might_contain_many(pdf[fact_key])]

    return fact.mapInPandas(test, fact.schema)


# ---------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch — deterministic & mergeable
# ---------------------------------------------------------------------


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002).

    The k smallest ``md5(key)`` values summarize the distinct set;
    estimate = ``(k-1) / max_kth_normalized``.  Unlike HLL this sketch
    is fully DETERMINISTIC (md5 order — no RNG, no engine-specific
    hashing), so the estimate — and the sketch itself — hash-matches a
    SQL oracle exactly, and two sketches MERGE by keeping the k
    smallest of the union (a distributed-sort top-k, the same shape as
    building).  Plan: distinct-by-hash partial aggregation rides the
    TakeOrdered top-k; nothing but k hashes reaches the driver side of
    any merge.

    Output: one row ``(n_seen bigint, k_used int, est_distinct
    double)`` — exact count when the distinct count ≤ k.
    """
    # NULL keys are dropped BEFORE hashing (operator fuzzer, round 8):
    # md5(NULL) is NULL, which Spark's ORDER BY places FIRST but
    # DuckDB places LAST — a NULL would occupy a k-min slot on one
    # engine only, shifting the kth hash and the estimate. A NULL key
    # is not a distinct value; exclude it on both sides.
    hashed = df.where(F.col(key_col).isNotNull()).select(
        F.md5(
            F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))
        ).alias("h")
    ).distinct()
    kmin = hashed.orderBy("h").limit(k)
    # normalized position of the kth smallest hash in [0, 1): use the
    # first 15 hex chars (60 bits — exact in a double)
    frac = F.conv(F.substring(F.col("h"), 1, 15), 16, 10).cast(
        "double"
    ) / F.lit(float(1 << 60))
    agg = kmin.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seen"),
        F.max(frac).alias("max_frac"),
    )
    return agg.select(
        "n_seen",
        F.lit(k).cast("int").alias("k_used"),
        F.when(F.col("n_seen") < k, F.col("n_seen").cast("double"))
        .otherwise((F.lit(float(k - 1))) / F.col("max_frac"))
        .alias("est_distinct"),
    )


def kmv_oracle_sql(
    table: str, key_col: str, k: int = 256, salt: str = "kmv"
) -> str:
    return f"""
    WITH hashed AS (
      SELECT DISTINCT md5(CAST({key_col} AS VARCHAR) || ':{salt}') AS h
      FROM {table} WHERE {key_col} IS NOT NULL
    ),
    kmin AS (
      SELECT h FROM hashed ORDER BY h LIMIT {k}
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_seen,
             MAX(CAST(('0x' || substr(h, 1, 15)) AS BIGINT)
                 / CAST({float(1 << 60)} AS DOUBLE)) AS max_frac
      FROM kmin
    )
    SELECT n_seen, CAST({k} AS INT) AS k_used,
           CASE WHEN n_seen < {k} THEN CAST(n_seen AS DOUBLE)
                ELSE {float(k - 1)} / max_frac END AS est_distinct
    FROM agg
    """


def kmv_set_ops(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """Set-operation estimates from K-minimum-values sketches
    (Bar-Yossef et al. 2002; Beyer et al. 2007 for the Jaccard form):
    union cardinality from the MERGED sketch (k smallest of A∪B), the
    Jaccard index as the fraction of those k union-minima present in
    BOTH sides, and intersection = jaccard · union — the classic
    sketch identity. Everything is md5-deterministic, so the estimates
    hash-match a SQL oracle exactly.

    Plan shape: per-side distinct-by-hash (map-side partial), one
    top-k over the union (TakeOrdered — no full sort), then two
    broadcast semi-join membership probes of the k-row minima set.
    Only k hashes ever leave the aggregation.
    """
    def hashes(df: DataFrame) -> DataFrame:
        # NULL keys dropped pre-hash — the kmv_sketch NULL-ordering
        # seam (operator fuzzer, round 8) applies to the merge too
        return df.where(F.col(key_col).isNotNull()).select(
            F.md5(
                F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))
            ).alias("h")
        ).distinct()

    ha, hb = hashes(df_a), hashes(df_b)
    kmin = ha.unionAll(hb).distinct().orderBy("h").limit(k)
    in_a = kmin.join(ha, "h", "left_semi")
    in_b = kmin.join(hb, "h", "left_semi")
    both = in_a.join(in_b, "h", "left_semi")
    frac = F.conv(F.substring(F.col("h"), 1, 15), 16, 10).cast(
        "double"
    ) / F.lit(float(1 << 60))
    agg = kmin.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_seen"),
        F.max(frac).alias("max_frac"),
    )
    nboth = both.agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    est_union = (
        F.when(F.col("n_seen") < k, F.col("n_seen").cast("double"))
        .otherwise(F.lit(float(k - 1)) / F.col("max_frac"))
    )
    return agg.crossJoin(F.broadcast(nboth)).select(
        "n_seen",
        "n_both",
        est_union.alias("est_union"),
        (
            F.col("n_both").cast("double") / F.col("n_seen").cast("double")
        ).alias("est_jaccard"),
        (
            (F.col("n_both").cast("double") / F.col("n_seen").cast("double"))
            * est_union
        ).alias("est_intersect"),
    )


def kmv_set_ops_oracle_sql(
    table_a: str,
    table_b: str,
    key_col: str,
    k: int = 256,
    salt: str = "kmv",
) -> str:
    """DuckDB twin of :func:`kmv_set_ops`."""
    return f"""
    WITH ha AS (
      SELECT DISTINCT md5(CAST({key_col} AS VARCHAR) || ':{salt}') AS h
      FROM {table_a} WHERE {key_col} IS NOT NULL
    ), hb AS (
      SELECT DISTINCT md5(CAST({key_col} AS VARCHAR) || ':{salt}') AS h
      FROM {table_b} WHERE {key_col} IS NOT NULL
    ), kmin AS (
      SELECT h FROM (SELECT h FROM ha UNION SELECT h FROM hb)
      ORDER BY h LIMIT {k}
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_seen,
             MAX(CAST(('0x' || substr(h, 1, 15)) AS BIGINT)
                 / CAST({float(1 << 60)} AS DOUBLE)) AS max_frac
      FROM kmin
    ), nb AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM kmin
      WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)
    )
    SELECT n_seen, n_both,
           CASE WHEN n_seen < {k} THEN CAST(n_seen AS DOUBLE)
                ELSE {float(k - 1)} / max_frac END AS est_union,
           CAST(n_both AS DOUBLE) / CAST(n_seen AS DOUBLE) AS est_jaccard,
           (CAST(n_both AS DOUBLE) / CAST(n_seen AS DOUBLE))
             * CASE WHEN n_seen < {k} THEN CAST(n_seen AS DOUBLE)
                    ELSE {float(k - 1)} / max_frac END AS est_intersect
    FROM agg CROSS JOIN nb
    """


# ---------------------------------------------------------------------
# Count-Min sketch (Cormode & Muthukrishnan 2005) — deterministic,
# fully oracle-checkable cells
# ---------------------------------------------------------------------

def count_min_table(
    df: DataFrame, term_col: str, d: int = 4, w: int = 64
) -> DataFrame:
    """Count-Min sketch AS AN ORACLE-CHECKABLE CELL TABLE (the
    driver-side :func:`count_min_sketch` object wraps Spark's JVM
    sketch and cannot be value-verified): ``d`` hash rows × ``w``
    cells, every cell an EXACT integer count — the sketch itself is
    deterministic (md5-derived row hashes), so the full d×w table
    hash-checks against the SQL oracle, unlike engine-internal
    sketches (HLL/approx_count_distinct are rows-only for exactly
    this reason).

    Point estimate for a term t is min_i cell(i, h_i(t)) downstream —
    an overestimate bounded by ε = e/w of the stream length with
    probability 1 − e^−d (the classic CM guarantee).

    Scale shape: row-local ×d expansion (explode of a literal array),
    then ONE hash aggregate onto d·w cells — map-side combine
    collapses every partition to ≤ d·w rows before the shuffle, so
    shuffle volume is d·w·partitions regardless of stream size. The
    100 TB-friendly frequency summary: merging shards = adding cell
    tables.
    """
    from spark_extensions_spark.operators.dedup import hash64_expr

    entries = [
        F.struct(
            F.lit(i).alias("row_id"),
            F.expr(
                f"pmod({hash64_expr(f_concat(i, term_col))}, {w})"
            )
            .cast("int")
            .alias("cell"),
        )
        for i in range(d)
    ]
    return (
        df.where(F.col(term_col).isNotNull())
        .select(F.explode(F.array(*entries)).alias("e"))
        .select("e.row_id", "e.cell")
        .groupBy("row_id", "cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def f_concat(i: int, term_col: str) -> str:
    """Salted hash input ``'i:' || term`` — || propagates NULL
    identically in both engines (concat() does not)."""
    return f"('{i}:' || {term_col})"


def count_min_oracle_sql(
    terms_sql: str, term_col: str, d: int = 4, w: int = 64
) -> str:
    """DuckDB twin of :func:`count_min_table` over ``terms_sql``
    (NOT of :func:`count_min_sketch`, which wraps Spark's JVM sketch
    and cannot be value-verified)."""
    rows = " UNION ALL ".join(
        f"""SELECT {i} AS row_id,
             CAST(('0x' || substr(md5({f_concat(i, term_col)}), 1, 15))::BIGINT
                  % {w} AS INT) AS cell
        FROM terms WHERE {term_col} IS NOT NULL"""
        for i in range(d)
    )
    return f"""
    WITH terms AS ({terms_sql}),
    cells AS ({rows})
    SELECT row_id, cell, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM cells GROUP BY row_id, cell
    """


# ---------------------------------------------------------------------
# Bloom-prefiltered incremental dedup (deterministic, oracle-checkable)
# ---------------------------------------------------------------------

def bloom_bits(
    df: DataFrame, key_col: str, d: int = 3, m: int = 4096
) -> DataFrame:
    """The SET-BIT table of a Bloom filter over ``key_col`` —
    ``d`` md5-derived hash functions into ``m`` bits, emitted as the
    distinct bit positions (≤ m rows, domain-sized).  Deterministic,
    so the whole filter hash-checks; merging shards is a bit-set
    union (DISTINCT of the concatenation)."""
    from spark_extensions_spark.operators.dedup import hash64_expr

    bits = [
        F.expr(
            f"pmod({hash64_expr(f_concat(i, key_col))}, {m})"
        )
        .cast("int")
        .alias("bit")
        for i in range(d)
    ]
    return (
        df.where(F.col(key_col).isNotNull())
        .select(F.explode(F.array(*bits)).alias("bit"))
        .distinct()
    )


# Largest filter carried as a single-row packed-long map (m/8 bytes in
# one broadcast row); bigger filters keep the per-bit broadcast-join
# probe, whose build never concentrates the mask in one row.
_BLOOM_LITERAL_MAX_M = 1 << 24


def _with_bloom_maybe(
    df: DataFrame, hist_df: DataFrame, key_col: str, d: int, m: int
) -> DataFrame:
    """``df`` plus a boolean ``__bpf_maybe``: all ``d`` probe bits of
    ``key_col`` are set in the Bloom filter over ``hist_df.key_col``
    (False for NULL keys). Also carries the ``__bpf_*`` probe columns;
    callers select what they keep.

    Up to ``_BLOOM_LITERAL_MAX_M`` bits the set-bit table is folded into
    packed 64-bit words carried as ONE single-row map, attached by a
    1-row broadcast nested-loop join: the whole filter costs one scan of
    the history and one tiny broadcast per batch, with no driver
    collect. Above it the single mask row would be outsized, so the
    probe joins each bit lane onto the broadcast bit set instead.
    """
    from spark_extensions_spark.operators.dedup import hash64_expr

    bits = bloom_bits(hist_df, key_col, d=d, m=m)
    probed = df
    for i in range(d):
        probed = probed.withColumn(
            f"__bpf_b{i}",
            F.expr(
                f"pmod({hash64_expr(f_concat(i, key_col))}, {m})"
            ).cast("int"),
        )
    if m <= _BLOOM_LITERAL_MAX_M:
        words = bits.groupBy(
            F.shiftright(F.col("bit"), 6).alias("w")
        ).agg(F.expr("bit_or(shiftleft(1L, bit & 63))").alias("word"))
        mask_row = words.agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "word"))
            ).alias("__bpf_mask")
        )
        all_hit = " AND ".join(
            f"(shiftright(element_at(__bpf_mask,"
            f" shiftright(__bpf_b{i}, 6)), __bpf_b{i} & 63) & 1) = 1"
            for i in range(d)
        )
        # NULL keys hash to NULL bits, and unset words are absent from
        # the map (element_at → NULL): the join path yields no match
        # (False) for both, so the mask path coalesces NULL to False
        return probed.join(F.broadcast(mask_row)).withColumn(
            "__bpf_maybe", F.expr(f"coalesce({all_hit}, false)")
        )
    # all-d-bits membership via d broadcast left joins onto the bit set
    # (a left_semi per bit would drop rows; the boolean is needed)
    for i in range(d):
        probed = probed.join(
            F.broadcast(
                bits.select(
                    F.col("bit").alias(f"__bpf_b{i}"),
                    F.lit(1).alias(f"__bpf_hit{i}"),
                )
            ),
            f"__bpf_b{i}",
            "left",
        )
    return probed.withColumn(
        "__bpf_maybe",
        sum(
            (F.col(f"__bpf_hit{i}").isNotNull()).cast("int")
            for i in range(d)
        )
        == d,
    )


def bloom_prefilter_dedup(
    new_df: DataFrame,
    hist_df: DataFrame,
    id_col: str,
    key_col: str,
    d: int = 3,
    m: int = 4096,
) -> DataFrame:
    """Incremental exact-dup detection of ``new_df`` against a
    historical corpus WITHOUT joining the corpus per batch: a Bloom
    prefilter (built once from history, broadcast as ≤ m set bits)
    marks ``maybe_dup`` rows; only those probe the exact key join.

    Output: one row per new document ``(id, maybe_dup, confirmed_dup)``
    — ``maybe_dup AND NOT confirmed_dup`` rows are the filter's false
    positives (rate ≈ (1 − e^{−dn/m})^d, the classic bound).  Bloom
    never yields false NEGATIVES, so ``confirmed_dup ⇒ maybe_dup`` —
    pinned in tests.

    Scale shape (the 100 TB ingest pattern): the corpus is scanned
    ONCE to build ≤ m bits (map-side-combinable distinct), folded into
    m/64 packed words carried as a single-row map and attached to the
    batch by a 1-row broadcast; each incremental batch then does
    row-local hashing against the mask, and only the maybe-dup subset
    (FPR-bounded) pays the exact corpus join.  At steady state the
    exact join probes a tiny fraction of the batch.

    The packed-mask probe replaces the previous d per-bit-lane
    broadcast-join builds (each one a driver job + exchange every
    micro-batch, each re-running the history scan); above
    ``_BLOOM_LITERAL_MAX_M`` bits the single mask row would be
    outsized, so oversized filters keep the per-bit broadcast probe.
    """
    flagged = _with_bloom_maybe(new_df, hist_df, key_col, d, m).select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("__k"),
        F.col("__bpf_maybe").alias("maybe_dup"),
    )
    hist_keys = hist_df.select(
        F.col(key_col).alias("__k"), F.lit(1).alias("__in_hist")
    ).distinct()
    # only maybe-dup rows need the exact probe; the union keeps the
    # definite-new rows out of the corpus join entirely
    maybe = flagged.where(F.col("maybe_dup"))
    definite = flagged.where(~F.col("maybe_dup")).select(
        "id",
        "maybe_dup",
        F.lit(False).alias("confirmed_dup"),
    )
    confirmed = (
        maybe.join(hist_keys, "__k", "left")
        .select(
            "id",
            "maybe_dup",
            F.col("__in_hist").isNotNull().alias("confirmed_dup"),
        )
    )
    return definite.unionByName(confirmed)


def bloom_prefilter_fresh(
    new_df: DataFrame,
    hist_df: DataFrame,
    key_col: str,
    d: int = 3,
    m: int = 4096,
) -> DataFrame:
    """The FUSED fresh-set form of :func:`bloom_prefilter_dedup` for
    pipelines that keep the full batch row: returns exactly the rows of
    ``new_df`` whose key is NOT a confirmed duplicate of the history
    (same mask probe, same FPR-bounded exact confirm, NULL keys kept),
    but filters the batch in ONE pass — definitely-new rows drop out
    row-locally after the 1-row mask broadcast, and only the
    FPR-bounded maybe set pays an anti join against the history.

    Callers previously computed ``bloom_prefilter_dedup`` flags and
    equi-joined them BACK onto the batch, shipping every batch row
    through a second join per micro-batch; the fused form removes that
    join while keeping the flag form's row set bit-identical (pinned
    by a pytest equivalence test).
    """
    probed = _with_bloom_maybe(new_df, hist_df, key_col, d, m)
    hist_keys = hist_df.select(F.col(key_col).alias("__bpf_k")).distinct()
    cols = new_df.columns
    definite = probed.where(~F.col("__bpf_maybe")).select(*cols)
    confirmed_new = (
        probed.where(F.col("__bpf_maybe"))
        .join(
            hist_keys,
            F.col(key_col) == F.col("__bpf_k"),
            "left_anti",
        )
        .select(*cols)
    )
    return definite.unionByName(confirmed_new)


def bloom_prefilter_oracle_sql(
    new_sql: str,
    hist_sql: str,
    id_col: str,
    key_col: str,
    d: int = 3,
    m: int = 4096,
) -> str:
    """DuckDB twin of :func:`bloom_prefilter_dedup`."""
    def h(i: int) -> str:
        return (
            f"CAST(('0x' || substr(md5({f_concat(i, key_col)}), 1, 15))"
            f"::BIGINT % {m} AS INT)"
        )

    bit_rows = " UNION ALL ".join(
        f"SELECT DISTINCT {h(i)} AS bit FROM hist"
        f" WHERE {key_col} IS NOT NULL"
        for i in range(d)
    )
    probe_cols = ", ".join(f"{h(i)} AS b{i}" for i in range(d))
    hit_joins = "".join(
        f"""
      LEFT JOIN (SELECT bit AS b{i}, 1 AS hit{i} FROM bits) t{i}
        USING (b{i})"""
        for i in range(d)
    )
    all_hit = " AND ".join(f"hit{i} IS NOT NULL" for i in range(d))
    return f"""
    WITH new_docs AS ({new_sql}),
    hist AS ({hist_sql}),
    bits AS (SELECT DISTINCT bit FROM ({bit_rows})),
    probed AS (
      SELECT {id_col} AS id, {key_col} AS __k, {probe_cols}
      FROM new_docs
    ),
    flagged AS (
      SELECT id, __k, ({all_hit}) AS maybe_dup
      FROM probed{hit_joins}
    ),
    hist_keys AS (SELECT DISTINCT {key_col} AS __k FROM hist)
    SELECT f.id, f.maybe_dup,
           CASE WHEN f.maybe_dup
                THEN h.__k IS NOT NULL ELSE FALSE END AS confirmed_dup
    FROM flagged f
    LEFT JOIN hist_keys h ON f.maybe_dup AND f.__k = h.__k
    """


# ---------------------------------------------------------------------
# Deterministic HyperLogLog register table (hash-checkable HLL)
# ---------------------------------------------------------------------

# Flajolet et al. 2007 bias constant for m >= 128: 0.7213/(1 + 1.079/m).
# The raw-estimate numerator alpha·m²·2^53 is computed ONCE here and
# embedded as the SAME double literal in both engines, so the final
# division runs identical IEEE ops.
_HLL_P = 8
_HLL_M = 1 << _HLL_P                      # 256 registers
_HLL_WBITS = 60 - _HLL_P                  # 52-bit rank field
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)
_HLL_EST_NUM = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << (_HLL_WBITS + 1))


def _hll_rank_spark(key_sql: str) -> tuple[str, str]:
    """(bucket, rank) Spark-SQL exprs from the house md5-60-bit hash.

    bucket = h mod m; w = h div m (52 bits); rank = 53 − bitlength(w),
    bitlength via the engine's exact binary-string rendering (``bin``
    in Spark, ``bin`` in DuckDB) — integer-exact, no log2 ulp seam.
    ``w = 0`` (probability 2^-52) pins rank to the 53 maximum.
    """
    k = f"cast({key_sql} as string)"
    h = f"cast(conv(substring(md5({k}), 1, 15), 16, 10) as bigint)"
    bucket = f"cast(pmod({h}, {_HLL_M}) as int)"
    w = f"({h} div {_HLL_M})"
    rank = (
        f"cast(case when {w} = 0 then {_HLL_WBITS + 1} "
        f"else {_HLL_WBITS + 1} - length(bin({w})) end as int)"
    )
    return bucket, rank


def _hll_rank_duck(key_sql: str) -> tuple[str, str]:
    k = f"CAST({key_sql} AS VARCHAR)"
    h = f"(('0x' || substr(md5({k}), 1, 15))::BIGINT)"
    bucket = f"CAST({h} % {_HLL_M} AS INT)"
    w = f"({h} // {_HLL_M})"
    rank = (
        f"CAST(CASE WHEN {w} = 0 THEN {_HLL_WBITS + 1} "
        f"ELSE {_HLL_WBITS + 1} - length(bin({w})) END AS INT)"
    )
    return bucket, rank


def hll_register_table(df: DataFrame, key_col: str) -> DataFrame:
    """The REGISTER table of a deterministic HyperLogLog sketch over
    ``key_col`` — md5-derived 60-bit hashes split into an 8-bit bucket
    and a 52-bit rank field, one row per non-empty register
    ``(bucket, max_rank)``.

    Unlike the JVM's HLL (engine-internal layout, rows-only checkable),
    every register value here is an exact integer the oracle reproduces
    — the same trick :func:`count_min_table` plays for Count-Min.
    Merging shards is an elementwise register MAX (property-tested),
    so the table is a mergeable partial aggregate: the 100 TB rollup
    pattern stores register tables per partition and re-merges them at
    query time instead of rescanning.

    Scale shape: row-local hashing, ONE map-side-combinable max
    aggregate with shuffle volume ≤ m·partitions at any corpus size.
    """
    bucket, rank = _hll_rank_spark(key_col)
    return (
        df.where(F.col(key_col).isNotNull())
        .select(F.expr(bucket).alias("bucket"), F.expr(rank).alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_register_oracle_sql(source_sql: str, key_col: str) -> str:
    """DuckDB twin of :func:`hll_register_table`."""
    bucket, rank = _hll_rank_duck(key_col)
    return f"""
    SELECT {bucket} AS bucket, MAX({rank}) AS max_rank
    FROM ({source_sql}) hll_src
    WHERE {key_col} IS NOT NULL
    GROUP BY 1
    """


def hll_estimate(df: DataFrame, key_col: str) -> DataFrame:
    """The full deterministic-HLL cardinality estimate, hash-checkable
    end to end: raw estimate α·m²/Σ2^(−reg) with the register sum
    carried as the EXACT integer Σ2^(53−reg) (≤ m·2^52 < 2^61 — no
    double-rounding seam), and the standard small-range linear-counting
    correction m·ln(m/V) when the raw estimate is under 2.5m with V
    empty registers. One row:
    ``(n_registers, n_zero, sum_scaled, estimate, exact_distinct,
    err_e6)`` — the exact distinct count rides along so the error is
    part of the verified surface.
    """
    regs = hll_register_table(df, key_col)
    zero_rank = _HLL_WBITS + 1
    agg = regs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nonzero"),
        F.sum(F.expr(f"cast(shiftleft(1L, {zero_rank} - max_rank) as bigint)"))
        .cast("bigint")
        .alias("sum_nonzero"),
    )
    exact = df.where(F.col(key_col).isNotNull()).agg(
        F.countDistinct(key_col).cast("bigint").alias("exact_distinct")
    )
    # empty registers contribute 2^-0 = 1, i.e. 2^53 scaled units each
    full = agg.crossJoin(exact).select(
        F.lit(_HLL_M).cast("bigint").alias("n_registers"),
        (F.lit(_HLL_M) - F.col("n_nonzero")).alias("n_zero"),
        (
            F.col("sum_nonzero")
            + (F.lit(_HLL_M) - F.col("n_nonzero"))
            * F.lit(1 << zero_rank).cast("bigint")
        ).alias("sum_scaled"),
        F.col("exact_distinct"),
    )
    raw = f"({_HLL_EST_NUM!r} / cast(sum_scaled as double))"
    lin = f"({_HLL_M} * ln({_HLL_M} / cast(n_zero as double)))"
    est = (
        f"cast(floor(case when {raw} <= {2.5 * _HLL_M!r} and n_zero > 0 "
        f"then {lin} else {raw} end + 0.5d) as bigint)"
    )
    return full.select(
        "n_registers",
        "n_zero",
        "sum_scaled",
        F.expr(est).alias("estimate"),
        "exact_distinct",
        F.expr(
            "cast(floor(abs(cast(" + est + " as double) - exact_distinct)"
            " / exact_distinct * 1e6 + 0.5d) as bigint)"
        ).alias("err_e6"),
    )


def hll_estimate_oracle_sql(source_sql: str, key_col: str) -> str:
    """DuckDB twin of :func:`hll_estimate` — same scaled-integer
    register sum, same embedded α·m²·2^53 literal, same correction
    branch."""
    regs = hll_register_oracle_sql(source_sql, key_col)
    zero_rank = _HLL_WBITS + 1
    raw = f"({_HLL_EST_NUM!r} / CAST(sum_scaled AS DOUBLE))"
    lin = f"({_HLL_M} * ln({_HLL_M} / CAST(n_zero AS DOUBLE)))"
    est = (
        f"CAST(FLOOR(CASE WHEN {raw} <= {2.5 * _HLL_M!r} AND n_zero > 0 "
        f"THEN {lin} ELSE {raw} END + 0.5) AS BIGINT)"
    )
    return f"""
    WITH hll_regs AS ({regs}),
    hll_agg AS (
      SELECT COUNT(*) AS n_nonzero,
             SUM((1::BIGINT << ({zero_rank} - max_rank))) AS sum_nonzero
      FROM hll_regs
    ),
    hll_full AS (
      SELECT CAST({_HLL_M} AS BIGINT) AS n_registers,
             CAST({_HLL_M} - n_nonzero AS BIGINT) AS n_zero,
             CAST(sum_nonzero
                  + ({_HLL_M} - n_nonzero) * (1::BIGINT << {zero_rank})
                  AS BIGINT) AS sum_scaled,
             (SELECT CAST(COUNT(DISTINCT {key_col}) AS BIGINT)
              FROM ({source_sql}) x WHERE {key_col} IS NOT NULL)
               AS exact_distinct
      FROM hll_agg
    )
    SELECT n_registers, n_zero, sum_scaled,
           {est} AS estimate,
           exact_distinct,
           CAST(FLOOR(ABS(CAST({est} AS DOUBLE) - exact_distinct)
                / exact_distinct * 1e6 + 0.5) AS BIGINT) AS err_e6
    FROM hll_full
    """
