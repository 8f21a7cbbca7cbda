"""Deduplication operators for large-scale text corpora.

All operators are pure DataFrame compositions (whole-stage-codegen'd
built-ins, no Python in the row path) and follow the shuffle-minimal
shapes that survive 100 TB:

- exact dedup: hash + groupBy (one shuffle on the content hash).
- MinHash signatures: computed **row-locally** — shingle the text and take
  per-seed array minima inside a single projection; NO explode, NO
  shuffle. Signature cost is O(shingles × num_hashes) CPU per row.
- LSH candidates: explode per-band keys and self-join on the band hash —
  the one unavoidable shuffle, keyed by band buckets (uniform by
  construction since keys are md5 values).
- SimHash: row-local bit-majority over word hashes, zero shuffle.
- n-gram Jaccard: distinct-shingle inverted-index self-join (standard
  scalable set-similarity join).

Determinism: all hashing is md5-based (identical across Spark and the
DuckDB oracle); no rand(), no JVM-specific hash functions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _words(text: Column) -> Column:
    """Lowercased word tokens (letters+digits runs)."""
    return F.expr(f"regexp_extract_all(lower({_sql(text)}), '[a-z0-9]+', 0)")


def _sql(col: Column) -> str:
    # Column -> SQL fragment for use inside F.expr compositions.
    # We accept plain column-name strings everywhere instead, so this is
    # only used with simple named columns.
    if isinstance(col, str):
        return col
    raise TypeError("pass column names as strings to dedup operators")


def shingles_from_words(words_col: str, n: int) -> Column:
    """Word n-gram shingles from a *materialized* words-array column.

    Keeping the tokenizer in its own projection step (see
    :func:`word_shingles` callers) stops Catalyst from inlining the
    regex into the per-element lambda — tokenization runs once per row,
    not once per shingle.

    Guarded for short texts: fewer than ``n`` words yields an empty array
    (Spark's ``sequence(0, negative)`` would otherwise count down).
    """
    return F.expr(
        f"""
        case when size({words_col}) < {n} then array()
             else transform(
               sequence(0, size({words_col}) - {n}),
               i -> concat_ws(' ', slice({words_col}, i + 1, {n}))
             )
        end
        """
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Word n-gram shingles of ``text_col`` as array<string> (row-local)."""
    words = f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
    return shingles_from_words(words, n)


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact duplicate grouping by content hash.

    Returns one row per distinct content: ``(content_hash, keep_id,
    dup_count)``. One shuffle, partial aggregation map-side; at 100 TB
    the md5 groupBy distributes uniformly (no skew by construction).
    """
    agg_id = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(F.md5(F.col(content_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(agg_id.alias("keep_id"), F.count("*").alias("dup_count"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    shingle_words: int = 3,
) -> DataFrame:
    """MinHash signature per document, computed row-locally (no shuffle).

    ``sig[i] = min over shingles s of md5(i || ':' || s)`` — lexicographic
    min over hex digests is a valid uniform min-hash family and is
    reproducible in any engine with md5. Empty shingle sets yield nulls.

    The whole signature is ONE sequential fold over the shingle array
    (``aggregate`` + elementwise ``least``): shingles are constructed and
    hashed exactly once per row regardless of ``num_hashes``, immune to
    Catalyst projection-collapse re-inlining (which made the naive
    per-seed ``array_min(transform(...))`` formulation O(shingles²)).
    """
    sentinel = "g" * 32  # > every md5 hex digest ('g' > 'f')
    words = df.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)").alias(
            "__words"
        ),
    )
    shingled = words.select(
        F.col(id_col), shingles_from_words("__words", shingle_words).alias("__sh")
    )
    seed_hashes = ", ".join(f"md5(concat('{i}:', s))" for i in range(num_hashes))
    fold = (
        f"aggregate(__sh, array_repeat('{sentinel}', {num_hashes}), "
        f"(acc, s) -> zip_with(acc, array({seed_hashes}), (x, y) -> least(x, y)))"
    )
    return shingled.select(
        F.col(id_col),
        F.expr(f"transform({fold}, x -> nullif(x, '{sentinel}'))").alias(
            "minhash_sig"
        ),
    )


MINHASH_PRIME = 2_147_483_647  # 2^31 - 1


def minhash_seed_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (A_i, B_i) multiplier/offset pairs, all < 2^31, for
    the universal-hash family ``(base*A + B) mod (2^31-1)`` shared with
    the DuckDB oracle."""
    return [
        (
            (1103515245 + 12820163 * i) % MINHASH_PRIME,
            (12345 + 1013904223 * i) % MINHASH_PRIME,
        )
        for i in range(num_hashes)
    ]


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """LSH band table ``(id, band_idx, band_key)`` for a document set.

    This is the persistable dedup *index*: in production you write it
    out partitioned/bucketed on ``(band_idx, band_key)`` once, and every
    later ingest joins its (small) new-batch band table against it —
    see :func:`minhash_lsh_candidates_incremental`.
    """
    r = num_hashes // bands
    assert bands * r == num_hashes, "num_hashes must be divisible by bands"
    # Signatures via explode + min-aggregate rather than the row-local
    # fold of minhash_signatures(): the hash stays inside whole-stage
    # codegen (the fold's zip_with allocates a num_hashes array per
    # shingle and interprets ~5× slower), and the map-side partial min
    # keeps the shuffle tiny. Each shingle is md5'd ONCE to a 28-bit base,
    # then the per-seed hashes are universal-hash mixes
    # ``(base*A_i + B_i) mod (2^31-1)`` — products stay < 2^59, so the
    # arithmetic is exact under ANSI bigint semantics in both engines
    # (12× fewer md5 evaluations than hashing per seed).
    # Docs with no shingles drop out here (they'd otherwise all collide
    # on the empty band).
    words = df.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)").alias(
            "__words"
        ),
    )
    exploded = words.select(
        F.col(id_col),
        F.explode(shingles_from_words("__words", shingle_words)).alias("__s"),
    ).select(
        F.col(id_col),
        F.expr(
            "cast(conv(substr(md5(__s), 1, 7), 16, 10) as bigint)"
        ).alias("__base"),
    )
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min(
                F.expr(f"pmod(__base * {a} + {b}, {MINHASH_PRIME})")
            ).alias(f"__h{i}")
            for i, (a, b) in enumerate(minhash_seed_constants(num_hashes))
        ]
    )
    sigs = mins.select(
        F.col(id_col),
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("minhash_sig"),
    )
    sig_str = F.expr("transform(minhash_sig, x -> cast(x as string))")
    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.md5(F.concat_ws("|", F.slice(sig_str, b * r + 1, r)))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    Signature is split into ``bands`` bands of ``num_hashes // bands``
    rows; documents sharing any band hash become a candidate pair.
    Output: distinct ``(id_a, id_b)`` with ``id_a < id_b``.

    Scale shape: explode to ``bands`` rows per doc, shuffle once on the
    band bucket (md5 → uniform), self-join within buckets. Huge buckets
    only arise from genuinely duplicated content, and AQE's skew-join
    splitting handles those.
    """
    banded = minhash_band_table(
        df, id_col, text_col, num_hashes, bands, shingle_words
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_lsh_candidates_incremental(
    new_batch: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against an EXISTING corpus.

    The daily-ingest shape at 100 TB: you never re-pair the whole
    corpus — the historical band table (:func:`minhash_band_table`,
    persisted bucketed on the band key) stays put, and only the new
    batch's bands (small) join against it. No corpus self-join, no
    new-batch self-join; with a bucketed index the corpus side doesn't
    even shuffle. Output: distinct ``(new_id, index_id)``.

    Here both band tables are computed inline; in production pass an
    ``index`` DataFrame read from the persisted band table with columns
    ``(id_col, band_idx, band_key)`` — detected by column shape.
    """
    nb = minhash_band_table(
        new_batch, id_col, text_col, num_hashes, bands, shingle_words
    )
    idx_cols = {id_col, "band_idx", "band_key"}
    if set(index.columns) >= idx_cols:
        ib = index.select(*idx_cols)
    else:
        ib = minhash_band_table(
            index, id_col, text_col, num_hashes, bands, shingle_words
        )
    n = nb.alias("n")
    i = ib.alias("i")
    return (
        n.join(
            i,
            (F.col("n.band_idx") == F.col("i.band_idx"))
            & (F.col("n.band_key") == F.col("i.band_key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"i.{id_col}").alias("index_id"),
        )
        .distinct()
    )


def hash64_expr(inner_sql: str) -> str:
    """SQL fragment: 60-bit integer hash of a string expression via md5.

    Engine-portable (Spark ``conv`` / DuckDB hex cast both decode the same
    15 hex chars of md5) — used so oracles can mirror bit-level ops.
    """
    return f"cast(conv(substr(md5({inner_sql}), 1, 15), 16, 10) as bigint)"


def simhash(
    df: DataFrame, id_col: str, text_col: str, bits: int = 32
) -> DataFrame:
    """Row-local SimHash fingerprint over word hashes (no shuffle).

    For each bit j: set it iff the count of words whose 60-bit md5-derived
    hash has bit j set is >= half the word count (ties round up). Output:
    ``(id_col, simhash bigint, n_words int)``.
    """
    from spark_extensions_spark.session import ensure_parallelism

    # per-word md5 is the CPU-heavy row-local stage; keep scan width
    # on one-file inputs (measured 0.9 s on ONE task at sf0.1)
    df = ensure_parallelism(df)
    words_sql = f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
    hashes_sql = f"transform({words_sql}, w -> {hash64_expr('w')})"
    bit_terms = " + ".join(
        f"(case when 2 * aggregate(__h, 0L, (acc, v) -> acc + ((v >> {j}) & 1)) >= size(__h) "
        f"then cast({1 << j} as bigint) else 0L end)"
        for j in range(bits)
    )
    return (
        df.select(F.col(id_col), F.expr(hashes_sql).alias("__h"))
        .select(
            F.col(id_col),
            F.expr(f"case when size(__h) = 0 then 0L else {bit_terms} end").alias(
                "simhash"
            ),
            F.expr("size(__h)").alias("n_words"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs over an inverted index.

    jaccard(A,B) = |A∩B| / (|A| + |B| - |A∩B|) over distinct word
    n-gram shingles. Intersections come from a self-join on the shingle
    (inverted index), so only pairs sharing at least one shingle are ever
    materialized — the standard scalable set-similarity join. Integer
    arithmetic until the final division → deterministic across engines.

    Output: ``(id_a, id_b, inter_cnt, jaccard)`` with ``id_a < id_b`` and
    ``jaccard >= threshold``.
    """
    from spark_extensions_spark.session import ensure_parallelism

    # shingle hashing is the CPU-heavy row-local stage; make sure it
    # runs on all cores even when the input is one unsplittable file
    df = ensure_parallelism(df)
    words = df.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)").alias(
            "__words"
        ),
    )
    # join on 60-bit md5-derived shingle hashes instead of the shingle
    # strings: the shuffle moves 8-byte keys, not n-word text. Both the
    # operator and the oracle hash identically and dedupe AFTER hashing,
    # so even a (cosmically unlikely) collision yields identical result
    # sets on both sides.
    sh_hashes = F.array_distinct(
        F.transform(
            shingles_from_words("__words", n),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        )
    )
    shingled = words.select(F.col(id_col), F.explode(sh_hashes).alias("sh"))
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter_cnt"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "inter_cnt",
            (
                F.col("inter_cnt")
                / (F.col("n_a") + F.col("n_b") - F.col("inter_cnt"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    method: str = "blocked",
    n_blocks: int | None = None,
    block_rows: int = 8192,
    broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Near-duplicate pairs by exact cosine similarity (id_a < id_b).

    Default ``method="blocked"`` is the 100 TB shape: a distributed
    block-matrix self-join (:func:`embedding_neardup_pairs_blocked`)
    that never materializes the corpus on the driver — rows hash into
    ``n_blocks`` blocks, every block pair becomes one ``applyInPandas``
    group, and each group scores an (a-block × b-block) numpy matrix.
    Shuffle volume is n·n_blocks vectors; driver state is zero.

    ``method="broadcast"`` keeps the small-corpus special case: collect
    the matrix (n×dim float64, e.g. 500k×64 ≈ 256 MB) to the driver,
    broadcast once per worker, and scan slices against it — fewer
    shuffles while the corpus fits comfortably in driver/executor
    memory, a driver OOM beyond that.  The path therefore REFUSES to
    run above ``broadcast_max_rows`` rows (checked with a count before
    the collect) and points at ``blocked``/IVF instead — a guard, not
    a knob to crank.

    Both paths are EXACT (identical pair sets) and bit-deterministic:
    accumulation loops over dimensions left-to-right (``dot += a_i *
    b_i`` per dim, vectorized across the corpus axis), so every pair's
    sum is the exact IEEE sequence of the sequential fold — identical
    to the DuckDB ``list_reduce`` oracle; final expression is
    ``dot / (sqrt(na) * sqrt(nb))``, same op order on both sides.
    """
    if method == "blocked":
        return embedding_neardup_pairs_blocked(
            df, id_col, vec_col, dim, threshold, n_blocks, block_rows
        )
    if method != "broadcast":
        raise ValueError(f"unknown method {method!r}")
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    id_type = df.schema[id_col].dataType.simpleString()
    n_rows = df.count()
    if n_rows > broadcast_max_rows:
        raise ValueError(
            f"embedding_neardup_pairs(method='broadcast'): corpus has "
            f"{n_rows} rows > broadcast_max_rows={broadcast_max_rows}; "
            "collecting it would risk a driver OOM. Use the default "
            "method='blocked' (distributed block-matrix self-join) or "
            "dedup_embedding_ivf for the approximate beyond-exact "
            "scale path."
        )
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows])
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    bc = spark.sparkContext.broadcast((ids, mat))

    def score(batches):
        ids_b, m = bc.value
        col_idx = np.arange(m.shape[0])
        for pdf in batches:
            idxs_all = pdf["__idx"].to_numpy()
            frames = []
            for s, cos in _cosine_chunks(m[idxs_all], m):
                idxs = idxs_all[s : s + cos.shape[0]]
                mask = (col_idx[None, :] > idxs[:, None]) & (cos >= threshold)
                rsel, csel = np.nonzero(mask)
                frames.append(
                    pd.DataFrame(
                        {
                            "id_a": ids_b[idxs[rsel]],
                            "id_b": ids_b[csel],
                            "cosine": cos[rsel, csel],
                        }
                    )
                )
            yield (
                pd.concat(frames, ignore_index=True)
                if frames
                else pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            )

    n_parts = max(2, spark.sparkContext.defaultParallelism)
    idx_df = spark.range(0, len(ids), 1, n_parts).select(
        F.col("id").cast("int").alias("__idx")
    )
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    return idx_df.mapInPandas(score, schema)


def embedding_neardup_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_blocks: int | None = None,
    block_rows: int = 8192,
) -> DataFrame:
    """Exact all-pairs cosine near-dup via a distributed block-matrix join.

    Rows hash into ``n_blocks`` balanced blocks (murmur3 on the id — no
    global sort, no driver state). Each row is replicated to every block
    PAIR it participates in: as the "a" side to pairs (own, j ≥ own) and
    as the "b" side to pairs (i ≤ own, own) — so pair group (i, j)
    receives exactly block i as side a and block j as side b, and every
    row pair is scored exactly once. One shuffle of n·n_blocks vectors,
    then an ``applyInPandas`` per block pair computes the cross-block
    score matrix in numpy, chunked so the dot matrix stays ~100 MB.

    Output emits canonical (id_a, id_b) = (min, max); cosine is
    symmetric and both orientations compute bit-identical values
    (per-dim products commute), so canonicalization is hash-safe.

    Scale: with B = block_rows, shuffle volume is n²/B vectors — the
    unavoidable exact-all-pairs cost, spread over nb·(nb+1)/2
    independent tasks with zero driver involvement. For approximate
    candidate generation at even larger n, compose with the LSH/IVF
    bucketing in ``operators/similarity.py`` instead.
    """
    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    if n_blocks is None:
        import math

        n = df.count()
        # block_rows bounds per-task matrix size; ADDITIONALLY floor the
        # block count so nb·(nb+1)/2 score groups cover the session's
        # cores — a corpus under block_rows rows otherwise collapses to
        # ONE applyInPandas group and the whole all-pairs scores on a
        # single task (measured 2.0 s of a 4 s query at sf0.1). Extra
        # replication cost is n·nb vectors — negligible exactly when
        # this floor binds (small n); at scale n/block_rows dominates
        # and the floor is a no-op. The pair SET and every cosine are
        # blocking-independent, so results are bit-identical.
        want = df.sparkSession.sparkContext.defaultParallelism
        nb_par = math.ceil((math.sqrt(8.0 * want + 1) - 1) / 2)
        n_blocks = max(1, -(-n // block_rows), min(nb_par, n))
    nb = int(n_blocks)

    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(nb)).alias("__blk"),
    )
    a_side = base.select(
        F.col("__blk").alias("__bi"),
        F.explode(
            F.sequence(F.col("__blk"), F.lit(nb - 1))
        ).alias("__bj"),
        F.lit("a").alias("__role"),
        "__id",
        "__vec",
    )
    b_side = base.select(
        F.explode(F.sequence(F.lit(0), F.col("__blk"))).alias("__bi"),
        F.col("__blk").alias("__bj"),
        F.lit("b").alias("__role"),
        "__id",
        "__vec",
    )
    both = a_side.unionByName(b_side)

    def score(key, pdf):
        bi, bj = int(key[0]), int(key[1])
        a = pdf[pdf["__role"] == "a"]
        b = pdf[pdf["__role"] == "b"]
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if a.empty or b.empty:
            return empty
        ids_a = a["__id"].to_numpy()
        ids_b = b["__id"].to_numpy()
        ma = np.array([list(v) for v in a["__vec"]], dtype=np.float64)
        mb = np.array([list(v) for v in b["__vec"]], dtype=np.float64)
        frames = []
        for s, cos in _cosine_chunks(ma, mb):
            ia = ids_a[s : s + cos.shape[0]]
            # score only distinct unordered pairs once: ids differ AND
            # (off-diagonal groups hold disjoint blocks; the diagonal
            # group holds the same block on both sides, so keep a < b)
            if bi == bj:
                mask = (ia[:, None] < ids_b[None, :]) & (cos >= threshold)
            else:
                mask = (ia[:, None] != ids_b[None, :]) & (cos >= threshold)
            rsel, csel = np.nonzero(mask)
            if rsel.size:
                lo = np.minimum(ia[rsel], ids_b[csel])
                hi = np.maximum(ia[rsel], ids_b[csel])
                frames.append(
                    pd.DataFrame(
                        {"id_a": lo, "id_b": hi, "cosine": cos[rsel, csel]}
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else empty

    schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    return both.groupBy("__bi", "__bj").applyInPandas(score, schema)


def _cosine_chunks(a, b):
    """Exact cosine of every row of ``a`` against every row of ``b``,
    yielded as ``(start, cos)`` for consecutive row chunks of ``a``
    (``cos[i, j]`` scores ``a[start + i]`` against ``b[j]``).

    Per-dimension accumulation over the batch axis keeps each pair's
    sum the same left-to-right IEEE sequence as the SQL fold (and the
    DuckDB ``list_reduce`` oracle), and the final expression is
    ``dot / (sqrt(na) * sqrt(nb))`` — so every embedding near-dup path
    emits bit-identical cosines. Chunked so the (chunk × len(b)) dot
    block stays ~100 MB regardless of input size."""
    import numpy as np

    nd = a.shape[1]
    nrm2_a = np.zeros(a.shape[0])
    nrm2_b = np.zeros(b.shape[0])
    for i in range(nd):
        nrm2_a += a[:, i] * a[:, i]
        nrm2_b += b[:, i] * b[:, i]
    nrm_a, nrm_b = np.sqrt(nrm2_a), np.sqrt(nrm2_b)
    chunk = max(64, int(1.2e7) // max(b.shape[0], 1))
    for s in range(0, a.shape[0], chunk):
        blk = a[s : s + chunk]
        dot = np.zeros((blk.shape[0], b.shape[0]))
        for i in range(nd):
            dot += np.outer(blk[:, i], b[:, i])
        yield s, dot / np.outer(nrm_a[s : s + chunk], nrm_b)


def _pairwise_cosine_kernel(threshold: float):
    """applyInPandas kernel: all (id_a < id_b) pairs within one group
    with exact-fold cosine ≥ threshold (see :func:`_cosine_chunks`)."""
    import numpy as np
    import pandas as pd

    def score(key, pdf):
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if len(pdf) < 2:
            return empty
        ids = pdf["__id"].to_numpy()
        m = np.array([list(v) for v in pdf["__vec"]], dtype=np.float64)
        frames = []
        for s, cos in _cosine_chunks(m, m):
            ia = ids[s : s + cos.shape[0]]
            mask = (ia[:, None] < ids[None, :]) & (cos >= threshold)
            rsel, csel = np.nonzero(mask)
            if rsel.size:
                frames.append(
                    pd.DataFrame(
                        {
                            "id_a": ia[rsel],
                            "id_b": ids[csel],
                            "cosine": cos[rsel, csel],
                        }
                    )
                )
        return pd.concat(frames, ignore_index=True) if frames else empty

    return score


def embedding_neardup_pairs_ivf_det(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    n_lists: int = 16,
) -> DataFrame:
    """APPROXIMATE near-dup pairs via deterministic IVF coarse
    quantization.

    The stand-in for :func:`embedding_neardup_pairs` when even the
    blocked exact all-pairs (n²/B shuffle) is too expensive: vectors are
    assigned to the nearest of ``n_lists`` centroids and pairs are scored
    only WITHIN a list — total work drops to ~n²/n_lists with one
    shuffle on the list id. Pairs whose members quantize to different
    lists are missed, so recall < 1 by design (bounded in
    tests/test_operators.py); at genuine near-dup thresholds (≥0.9)
    near-identical vectors co-quantize and recall is high.

    List assignment is exact int64 squared-L2 against an md5-picked
    fixed-point codebook (``operators/similarity.ivf_assign_expr``), so
    which pairs co-quantize — and therefore the whole approximate
    result — is bit-reproducible on any engine and the query is fully
    hash-checkable against a SQL oracle. Pair scoring is the same
    exact-fold cosine as every other embedding path (bit-identical to
    the exact methods). The codebook collect is n_lists rows and
    assignment is row-local codegen.
    """
    from spark_extensions_spark.operators.similarity import (
        ivf_assign_expr,
        ivf_centroids_det,
        quantize_vec_expr,
    )

    id_type = df.schema[id_col].dataType.simpleString()
    cents = ivf_centroids_det(df, id_col, vec_col, n_lists)
    assigned = (
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
        .withColumn("__qq", F.expr(quantize_vec_expr("__vec")))
        .withColumn("__list", F.expr(ivf_assign_expr("__qq", cents)))
        .drop("__qq")
    )
    schema = f"id_a {id_type}, id_b {id_type}, cosine double"
    return assigned.groupBy("__list").applyInPandas(
        _pairwise_cosine_kernel(threshold), schema
    )


def fuzzy_blocked_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    prefix_len: int | None = None,
    block_words: int | None = None,
) -> DataFrame:
    """Entity-resolution pair matching: edit-distance join with blocking.

    Classic record-linkage shape: candidates are generated by a cheap
    BLOCKING key, then verified with the exact Levenshtein distance; a
    length-band pre-filter (|len(a)-len(b)| <= max_dist, a lower bound
    on edit distance) prunes candidates before the quadratic distance
    computation. One shuffle keyed by block; per-block cost is
    |block|², so the key choice is the whole game — pairs in different
    blocks are not compared (declared semantics, not silent loss).

    Two key families: ``prefix_len`` (lowercased char prefix — right
    when typos cluster at the tail) or ``block_words`` (first N words —
    right for multi-word names drawn from a small vocabulary, where a
    short char prefix would put thousands of rows in one block and the
    quadratic verify blows up). Exactly one must be set.

    Output: (id_a, id_b, dist) with id_a < id_b, dist <= max_dist.
    Everything is built-in expressions (levenshtein is JVM-side), so the
    whole operator is codegen'd and exactly mirrored by the DuckDB
    oracle's levenshtein.
    """
    if (prefix_len is None) == (block_words is None):
        raise ValueError("set exactly one of prefix_len / block_words")
    nm = F.lower(F.col(text_col))
    if prefix_len is not None:
        blk = F.substring(nm, 1, prefix_len)
    else:
        blk = F.array_join(F.slice(F.split(nm, " "), 1, block_words), " ")
    base = df.select(
        F.col(id_col).alias("__id"),
        nm.alias("__nm"),
        blk.alias("__blk"),
    )
    a = base.select(
        F.col("__id").alias("id_a"), F.col("__nm").alias("__nm_a"), "__blk"
    )
    b = base.select(
        F.col("__id").alias("id_b"), F.col("__nm").alias("__nm_b"), "__blk"
    )
    return (
        a.join(b, "__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.abs(F.length("__nm_a") - F.length("__nm_b")) <= max_dist
        )
        .select(
            "id_a",
            "id_b",
            # threshold form = banded O(n·k) with early exit (returns -1
            # past the bound) instead of the full O(n·m) DP — the exact
            # distance is still returned for every surviving pair, so
            # the DuckDB oracle (full levenshtein + filter) matches
            F.levenshtein("__nm_a", "__nm_b", max_dist)
            .cast("int")
            .alias("dist"),
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def ngram_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    corpus_id: str,
    corpus_text: str,
    bench_id: str,
    bench_text: str,
    n: int = 3,
    min_overlap: int = 2,
) -> DataFrame:
    """Benchmark-contamination check: corpus docs sharing ``min_overlap``
    or more distinct word n-gram shingles with ANY benchmark document.

    Scale shape: the benchmark side collapses to its distinct 60-bit
    shingle-hash set (tiny — benchmarks are MBs, corpora are TBs) and is
    broadcast; the corpus side is filtered by a broadcast hash join at
    the scan and then aggregated once on the doc id. The big side is
    never shuffled on shingles and never self-joined — O(|corpus|)
    rows moved, all with 8-byte keys.

    Hashing is the same md5-60-bit scheme as :func:`ngram_jaccard_pairs`
    (dedupe after hashing), so an engine-independent oracle can mirror
    it exactly. Output: ``(corpus_id, overlap_cnt)``.
    """
    def shingle_hashes(df: DataFrame, id_c: str, text_c: str) -> DataFrame:
        words = df.select(
            F.col(id_c),
            F.expr(
                f"regexp_extract_all(lower({text_c}), '[a-z0-9]+', 0)"
            ).alias("__words"),
        )
        hashes = F.array_distinct(
            F.transform(
                shingles_from_words("__words", n),
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                    "bigint"
                ),
            )
        )
        return words.select(F.col(id_c), F.explode(hashes).alias("__sh"))

    bench_set = (
        shingle_hashes(bench, bench_id, bench_text).select("__sh").distinct()
    )
    # per-doc shingles are distinct before the explode, so count(*) after
    # the join IS the distinct-overlap count
    return (
        shingle_hashes(corpus, corpus_id, corpus_text)
        .join(F.broadcast(bench_set), "__sh")
        .groupBy(corpus_id)
        .agg(F.count("*").alias("overlap_cnt"))
        .filter(F.col("overlap_cnt") >= min_overlap)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Prefix-filtered exact n-gram Jaccard pairs (AllPairs/PPJoin-style).

    Same output contract as :func:`ngram_jaccard_pairs`, different join
    strategy for scale: instead of self-joining EVERY (doc, shingle)
    posting, each document only indexes its *prefix* — its
    ``|A| - ceil(t*|A|) + 1`` globally-rarest shingles (global order =
    (doc-frequency, hash)). The prefix lemma (Bayardo et al., WWW'07
    "Scaling Up All Pairs Similarity Search"; Xiao et al., WWW'08
    PPJoin): if J(A,B) >= t, the globally-smallest common shingle lies
    within both prefixes, so the prefix-prefix join loses no qualifying
    pair. Survivor candidates are then verified exactly against the full
    sorted shingle sets (row-local array_intersect).

    Why this wins at 100 TB: the inverted-index join's cost is
    sum_sh df(sh)^2 — dominated by frequent shingles. Prefix filtering
    drops exactly those (frequent shingles rank last and fall outside
    prefixes), cutting candidate generation to the rare-shingle tail,
    at the price of two extra small shuffles (doc-frequency count,
    per-doc rank) and a verify join. At fixture scale the plain
    operator is faster (see PLANS.md); both are exact and
    equivalence-tested against each other and the DuckDB oracle.
    """
    from pyspark.sql.window import Window

    from spark_extensions_spark.session import ensure_parallelism

    df = ensure_parallelism(df)  # shingle hashing on all cores
    words = df.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)").alias(
            "__words"
        ),
    )
    sh_hashes = F.array_distinct(
        F.transform(
            shingles_from_words("__words", n),
            lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
        )
    )
    # One materialization of the exploded (id, shingle-hash) postings:
    # freq, the rank join, the full-set agg AND both sides of the
    # prefix self-join consume this subtree — lazily recomputed it
    # executes the regexp+md5 shingle scan five times per run
    # (profiled as five near-identical 32-task jobs at sf0.1). The
    # rows are two bigints, the narrow-aggregate shape localCheckpoint
    # wins at (OPTIMIZATION_r10.md "Rejected experiments").
    shingled = words.select(
        F.col(id_col), F.explode(sh_hashes).alias("sh")
    ).localCheckpoint(eager=False)
    freq = shingled.groupBy("sh").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy(id_col).orderBy("df", "sh")
    w_doc = Window.partitionBy(id_col)
    ranked = (
        shingled.join(freq, "sh")
        .select(
            F.col(id_col),
            "sh",
            F.row_number().over(w_rank).alias("rk"),
            F.count("*").over(w_doc).alias("n_sh"),
        )
    )
    prefix = ranked.filter(
        F.col("rk")
        <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select(id_col, "sh")
    a = prefix.alias("a")
    b = prefix.alias("b")
    # the candidate pair set is tiny in BYTES, so AQE coalesces its
    # dedupe exchange to a couple of partitions — and with `sets`
    # under the broadcast threshold the whole array_intersect verify
    # then runs in that coalesced stage (measured 2.6 s on 3 tasks at
    # sf0.1). Pin the exchange the distinct needs anyway with a
    # numbered keyed repartition (REPARTITION_BY_NUM, exempt from AQE
    # coalescing; the same-key distinct reuses it — no extra shuffle).
    from spark_extensions_spark.session import expansion_width

    cands = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .repartition(expansion_width(df.sparkSession), "id_a", "id_b")
        .distinct()
    )
    sets = shingled.groupBy(id_col).agg(
        F.sort_array(F.collect_list("sh")).alias("shs")
    )
    verified = (
        cands.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("shs").alias("sh_a")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("shs").alias("sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint").alias(
                "inter_cnt"
            ),
            F.size("sh_a").alias("__na"),
            F.size("sh_b").alias("__nb"),
        )
    )
    return (
        verified.select(
            "id_a",
            "id_b",
            "inter_cnt",
            (
                F.col("inter_cnt")
                / (F.col("__na") + F.col("__nb") - F.col("inter_cnt"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    stride: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated character spans (substring-level dedup).

    Document-level near-dup (MinHash/SimHash) misses *partial* overlap:
    boilerplate headers, license blocks, quoted passages duplicated
    across otherwise-distinct documents. The substring-dedup recipe
    (Lee et al. 2021, "Deduplicating Training Data Makes Language
    Models Better") finds repeated spans; the exact suffix-array
    construction doesn't distribute, so the scalable variant hashes
    overlapping fixed-width windows (``window`` chars every ``stride``)
    and groups by window hash — a duplicated region ≥ window+stride
    chars long is guaranteed to produce at least one colliding window
    in every copy.

    Plan: row-local window expansion (sequence → transform → explode —
    zero shuffle, no Python), one hash aggregate keyed by the md5 of
    the span text. Positions are folded into ``min(doc_id * 1_000_000 +
    pos)`` so the earliest occurrence comes out of the same aggregate —
    integer math, engine-portable. At 100 TB the span table is the
    corpus × (1/stride) — tune ``stride`` up for the first pass, then
    re-scan candidates exactly.

    Output: ``(span_hash, n_docs, n_occurrences, first_doc, first_pos,
    span)`` for spans seen in ≥ ``min_docs`` distinct documents.
    """
    assert window > 0 and stride > 0
    pos = F.expr(
        f"case when length({text_col}) >= {window} then "
        f"sequence(1, length({text_col}) - {window} + 1, {stride}) "
        f"else array() end"
    )
    spans = df.select(
        F.col(id_col).alias("__id"),
        F.explode(pos).alias("pos"),
        F.col(text_col).alias("__text"),
    ).select(
        "__id",
        "pos",
        F.expr(f"substring(__text, pos, {window})").alias("span"),
    )
    return (
        spans.groupBy(F.md5(F.col("span")).alias("span_hash"))
        .agg(
            F.countDistinct("__id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min(F.col("__id") * 1_000_000 + F.col("pos")).alias("__k"),
            F.min("span").alias("span"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            "span_hash",
            "n_docs",
            "n_occurrences",
            F.expr("__k div 1000000").alias("first_doc"),
            (F.col("__k") % 1_000_000).cast("bigint").alias("first_pos"),
            "span",
        )
    )


def duplicate_spans_oracle_sql(
    window: int = 40,
    stride: int = 20,
    min_docs: int = 2,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of :func:`duplicate_spans` (same integer folding)."""
    return f"""
    WITH spans AS (
      SELECT {id_col} AS id, CAST(p AS BIGINT) AS pos,
             SUBSTRING({text_col}, CAST(p AS INT), {window}) AS span
      FROM {table}
      CROSS JOIN UNNEST(
        CASE WHEN LENGTH({text_col}) >= {window}
             THEN range(1, LENGTH({text_col}) - {window} + 2, {stride})
             ELSE [] END) AS t(p)
    )
    SELECT md5(span) AS span_hash,
           COUNT(DISTINCT id) AS n_docs,
           COUNT(*) AS n_occurrences,
           MIN(id * 1000000 + pos) // 1000000 AS first_doc,
           CAST(MIN(id * 1000000 + pos) % 1000000 AS BIGINT) AS first_pos,
           MIN(span) AS span
    FROM spans
    GROUP BY md5(span)
    HAVING COUNT(DISTINCT id) >= {min_docs}
    """


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995): order
    the corpus by a blocking key and emit every candidate pair within
    ``window`` positions — the classic record-linkage alternative to
    prefix blocking when typos cluster under a sort key (names,
    addresses).

    Scale shape: a two-phase global sort index
    (``sampling.global_sort_index`` — no single-partition window),
    then pairing via the banded equi-join on the index
    (``joins.band_join``: 3× bucket explode, O(n·window) pairs, no
    self-cross). Output: ``(id_a, id_b, key_a, key_b, pos_gap)`` with
    ``id_a`` the earlier row in sort order.
    """
    from spark_extensions_spark.operators.joins import band_join
    from spark_extensions_spark.operators.sampling import global_sort_index

    idx = global_sort_index(
        df.select(id_col, key_col), [key_col, id_col], "__pos"
    )
    a = idx.select(
        F.col(id_col).alias("id_a"),
        F.col(key_col).alias("key_a"),
        F.col("__pos").alias("__pa"),
    )
    b = idx.select(
        F.col(id_col).alias("id_b"),
        F.col(key_col).alias("key_b"),
        F.col("__pos").alias("__pb"),
    )
    paired = band_join(
        a,
        b,
        "__pa",
        "__pb",
        float(window),
        extra_cond=(F.col("__pb") > F.col("__pa")),
    )
    return paired.select(
        "id_a",
        "id_b",
        "key_a",
        "key_b",
        (F.col("__pb") - F.col("__pa")).cast("int").alias("pos_gap"),
    )


def minhash_signature_array(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    shingle_words: int = 3,
) -> DataFrame:
    """``(id, sig array<bigint>)`` — the integer MinHash signature via
    the same exploded universal-hash min aggregation as
    :func:`minhash_band_table` (one md5 per shingle, per-seed
    ``(base·A_i+B_i) mod 2^31-1`` mixes, map-side partial mins).
    Shingle-less docs drop out."""
    words = df.select(
        F.col(id_col),
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)").alias(
            "__words"
        ),
    )
    exploded = words.select(
        F.col(id_col),
        F.explode(shingles_from_words("__words", shingle_words)).alias("__s"),
    ).select(
        F.col(id_col),
        F.expr("cast(conv(substr(md5(__s), 1, 7), 16, 10) as bigint)").alias(
            "__base"
        ),
    )
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min(
                F.expr(f"pmod(__base * {a} + {b}, {MINHASH_PRIME})")
            ).alias(f"__h{i}")
            for i, (a, b) in enumerate(minhash_seed_constants(num_hashes))
        ]
    )
    return mins.select(
        F.col(id_col),
        F.array(*[F.col(f"__h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def minhash_jaccard_estimates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    shingle_words: int = 3,
) -> DataFrame:
    """LSH candidate pairs WITH their signature-agreement Jaccard
    estimate — the standard middle stage of the MinHash pipeline
    (Broder 1997): ``est = |{i : sig_a[i] = sig_b[i]}| / num_hashes``
    is an unbiased Jaccard estimator, so candidates can be
    threshold-filtered WITHOUT re-touching the documents (at 100 TB
    the exact shingle re-comparison only runs on survivors).

    Deterministic integers end-to-end → the estimates (not just the
    pair set) hash-match the SQL oracle. One extra broadcast-friendly
    join per side against the signature table.

    Output: ``(id_a, id_b, est_jaccard)``.
    """
    sigs = minhash_signature_array(
        df, id_col, text_col, num_hashes, shingle_words
    )
    cands = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, bands, shingle_words
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("__sa")
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("__sb")
    )
    # fixed-point floor, not round(x, 6): portable across engines
    est = F.expr(
        f"floor((size(filter(zip_with(__sa, __sb, (x, y) -> x = y), "
        f"b -> b)) / cast({num_hashes} as double)) * 1e6 + 5e-1) / 1e6"
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard"))
    )


def cross_doc_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """CROSS-document duplicated-span audit (the corpus-level sibling
    of :func:`duplicate_spans`, which is within-document): a word
    ``n``-gram counts as duplicated when it appears in at least
    ``min_docs`` DISTINCT documents — boilerplate, licence headers,
    templated paragraphs and syndicated passages that exact and
    near-dup document matching both miss (Lee et al. 2021 dedups at
    this span granularity for exactly that reason).

    Shape: per-doc distinct grams (row-local n-gram build + one
    explode-distinct), a gram-frequency aggregate, and a join back —
    two hash shuffles on the gram key, all map-side combinable.  At
    100 TB the gram STRING key is the portable spec; the production
    path shuffles ``xxhash64(gram)`` instead (8-byte keys, same
    counts up to negligible collision odds) and caps the frequency
    table with a min-docs pre-filter, which this already applies.

    Output: ``(id, n_spans, n_dup_spans, dup_span_ratio)`` — one row
    per input document (docs shorter than ``n`` words report 0/0/0).
    """
    from spark_extensions_spark.functions.text import word_ngrams_sql

    grams = (
        df.select(
            F.col(id_col),
            F.explode(F.expr(word_ngrams_sql(text_col, n))).alias("gram"),
        )
        .distinct()
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("gram")
    )
    per_doc = (
        grams.join(dup, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup"))
    )
    totals = grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    return (
        df.select(id_col)
        .join(totals, id_col, "left")
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_spans"), F.lit(0))
            .cast("bigint")
            .alias("n_spans"),
            F.coalesce(F.col("n_dup"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_spans"),
            F.when(F.coalesce(F.col("n_spans"), F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.floor(
                    (
                        F.coalesce(F.col("n_dup"), F.lit(0)).cast("double")
                        / F.col("n_spans")
                    )
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            )
            .alias("dup_span_ratio"),
        )
    )


def cross_doc_spans_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> str:
    """DuckDB twin of :func:`cross_doc_duplicate_spans`."""
    from spark_extensions_spark.functions.text import word_ngrams_duck

    return f"""
    WITH grams AS (
      SELECT DISTINCT {id_col}, unnest({word_ngrams_duck(text_col, n)})
               AS gram
      FROM {table}
    ), dup AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING COUNT(*) >= {min_docs}
    ), per_doc AS (
      SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_dup
      FROM grams WHERE gram IN (SELECT gram FROM dup)
      GROUP BY {id_col}
    ), totals AS (
      SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_spans
      FROM grams GROUP BY {id_col}
    )
    SELECT d.{id_col},
           COALESCE(t.n_spans, 0) AS n_spans,
           COALESCE(p.n_dup, 0) AS n_dup_spans,
           CASE WHEN COALESCE(t.n_spans, 0) = 0 THEN CAST(0 AS DOUBLE)
                ELSE floor((CAST(COALESCE(p.n_dup, 0) AS DOUBLE)
                            / t.n_spans) * 1e6 + 5e-1) / 1e6
           END AS dup_span_ratio
    FROM {table} d
    LEFT JOIN totals t ON t.{id_col} = d.{id_col}
    LEFT JOIN per_doc p ON p.{id_col} = d.{id_col}
    """


# =====================================================================
# Winnowing — rolling-hash fingerprint selection (Schleimer, Wilkerson
# & Aiken 2003, "Winnowing: Local Algorithms for Document
# Fingerprinting" — the MOSS scheme)
# =====================================================================

def _gram_hash_sql(gram_sql: str) -> str:
    """int64 gram hash from the md5 lower 15 hex chars — the house
    md5-derived-integer pattern (operators/sampling.py:hash_bucket),
    identical in both engines."""
    return (
        f"cast(conv(substring(md5({gram_sql}), 1, 15), 16, 10) as bigint)"
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint selection over word ``k``-grams.

    Every window of ``w`` consecutive gram hashes contributes its
    MINIMUM; the distinct selected values per document are the
    fingerprint set. The winnowing guarantee: any two documents sharing
    a run of at least ``w + k - 1`` words share at least one
    fingerprint — with expected density ``2/(w+1)`` of the grams, so
    the downstream index is a fraction of full-shingle MinHash input
    while keeping a DETERMINISTIC (not probabilistic) match guarantee.

    Scale shape: tokenize-once + row-local gram expansion, posexplode,
    then a PER-DOCUMENT partitioned window min (bounded frames, w
    rows) and a hash-distinct — one shuffle on the doc key, one on the
    distinct. No single-partition stage anywhere.

    Output: ``(id_col, fp)`` distinct rows, fp BIGINT.
    """
    words = df.select(
        F.col(id_col),
        F.expr(
            f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
        ).alias("__ws"),
    )
    grams = words.select(
        id_col, F.posexplode(shingles_from_words("__ws", k))
    ).select(
        id_col,
        F.col("pos"),
        F.expr(_gram_hash_sql("col")).alias("__h"),
        F.count(F.lit(1))
        .over(Window.partitionBy(id_col))
        .alias("__n"),
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(0, w - 1)
    )
    selected = grams.select(
        id_col,
        "pos",
        "__n",
        F.min("__h").over(win).alias("fp"),
    ).filter(F.col("pos") <= F.col("__n") - w)
    return selected.select(id_col, "fp").distinct()


def winnow_fingerprints_oracle_sql(
    source_sql: str,
    id_col: str,
    text_col: str,
    k: int = 5,
    w: int = 4,
) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` — same gram hashes
    (md5 15-hex → BIGINT), same window-min selection."""
    ws = f"regexp_extract_all(lower({text_col}), '[a-z0-9]+')"
    grams = (
        f"CASE WHEN len({ws}) < {k} THEN [] "
        f"ELSE list_transform(generate_series(0, len({ws}) - {k}), "
        f"i -> array_to_string({ws}[i+1:i+{k}], ' ')) END"
    )
    return f"""
    WITH wn_grams AS (
      SELECT {id_col},
             UNNEST(generate_series(0, len(g) - 1)) AS pos,
             UNNEST(list_transform(g,
               x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS h,
             len(g) AS n
      FROM (SELECT {id_col}, {grams} AS g FROM ({source_sql}) s0)
      WHERE len(g) > 0
    ),
    wn_sel AS (
      -- window FIRST, filter OUTSIDE: a WHERE here would remove the
      -- trailing rows before the window min sees them (SQL evaluates
      -- WHERE before window functions), truncating the last windows
      SELECT {id_col}, fp FROM (
        SELECT {id_col}, pos, n,
               MIN(h) OVER (PARTITION BY {id_col} ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
        FROM wn_grams
      ) wn_win
      WHERE pos <= n - {w}
    )
    SELECT DISTINCT {id_col}, fp FROM wn_sel
    """


def winnow_candidates(
    fps: DataFrame,
    id_col: str,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate near-duplicate pairs from shared winnowing
    fingerprints: group by fingerprint, expand each posting list with
    the grouped row-local pair emission (w·(w-1)/2, no w² self-join),
    count shared fingerprints per pair, keep pairs sharing at least
    ``min_shared``. Output: ``(id_a, id_b, n_shared)``, id_a < id_b."""
    from spark_extensions_spark.operators.graph import grouped_pair_edges

    pairs = grouped_pair_edges(fps, "fp", id_col, src="id_a", dst="id_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------
# Asymmetric n-gram containment (quote / subset detection)
# ---------------------------------------------------------------------


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int = 20,
    min_shared: int = 5,
    min_cont_e6: int = 500_000,
) -> DataFrame:
    """Asymmetric near-duplicate detection by n-gram CONTAINMENT —
    ``|A∩B| / min(|A|,|B|)`` over distinct word n-gram shingle sets
    (Broder 1997's containment coefficient). Jaccard misses the
    quote/boilerplate case where a short document sits INSIDE a long
    one (the union dilutes the score); containment is the right
    metric for "doc B embeds doc A", the common contamination shape
    in web corpora.

    Scale shape (candidate–verify, the PPJoin pattern): shingle sets
    are row-local arrays (array_sort ∘ array_distinct — zero shuffle);
    candidates come ONLY from shingles with document frequency
    ≤ ``max_df`` (one hash agg + the grouped w·(w-1)/2 pair
    expansion, so frequent boilerplate shingles — exactly the ones
    that would explode the posting-list join — never generate pairs);
    each candidate pair verifies EXACTLY with one row-local
    ``array_intersect`` of the two full sets. ``max_df`` is the
    recall/cost knob: a pair sharing only ubiquitous shingles is
    invisible, by design — at corpus scale those pairs are the
    quadratic blow-up.

    Output: ``(id_a, id_b, shared, n_a, n_b, containment_e6)`` with
    ``shared >= min_shared`` and containment ≥ ``min_cont_e6``.
    """
    from spark_extensions_spark.operators.graph import grouped_pair_edges
    from spark_extensions_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    words = df.select(
        F.col(id_col),
        F.expr(
            f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
        ).alias("__words"),
    )
    sets = words.select(
        id_col,
        F.array_sort(
            F.array_distinct(
                F.transform(
                    shingles_from_words("__words", n),
                    lambda s: F.conv(
                        F.substring(F.md5(s), 1, 15), 16, 10
                    ).cast("bigint"),
                )
            )
        ).alias("__sh"),
    ).localCheckpoint(eager=False)
    from spark_extensions_spark.session import expansion_width

    post = sets.select(id_col, F.explode("__sh").alias("__h"))
    rare = (
        post.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter((F.col("__df") <= max_df) & (F.col("__df") >= 2))
        .select("__h")
    )
    # verify-stage width: the candidate dedupe exchange is tiny in
    # BYTES so AQE coalesces its read (measured 2 tasks at sf0.1),
    # and with the checkpointed `sets` broadcasting below threshold
    # the whole dedupe + array_intersect verify then runs in that
    # coalesced stage. ensure_parallelism cannot see this (the PLANNED
    # width is already the shuffle width; only AQE's runtime coalesce
    # shrinks it), so pin the exchange the dedupe needs anyway with an
    # explicit numbered keyed repartition — REPARTITION_BY_NUM is
    # exempt from AQE coalescing and the same-key distinct reuses it
    # (no extra shuffle at any scale).
    cand = (
        grouped_pair_edges(
            post.join(rare, "__h"), "__h", id_col, src="id_a", dst="id_b"
        )
        .repartition(expansion_width(df.sparkSession), "id_a", "id_b")
        .distinct()
    )
    verified = (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa")
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__sa", "__sb"))
            .cast("bigint")
            .alias("shared"),
            F.size("__sa").cast("bigint").alias("n_a"),
            F.size("__sb").cast("bigint").alias("n_b"),
        )
    )
    return verified.filter(F.col("shared") >= min_shared).select(
        "id_a",
        "id_b",
        "shared",
        "n_a",
        "n_b",
        F.expr(
            "cast(floor(shared / cast(least(n_a, n_b) as double)"
            " * 1e6 + 0.5d) as bigint)"
        ).alias("containment_e6"),
    ).filter(F.col("containment_e6") >= min_cont_e6)


def ngram_containment_oracle_sql(
    source_sql: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df: int = 20,
    min_shared: int = 5,
    min_cont_e6: int = 500_000,
) -> str:
    """DuckDB twin of :func:`ngram_containment_pairs` — same md5
    shingle hashes, same rare-shingle candidate rule, same row-local
    intersect verify."""
    ws = f"regexp_extract_all(lower({text_col}), '[a-z0-9]+')"
    grams = (
        f"CASE WHEN len({ws}) < {n} THEN [] "
        f"ELSE list_transform(generate_series(0, len({ws}) - {n}), "
        f"i -> array_to_string({ws}[i+1:i+{n}], ' ')) END"
    )
    return f"""
    WITH ct_sets AS (
      SELECT {id_col},
             list_sort(list_distinct(list_transform({grams},
               s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))) AS sh
      FROM ({source_sql}) ct_src
    ),
    ct_post AS (SELECT {id_col}, unnest(sh) AS h FROM ct_sets),
    ct_rare AS (
      SELECT h FROM ct_post GROUP BY h
      HAVING COUNT(*) <= {max_df} AND COUNT(*) >= 2
    ),
    ct_cand AS (
      SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
      FROM ct_post a
      JOIN ct_rare r ON r.h = a.h
      JOIN ct_post b ON b.h = a.h AND a.{id_col} < b.{id_col}
    ),
    ct_ver AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(sa.sh, sb.sh)) AS BIGINT) AS shared,
             CAST(len(sa.sh) AS BIGINT) AS n_a,
             CAST(len(sb.sh) AS BIGINT) AS n_b
      FROM ct_cand c
      JOIN ct_sets sa ON sa.{id_col} = c.id_a
      JOIN ct_sets sb ON sb.{id_col} = c.id_b
    )
    SELECT id_a, id_b, shared, n_a, n_b,
           CAST(FLOOR(shared / CAST(LEAST(n_a, n_b) AS DOUBLE)
                * 1e6 + 0.5) AS BIGINT) AS containment_e6
    FROM ct_ver
    WHERE shared >= {min_shared}
      AND FLOOR(shared / CAST(LEAST(n_a, n_b) AS DOUBLE) * 1e6 + 0.5)
          >= {min_cont_e6}
    """
