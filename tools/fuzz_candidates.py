"""Candidate-generator differential fuzzer (VERDICT r8 #7).

``fuzz_operators.py`` covers the scalar-statistic operators against
DuckDB twins; the RECALL-CRITICAL candidate generation of the dedup /
similarity family (MinHash-LSH banding, winnowing window selection,
containment max_df posting lists, IVF probe lists) was verified only
at fixture points. This tool fuzzes random corpora × random
parameters against independent PURE-PYTHON brute-force twins and
asserts both exact-set equivalence and the documented guarantees:

- **minhash_lsh**: the emitted candidate set EQUALS the brute-force
  band construction (signature → band keys → pairs sharing a band);
  and the LSH band-math guarantee — a pair with identical non-empty
  shingle sets (Jaccard 1) is ALWAYS a candidate.
- **winnowing**: the per-document fingerprint set EQUALS the
  brute-force window-min selection; and the winnowing shared-run
  guarantee — two documents sharing a run of ≥ w + k - 1 words share
  at least one fingerprint (Schleimer et al. 2003, thm 1); plus
  winnow_candidates equals the |fps_a ∩ fps_b| ≥ min_shared twin.
- **containment**: the verified pair set EQUALS the brute-force
  twin that applies the SAME documented max_df recall bound (a pair
  is visible iff it shares ≥1 shingle with 2 ≤ df ≤ max_df, then
  verifies on FULL sets) — so the bound itself is part of the
  checked contract, not an excuse.
- **ivf probes**: the deterministic IVF top-k EQUALS the pure-Python
  integer replica of the probe pipeline (md5-picked fixed-point
  codebook → first-minimum squared-L2 assignment → n_probe lists in
  (distance, list id) order → cosine top-k); and the recall limit —
  with n_probe = n_lists the result equals the exact brute-force
  cosine top-k.

Wave 2 (same round): incremental-LSH (new-batch x persisted-index
band join, both index input shapes), SimHash (bit-majority twin incl.
the empty-text edge), exact n-gram Jaccard (inverted-index pair set +
float score), sorted-neighborhood (global sort index + banded pairing
vs the positional twin).

Every case is seed-pinned; reproduce one standalone:
``python tools/fuzz_candidates.py --family minhash --case 7``
"""

from __future__ import annotations

import hashlib
import math
import random
import re
import sys
from dataclasses import dataclass
from typing import Callable

MINHASH_PRIME = 2_147_483_647


# ---- pure-python twins (no pyspark imports here) ---------------------

def _tok(text: str) -> list[str]:
    return re.findall(r"[a-z0-9]+", text.lower())


def _shingles(words: list[str], n: int) -> list[str]:
    if len(words) < n:
        return []
    return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]


def _md5hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _gram_hash(g: str) -> int:
    return int(_md5hex(g)[:15], 16)


def _seed_constants(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (
            (1103515245 + 12820163 * i) % MINHASH_PRIME,
            (12345 + 1013904223 * i) % MINHASH_PRIME,
        )
        for i in range(num_hashes)
    ]


def twin_band_rows(
    docs: list[tuple[int, str]], num_hashes: int, bands: int, shingle_words: int
) -> set[tuple[int, int, str]]:
    """(id, band_idx, band_key) — brute-force minhash_band_table."""
    r = num_hashes // bands
    consts = _seed_constants(num_hashes)
    out = set()
    for doc_id, text in docs:
        sh = _shingles(_tok(text), shingle_words)
        if not sh:
            continue  # docs with no shingles drop out pre-banding
        bases = [int(_md5hex(s)[:7], 16) for s in sh]
        sig = [
            min((b * a + c) % MINHASH_PRIME for b in bases)
            for a, c in consts
        ]
        for bi in range(bands):
            key = _md5hex("|".join(str(v) for v in sig[bi * r : (bi + 1) * r]))
            out.add((doc_id, bi, key))
    return out


def twin_lsh_pairs(
    docs, num_hashes: int, bands: int, shingle_words: int
) -> set[tuple[int, int]]:
    rows = twin_band_rows(docs, num_hashes, bands, shingle_words)
    by_band: dict[tuple[int, str], list[int]] = {}
    for doc_id, bi, key in rows:
        by_band.setdefault((bi, key), []).append(doc_id)
    pairs = set()
    for ids in by_band.values():
        ids = sorted(set(ids))
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def twin_winnow_fps(text: str, k: int, w: int) -> set[int]:
    grams = _shingles(_tok(text), k)
    hs = [_gram_hash(g) for g in grams]
    n = len(hs)
    return {min(hs[p : p + w]) for p in range(0, n - w + 1)} if n >= w else set()


def twin_winnow_pairs(
    docs, k: int, w: int, min_shared: int
) -> set[tuple[int, int, int]]:
    fps = {d: twin_winnow_fps(t, k, w) for d, t in docs}
    out = set()
    ids = sorted(fps)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            ns = len(fps[a] & fps[b])
            if ns >= min_shared:
                out.add((a, b, ns))
    return out


def twin_containment_pairs(
    docs, n: int, max_df: int, min_shared: int, min_cont_e6: int
) -> set[tuple[int, int, int, int, int, int]]:
    sets = {
        d: {_gram_hash(g) for g in _shingles(_tok(t), n)} for d, t in docs
    }
    df_count: dict[int, int] = {}
    for s in sets.values():
        for h in s:
            df_count[h] = df_count.get(h, 0) + 1
    rare = {h for h, c in df_count.items() if 2 <= c <= max_df}
    out = set()
    ids = sorted(sets)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            sa, sb = sets[a], sets[b]
            if not (sa & sb & rare):
                continue  # the documented max_df visibility bound
            shared = len(sa & sb)
            if shared < min_shared:
                continue
            cont = math.floor(shared / min(len(sa), len(sb)) * 1e6 + 0.5)
            if cont >= min_cont_e6:
                out.add((a, b, shared, len(sa), len(sb), cont))
    return out


def twin_ivf_topk(corpus, queries, k, n_lists, n_probe):
    """Brute-force replica of ann_ivf_topk_det's probe pipeline, in
    pure-Python integer math.

    Codebook: the ``n_lists`` corpus rows with the smallest
    ``(md5(str(id)), id)``, quantized by ``floor(v * 1e6 + 0.5)``.
    Each corpus vector joins the list at its first minimum exact
    squared-L2 distance; each query probes its ``n_probe`` lists in
    ``(distance, list id)`` order. Candidates are scored with the
    per-dimension left-to-right cosine fold, so scores are
    bit-identical to the operator's."""

    def quant(v):
        return [math.floor(float(x) * 1e6 + 0.5) for x in v]

    cent_rows = sorted(corpus, key=lambda r: (_md5hex(str(r[0])), r[0]))
    cents = [quant(v) for _, v in cent_rows[:n_lists]]

    def dists(v):
        qv = quant(v)
        return [sum((a - c) * (a - c) for a, c in zip(qv, cq)) for cq in cents]

    by_list: dict[int, list[tuple[int, list]]] = {}
    for cid, cv in corpus:
        d = dists(cv)
        by_list.setdefault(d.index(min(d)), []).append((cid, cv))

    def cosine(a, b):
        dot = na = nb = 0.0
        for ai, bi in zip(a, b):
            ai = float(ai)
            bi = float(bi)
            dot += ai * bi
            na += ai * ai
            nb += bi * bi
        return dot / (math.sqrt(na) * math.sqrt(nb))

    out = []
    for qid, qv in queries:
        d = dists(qv)
        lists = sorted(range(len(cents)), key=lambda i: (d[i], i))[:n_probe]
        cands = []
        for li in lists:
            cands.extend(by_list.get(li, []))
        scored = sorted(
            ((cosine(qv, cv), cid) for cid, cv in cands),
            key=lambda t: (-t[0], t[1]),
        )
        for rank, (cos, cid) in enumerate(scored[:k], start=1):
            out.append((qid, cid, rank, cos))
    return out


def twin_brute_topk(corpus, queries, k):
    return twin_ivf_topk(corpus, queries, k, n_lists=len(corpus),
                         n_probe=len(corpus))


# ---- corpus generators ------------------------------------------------

_VOCAB = [f"w{i}" for i in range(18)]


def _rand_doc(rng: random.Random, lo=0, hi=22) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(lo, hi)))


def gen_corpus(rng: random.Random, run_len: int | None = None):
    """6-14 docs with planted exact dups, near-dups, an embedded quote,
    and (when run_len is given) a pair sharing a word run that long."""
    n = rng.randint(6, 14)
    docs = [(i, _rand_doc(rng)) for i in range(n)]
    # exact duplicate
    a, b = rng.sample(range(n), 2)
    docs[b] = (b, docs[a][1])
    # near duplicate: one word appended
    c, d = rng.sample(range(n), 2)
    docs[d] = (d, (docs[c][1] + " " + rng.choice(_VOCAB)).strip())
    # embedded quote: a short doc inside a long one
    e = rng.randrange(n)
    quote = _rand_doc(rng, 4, 8)
    docs[e] = (e, quote)
    f = rng.choice([i for i in range(n) if i != e])
    host = docs[f][1]
    cut = rng.randint(0, max(len(host.split()), 0))
    hw = host.split()
    docs[f] = (f, " ".join(hw[:cut] + quote.split() + hw[cut:]))
    planted = {"dup": (min(a, b), max(a, b))}
    if run_len is not None:
        run = " ".join(rng.choice(_VOCAB) for _ in range(run_len))
        g, h = rng.sample(range(n), 2)
        for idx in (g, h):
            base = docs[idx][1].split()
            at = rng.randint(0, len(base))
            docs[idx] = (idx, " ".join(base[:at] + run.split() + base[at:]))
        planted["run"] = (min(g, h), max(g, h))
    return docs, planted


def gen_vectors(rng: random.Random, dim: int, n: int):
    out = []
    for i in range(n):
        v = [float(rng.randint(-3, 3)) for _ in range(dim)]
        if not any(v):
            v[rng.randrange(dim)] = 1.0
        out.append((i, v))
    return out


# ---- spark-vs-twin case runners ---------------------------------------

@dataclass
class Family:
    name: str
    n_cases: int
    run: Callable  # (spark, rng) -> list[str] problems


def run_minhash(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_candidates,
    )

    num_hashes, bands = rng.choice(
        [(4, 2), (6, 3), (8, 4), (12, 4), (12, 6)]
    )
    sw = rng.choice([1, 2, 3])
    docs, planted = gen_corpus(rng)
    df = spark.createDataFrame(docs, "id bigint, text string")

    got_bands = {
        (r["id"], r["band_idx"], r["band_key"])
        for r in minhash_band_table(
            df, "id", "text", num_hashes, bands, sw
        ).collect()
    }
    want_bands = twin_band_rows(docs, num_hashes, bands, sw)
    problems = []
    if got_bands != want_bands:
        problems.append(
            f"band table diverges: {len(got_bands ^ want_bands)} rows "
            f"(nh={num_hashes} b={bands} sw={sw})"
        )
    got_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            df, "id", "text", num_hashes, bands, sw
        ).collect()
    }
    want_pairs = twin_lsh_pairs(docs, num_hashes, bands, sw)
    if got_pairs != want_pairs:
        problems.append(f"candidate pairs diverge: {got_pairs ^ want_pairs}")
    # LSH guarantee: identical non-empty shingle sets always pair
    da, db = planted["dup"]
    texts = dict(docs)
    if _shingles(_tok(texts[da]), sw) and texts[da] == texts[db]:
        if (da, db) not in got_pairs:
            problems.append(f"jaccard-1 pair {(da, db)} missed")
    return problems


def run_winnow(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.dedup import (
        winnow_candidates,
        winnow_fingerprints,
    )

    k = rng.choice([2, 3, 4])
    w = rng.choice([2, 3, 4])
    min_shared = rng.choice([1, 2])
    docs, planted = gen_corpus(rng, run_len=w + k - 1 + rng.randint(0, 3))
    df = spark.createDataFrame(docs, "id bigint, text string")
    fdf = winnow_fingerprints(df, "id", "text", k=k, w=w)
    got_fps = {(r["id"], r["fp"]) for r in fdf.collect()}
    want_fps = {
        (d, fp) for d, t in docs for fp in twin_winnow_fps(t, k, w)
    }
    problems = []
    if got_fps != want_fps:
        problems.append(
            f"fingerprints diverge (k={k} w={w}): {got_fps ^ want_fps}"
        )
    got_pairs = {
        (r["id_a"], r["id_b"], r["n_shared"])
        for r in winnow_candidates(fdf, "id", min_shared).collect()
    }
    want_pairs = twin_winnow_pairs(docs, k, w, min_shared)
    if got_pairs != want_pairs:
        problems.append(f"pairs diverge: {got_pairs ^ want_pairs}")
    # shared-run guarantee (Schleimer thm 1)
    ga, gb = planted["run"]
    fa = {fp for d, fp in want_fps if d == ga}
    fb = {fp for d, fp in want_fps if d == gb}
    if not fa & fb:
        problems.append(f"shared-run pair {(ga, gb)} shares no fingerprint")
    if {(d, fp) for d, fp in got_fps if d == ga} != {
        (ga, fp) for fp in fa
    }:
        problems.append("spark fingerprint set differs for run doc")
    return problems


def run_containment(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    n = rng.choice([2, 3])
    max_df = rng.choice([3, 5, 20])
    min_shared = rng.choice([1, 2, 4])
    min_cont = rng.choice([0, 300_000, 500_000])
    docs, _ = gen_corpus(rng)
    df = spark.createDataFrame(docs, "id bigint, text string")
    got = {
        (
            r["id_a"], r["id_b"], r["shared"], r["n_a"], r["n_b"],
            r["containment_e6"],
        )
        for r in ngram_containment_pairs(
            df, "id", "text", n=n, max_df=max_df,
            min_shared=min_shared, min_cont_e6=min_cont,
        ).collect()
    }
    want = twin_containment_pairs(docs, n, max_df, min_shared, min_cont)
    if got != want:
        return [
            f"containment diverges (n={n} max_df={max_df} "
            f"ms={min_shared} mc={min_cont}): {got ^ want}"
        ]
    return []


def run_ivf(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.similarity import ann_ivf_topk_det

    dim = rng.choice([4, 6])
    n_corpus = rng.randint(12, 30)
    n_queries = rng.randint(2, 5)
    n_lists = rng.choice([2, 4, 8])
    full_probe = rng.random() < 0.4
    n_probe = n_lists if full_probe else rng.randint(1, n_lists)
    k = rng.choice([1, 3, 5])
    corpus = gen_vectors(rng, dim, n_corpus)
    queries = [
        (100 + i, v)
        for i, (_, v) in enumerate(gen_vectors(rng, dim, n_queries))
    ]
    cdf = spark.createDataFrame(corpus, "vid bigint, vec array<double>")
    qdf = spark.createDataFrame(queries, "qid bigint, qvec array<double>")
    got = [
        (r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in ann_ivf_topk_det(
            cdf, qdf, "vid", "vec", "qid", "qvec",
            k=k, dim=dim, n_lists=n_lists, n_probe=n_probe,
        ).collect()
    ]
    want = twin_ivf_topk(corpus, queries, k, n_lists, n_probe)
    problems = []
    gset = {(q, nid, rk) for q, nid, rk, _ in got}
    wset = {(q, nid, rk) for q, nid, rk, _ in want}
    if gset != wset:
        problems.append(
            f"ivf ranks diverge (L={n_lists} p={n_probe} k={k}): "
            f"{gset ^ wset}"
        )
    gcos = {(q, nid): c for q, nid, _, c in got}
    for q, nid, _, c in want:
        gc = gcos.get((q, nid))
        if gc is not None and gc != c:
            problems.append(f"cosine diverges for {(q, nid)}: {gc} vs {c}")
    if full_probe:
        brute = twin_brute_topk(corpus, queries, k)
        bset = {(q, nid, rk) for q, nid, rk, _ in brute}
        if gset != bset:
            problems.append(
                f"full-probe ivf != brute force: {gset ^ bset}"
            )
    return problems


# ---- wave 2 (round 9): incremental LSH, simhash, jaccard, SNM --------

def twin_simhash(text: str, bits: int) -> tuple[int, int]:
    ws = _tok(text)
    hs = [_gram_hash(w) for w in ws]
    if not hs:
        return 0, 0
    v = 0
    for j in range(bits):
        ones = sum((h >> j) & 1 for h in hs)
        if 2 * ones >= len(hs):
            v |= 1 << j
    return v, len(ws)


def run_incremental(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_candidates_incremental,
    )

    num_hashes, bands = rng.choice([(4, 2), (8, 4), (12, 4)])
    sw = rng.choice([1, 2, 3])
    corpus, _ = gen_corpus(rng)
    # new batch: a couple of fresh docs + one copied from the corpus
    nb = [(100 + i, _rand_doc(rng)) for i in range(rng.randint(2, 5))]
    nb.append((199, corpus[rng.randrange(len(corpus))][1]))
    cdf = spark.createDataFrame(corpus, "id bigint, text string")
    ndf = spark.createDataFrame(nb, "id bigint, text string")

    want_nb = twin_band_rows(nb, num_hashes, bands, sw)
    want_cb = twin_band_rows(corpus, num_hashes, bands, sw)
    by_band: dict[tuple[int, str], list[int]] = {}
    for doc_id, bi, key in want_cb:
        by_band.setdefault((bi, key), []).append(doc_id)
    want = set()
    for doc_id, bi, key in want_nb:
        for idx_id in by_band.get((bi, key), []):
            want.add((doc_id, idx_id))

    # raw-docs index path AND the persisted band-table path must agree
    for idx in (cdf, minhash_band_table(cdf, "id", "text", num_hashes, bands, sw)):
        got = {
            (r["new_id"], r["index_id"])
            for r in minhash_lsh_candidates_incremental(
                ndf, idx, "id", "text", num_hashes, bands, sw
            ).collect()
        }
        if got != want:
            return [
                f"incremental pairs diverge (idx={idx.columns}): "
                f"{got ^ want}"
            ]
    return []


def run_simhash(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.dedup import simhash

    bits = rng.choice([8, 16, 32])
    docs, _ = gen_corpus(rng)
    docs.append((901, ""))  # empty-text edge: simhash 0, n_words 0
    df = spark.createDataFrame(docs, "id bigint, text string")
    got = {
        (r["id"], r["simhash"], r["n_words"])
        for r in simhash(df, "id", "text", bits=bits).collect()
    }
    want = {(d, *twin_simhash(t, bits)) for d, t in docs}
    if got != want:
        return [f"simhash diverges (bits={bits}): {got ^ want}"]
    return []


def run_jaccard(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.dedup import ngram_jaccard_pairs

    n = rng.choice([2, 3])
    threshold = rng.choice([0.2, 0.4, 0.6])
    docs, _ = gen_corpus(rng)
    df = spark.createDataFrame(docs, "id bigint, text string")
    got = {
        (r["id_a"], r["id_b"], r["inter_cnt"], round(r["jaccard"], 12))
        for r in ngram_jaccard_pairs(
            df, "id", "text", n=n, threshold=threshold
        ).collect()
    }
    sets = {
        d: {_gram_hash(g) for g in _shingles(_tok(t), n)} for d, t in docs
    }
    want = set()
    ids = sorted(sets)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = ids[i], ids[j]
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue  # inverted index: no shared shingle, no pair
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= threshold:
                want.add((a, b, inter, round(jac, 12)))
    if got != want:
        return [f"jaccard diverges (n={n} t={threshold}): {got ^ want}"]
    return []


def run_snm(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    window = rng.choice([1, 2, 4])
    n = rng.randint(4, 14)
    rows = [(i, rng.choice(_VOCAB)) for i in range(n)]
    df = spark.createDataFrame(rows, "id bigint, k string")
    got = {
        (r["id_a"], r["id_b"], r["key_a"], r["key_b"], r["pos_gap"])
        for r in sorted_neighborhood_pairs(
            df, "id", "k", window=window
        ).collect()
    }
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    want = set()
    for i in range(len(order)):
        for j in range(i + 1, min(i + window + 1, len(order))):
            want.add(
                (order[i][0], order[j][0], order[i][1], order[j][1], j - i)
            )
    if got != want:
        return [f"snm diverges (w={window}): {got ^ want}"]
    return []


# ---- wave 3 (round 9): join-shape rewrites vs brute-force twins ------

def run_binned_interval(spark, rng: random.Random) -> list[str]:
    """interval_join_binned (incl. the round-9 `on=` keys) must emit
    the EXACT pair set of the naive overlap predicate, exactly once —
    the invariant the join_interval skew fix rides on."""
    from spark_extensions_spark.operators.joins import interval_join_binned

    bin_width = rng.choice([1, 3, 7])
    keyed = rng.random() < 0.7
    n_l, n_r = rng.randint(0, 14), rng.randint(0, 14)

    def side(n, tag):
        return [
            (
                tag * 1000 + i,
                rng.randint(0, 3) if keyed else 0,
                rng.randint(0, 60),
                rng.randint(0, 8),
            )
            for i in range(n)
        ]

    lrows = [(i, k, s, s + sp) for i, k, s, sp in side(n_l, 1)]
    rrows = [(i, k, s, s + sp) for i, k, s, sp in side(n_r, 2)]
    l = spark.createDataFrame(
        lrows or [(None, None, None, None)],
        "lid bigint, k bigint, ls bigint, le bigint",
    )
    r = spark.createDataFrame(
        rrows or [(None, None, None, None)],
        "rid bigint, k bigint, rs bigint, re bigint",
    )
    if not lrows:
        l = l.where("lid IS NOT NULL")
    if not rrows:
        r = r.where("rid IS NOT NULL")
    if keyed:
        out = interval_join_binned(
            l, r, "ls", "le", "rs", "re", bin_width, on="k"
        )
        got = sorted(
            (row["k"], row["lid"], row["rid"]) for row in out.collect()
        )
        want = sorted(
            (lk, lid, rid)
            for lid, lk, ls, le in lrows
            for rid, rk, rs, re in rrows
            if lk == rk and ls <= re and rs <= le
        )
    else:
        out = interval_join_binned(
            l.drop("k"), r.drop("k"), "ls", "le", "rs", "re", bin_width
        )
        got = sorted((row["lid"], row["rid"]) for row in out.collect())
        want = sorted(
            (lid, rid)
            for lid, _, ls, le in lrows
            for rid, _, rs, re in rrows
            if ls <= re and rs <= le
        )
    if got != want:
        return [
            f"binned interval diverges (bw={bin_width} keyed={keyed}): "
            f"got {len(got)} want {len(want)}"
        ]
    return []


def run_band(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.joins import band_join

    delta = rng.choice([1.0, 1.5, 3.0])
    lrows = [
        (i, rng.randint(-20, 20)) for i in range(rng.randint(1, 15))
    ]
    rrows = [
        (100 + i, rng.randint(-20, 20)) for i in range(rng.randint(1, 15))
    ]
    l = spark.createDataFrame(lrows, "lid bigint, lv bigint")
    r = spark.createDataFrame(rrows, "rid bigint, rv bigint")
    got = sorted(
        (row["lid"], row["rid"])
        for row in band_join(l, r, "lv", "rv", delta).collect()
    )
    want = sorted(
        (lid, rid)
        for lid, lv in lrows
        for rid, rv in rrows
        if abs(lv - rv) <= delta
    )
    if got != want:
        return [f"band join diverges (delta={delta}): {len(got)} vs {len(want)}"]
    return []


def run_asof(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.joins import asof_join

    direction = rng.choice(["backward", "forward"])
    how = rng.choice(["left", "inner"])
    lrows = [
        (i, rng.randint(0, 2), rng.randint(0, 30))
        for i in range(rng.randint(1, 12))
    ]
    rrows = [
        (100 + i, rng.randint(0, 2), rng.randint(0, 30))
        for i in range(rng.randint(0, 12))
    ]
    l = spark.createDataFrame(lrows, "lid bigint, k bigint, t bigint")
    r = spark.createDataFrame(rrows, "rid bigint, k bigint, rt bigint")
    out = asof_join(
        l, r, on="k", left_time="t", right_time="rt",
        right_values=["rid"], how=how, direction=direction,
        right_tiebreak="rid",
    )
    got = sorted(
        (row["lid"], row["rid"], row["rt"]) for row in out.collect()
    )
    want = []
    for lid, lk, t in lrows:
        if direction == "backward":
            cands = [(rt, rid) for rid, rk, rt in rrows if rk == lk and rt <= t]
            best = max(cands) if cands else None
        else:
            cands = [(rt, rid) for rid, rk, rt in rrows if rk == lk and rt >= t]
            # forward winner: earliest time; among ties the SMALLEST
            # tiebreak (the operator's desc-order last_value pick)
            best = min(cands) if cands else None
        if best is None:
            if how == "left":
                want.append((lid, None, None))
        else:
            want.append((lid, best[1], best[0]))
    if got != sorted(want):
        return [
            f"asof diverges ({direction}/{how}): got {got} want "
            f"{sorted(want)}"
        ]
    return []


# ---- wave 4 (round 9): iterative eval operators -----------------------

def twin_bradley_terry(matches, iters, p0, scale):
    """Pure-Python twin of the e9 fixed-point MM recursion."""
    pairs: dict[tuple[str, str], int] = {}
    wins: dict[str, int] = {}
    for winner, a, b in matches:
        pairs[(a, b)] = pairs.get((a, b), 0) + 1
        pairs[(b, a)] = pairs.get((b, a), 0) + 1
        wins[winner] = wins.get(winner, 0) + 1
    models = sorted({k for k, _ in pairs})
    if not models:
        return {}
    p = {m: p0 // len(models) for m in models}
    for _ in range(iters):
        nxt = {}
        for mi in models:
            denom = sum(
                (n * scale) // (p[mi] + p[mj])
                for (a, mj), n in pairs.items()
                if a == mi and p[mi] + p[mj] > 0
            )
            w = wins.get(mi, 0)
            nxt[mi] = (w * scale) // denom if denom > 0 else 0
        p = nxt
    return {
        m: (
            p[m],
            wins.get(m, 0),
            sum(n for (a, _), n in pairs.items() if a == m),
        )
        for m in models
    }


def run_bradley_terry(spark, rng: random.Random) -> list[str]:
    from spark_extensions_spark.operators.evals import (
        BT_P0,
        BT_TERM_SCALE,
        bradley_terry_strengths,
    )

    prof = rng.choice(["normal", "normal", "dominant", "zero_win", "tiny"])
    models = [f"m{i}" for i in range(rng.randint(2, 6))]
    n = rng.randint(1, 40) if prof != "tiny" else 1
    matches = []
    for _ in range(n):
        a, b = rng.sample(models, 2)
        if prof == "dominant":
            w = models[0] if models[0] in (a, b) else rng.choice([a, b])
        elif prof == "zero_win":
            # model[-1] never wins
            w = a if a != models[-1] else b
        else:
            w = rng.choice([a, b])
        matches.append((w, a, b))
    iters = rng.choice([1, 3, 5])
    df = spark.createDataFrame(
        matches, "winner string, m_a string, m_b string"
    )
    got = {
        r["model"]: (r["strength_e9"], r["wins"], r["n_matches"])
        for r in bradley_terry_strengths(df, iters=iters).collect()
    }
    want = twin_bradley_terry(matches, iters, BT_P0, BT_TERM_SCALE)
    if got != want:
        return [f"bradley-terry diverges (iters={iters} prof={prof}): "
                f"{got} vs {want}"]
    return []


def families() -> dict[str, Family]:
    return {
        f.name: f
        for f in [
            Family("minhash", 60, run_minhash),
            Family("winnow", 60, run_winnow),
            Family("containment", 50, run_containment),
            Family("ivf", 40, run_ivf),
            # wave 2 (round 9)
            Family("incremental", 40, run_incremental),
            Family("simhash", 40, run_simhash),
            Family("jaccard", 40, run_jaccard),
            Family("snm", 40, run_snm),
            # wave 3 (round 9): join-shape rewrites
            Family("binned_interval", 50, run_binned_interval),
            Family("band", 40, run_band),
            Family("asof", 40, run_asof),
            # wave 4 (round 9): iterative eval operators
            Family("bradley_terry", 30, run_bradley_terry),
        ]
    }


def run_fuzz(
    spark, seed: str = "candfuzz-r9", only: str | None = None,
    n_override: int | None = None,
) -> tuple[int, list[tuple[str, int, str]]]:
    n_pass, failures = 0, []
    for fam in families().values():
        if only and fam.name != only:
            continue
        n = n_override or fam.n_cases
        for i in range(n):
            rng = random.Random(f"{seed}:{fam.name}:{i}")
            try:
                problems = fam.run(spark, rng)
            except Exception as e:  # divergence includes hard errors
                problems = [f"error: {type(e).__name__}: {str(e)[:200]}"]
            if problems:
                failures.append((fam.name, i, "; ".join(problems)))
            else:
                n_pass += 1
    return n_pass, failures


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--family", default=None)
    ap.add_argument("--case", type=int, default=None)
    ap.add_argument("--n", type=int, default=None)
    ap.add_argument("--seed", default="candfuzz-r9")
    args = ap.parse_args()

    sys.path.insert(0, __file__.rsplit("/", 2)[0])
    from spark_extensions_spark.session import get_spark

    spark = get_spark("fuzz_candidates")
    if args.family and args.case is not None:
        rng = random.Random(f"{args.seed}:{args.family}:{args.case}")
        problems = families()[args.family].run(spark, rng)
        print(problems or "MATCH")
        return 1 if problems else 0
    n_pass, failures = run_fuzz(
        spark, args.seed, only=args.family, n_override=args.n
    )
    for fam, i, p in failures:
        print(f"DIVERGE {fam}#{i}: {p}")
    print(f"{n_pass} pass, {len(failures)} diverge")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
