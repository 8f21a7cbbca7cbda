"""Relational + data-pipeline operators built on public PySpark APIs."""

from spark_extensions_spark.operators.alignment import (
    hard_negatives,
    preference_pairs,
)
from spark_extensions_spark.operators.joins import (
    asof_join,
    interval_join,
    salted_join,
)
from spark_extensions_spark.operators.dedup import (
    exact_dedup,
    minhash_signatures,
    minhash_lsh_candidates,
    simhash,
    ngram_jaccard_pairs,
    embedding_neardup_pairs,
)
from spark_extensions_spark.operators.sketches import (
    approx_quantiles,
    bloom_filter,
    bloom_semi_join,
    count_min_sketch,
    freq_items,
)
from spark_extensions_spark.operators.similarity import (
    cosine_similarity_col,
    ann_bruteforce_topk,
    ann_lsh_topk_det,
    ann_ivf_topk_det,
    ann_ivfpq_topk_det,
    ivf_index_table,
    ann_ivf_query_index,
    quantize_embeddings,
    jl_project,
)
from spark_extensions_spark.operators.dedup import (
    embedding_neardup_pairs_ivf_det,
    sorted_neighborhood_pairs,
    minhash_jaccard_estimates,
)
from spark_extensions_spark.operators.clustering import (
    kmeans_fit_det,
    kmeans_assignments_det,
    sample_diverse,
)
from spark_extensions_spark.operators.sampling import (
    grouped_topk,
    hash_split,
    stratified_cap,
    stratified_split,
    weighted_sample,
    temperature_sample,
    deterministic_shuffle,
    global_sort_index,
    token_budget_cap,
)
from spark_extensions_spark.operators.sketches import (
    kmv_sketch,
    kmv_set_ops,
)
from spark_extensions_spark.operators.layout import (
    with_zorder,
    with_hilbert,
    compaction_plan,
)
from spark_extensions_spark.operators.graph import (
    connected_components,
    connected_components_star,
    label_propagation,
    pagerank,
    triangle_count,
)
from spark_extensions_spark.operators.patterns import (
    match_pattern,
)
from spark_extensions_spark.operators.dedup import (
    winnow_candidates,
    winnow_fingerprints,
)

__all__ = [
    "match_pattern",
    "winnow_fingerprints",
    "winnow_candidates",
    "asof_join",
    "interval_join",
    "salted_join",
    "preference_pairs",
    "hard_negatives",
    "grouped_topk",
    "exact_dedup",
    "minhash_signatures",
    "minhash_lsh_candidates",
    "simhash",
    "ngram_jaccard_pairs",
    "embedding_neardup_pairs",
    "cosine_similarity_col",
    "ann_bruteforce_topk",
    "count_min_sketch",
    "bloom_filter",
    "bloom_semi_join",
    "freq_items",
    "approx_quantiles",
    "ann_lsh_topk_det",
    "ann_ivf_topk_det",
    "ann_ivfpq_topk_det",
    "ivf_index_table",
    "ann_ivf_query_index",
    "quantize_embeddings",
    "jl_project",
    "embedding_neardup_pairs_ivf_det",
    "sorted_neighborhood_pairs",
    "minhash_jaccard_estimates",
    "kmeans_fit_det",
    "kmeans_assignments_det",
    "sample_diverse",
    "hash_split",
    "stratified_cap",
    "stratified_split",
    "weighted_sample",
    "temperature_sample",
    "deterministic_shuffle",
    "global_sort_index",
    "token_budget_cap",
    "kmv_sketch",
    "kmv_set_ops",
    "with_zorder",
    "with_hilbert",
    "compaction_plan",
    "connected_components",
    "connected_components_star",
    "label_propagation",
    "pagerank",
    "triangle_count",
]
