"""Relational / ETL operator surface (SURVEY.md §2.2-2.7 + north-star ops).

Each operator is a DataFrame -> DataFrame transformation built from
declarative Spark constructs so Catalyst keeps full optimization freedom
(pushdown, pruning, join selection, AQE). Determinism contract: any operator
that the reference implemented with RNG or insertion order (sampling, splits,
near-dedup survivor choice) is re-specified here as a deterministic function
of the data (md5-based pseudo-random ordering, min-key survivors) so results
are reproducible across runs, partitionings and engines.
"""

from instructionspipe_spark.operators.projection import (  # noqa: F401
    parse_markdown_sections,
    scope_markdown,
    scope_project,
)
from instructionspipe_spark.operators.grouping import group_counts, distribution_check, heavy_hitters  # noqa: F401
from instructionspipe_spark.operators.dedup import (  # noqa: F401
    exact_dedup,
    multi_key_dedup,
    minhash_signature,
    minhash_lsh_dedup,
    minhash_lsh_dedup_most_dup,
    simhash,
    simhash_band_buckets,
    simhash_dedup,
    simhash_near_dedup,
    ngram_jaccard_pairs,
    embedding_near_dup,
    contamination_screen,
    cross_corpus_near_dups,
    DEFAULT_BUCKET_CAP,
    DEFAULT_EVAL_BUCKET_CAP,
    incremental_minhash_dedup,
    minhash_band_store,
    word_ngram_hash_ids,
    template_block_strip,
    word_block_dedup,
    lsh_bucket_stats,
    semantic_dedup,
    span_dedup,
    span_dedup_stats,
)
from instructionspipe_spark.operators.sampling import (  # noqa: F401
    capped_group_sample,
    hash_uniform,
    seeded_shuffle,
    seeded_head,
    stratified_sample,
    temperature_mixture_sample,
    token_budget_mixture,
    weighted_sample,
)
from instructionspipe_spark.operators.splitting import assign_shards, grouped_split  # noqa: F401
from instructionspipe_spark.operators.similarity import (  # noqa: F401
    FLAT_ASSIGN_MAX_CELLS,
    ann_topk,
    assign_cells,
    brute_force_topk,
    coarse_centroids,
    pq_codebook_deterministic,
    pq_encode,
)
from instructionspipe_spark.operators.asof import asof_join, range_join  # noqa: F401
from instructionspipe_spark.operators.packing import (  # noqa: F401
    pack_greedy_firstfit,
    pack_token_stream,
    lm_block_manifest,
)
from instructionspipe_spark.operators.textstats import (  # noqa: F401
    char_entropy,
    detect_language,
    distinct_char_count,
    doc_fingerprint,
    quality_score,
    repetition_stats,
    text_stats,
    tfidf_top_terms,
    bm25_topk,
    frequent_word_ngrams,
    token_count,
    token_count_bpe,
    unigram_doc_logprob,
    quality_classifier_score,
    perplexity_buckets,
)
from instructionspipe_spark.operators.eventflow import (  # noqa: F401
    funnel_counts,
    retention_matrix,
    scd2_intervals,
)
from instructionspipe_spark.operators.graph import (  # noqa: F401
    connected_components,
    near_dup_components,
)
from instructionspipe_spark.operators.chunking import (  # noqa: F401
    chunk_count,
    chunk_text,
)
