"""Cross-document operators for large-scale training-data pipelines.

All implementations are JVM-side DataFrame expressions (whole-stage
codegen) — no Python in the hot path. The per-document OCR kernel lives in
``servico_ocr_spark.core``; these operators cover what a 100 TB corpus
pipeline needs around it: deduplication, similarity search, text analysis,
and multimodal column plumbing.
"""

from .dedup import (  # noqa: F401
    cdc_chunks,
    cdc_dedup_stats,
    component_representatives,
    decontaminate,
    exact_duplicates,
    incremental_near_duplicates,
    minhash_candidate_telemetry,
    minhash_estimator_calibration,
    minhash_near_duplicates,
    neardup_components,
    ngram_candidate_telemetry,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    provenance_edges,
    simhash,
    simhash_candidate_telemetry,
    simhash_near_duplicates,
    winnow_fingerprints,
    winnow_pairs,
)
from .multimodal import (  # noqa: F401
    extract_media_features,
    sample_frames,
    synth_media_table,
)
from .similarity import (  # noqa: F401
    brute_force_topk,
    embedding_candidate_telemetry,
    embedding_near_duplicates,
    ivf_ann_topk,
    label_centroid_outliers,
    margin_bitext,
    lsh_ann_topk,
)
from .webtext import (  # noqa: F401
    drop_repeated_paragraphs,
    web_analysis,
    web_partition_metrics,
)
from .links import (  # noqa: F401
    anchor_text_agg,
    bfs_depths,
    cocitation_pairs,
    digraph_reciprocity,
    extract_links,
    hits_scores,
    kcore,
    label_propagation,
    link_degrees,
    link_edges,
    pagerank,
    random_walks,
    resolve_href,
    triangle_counts,
)
from .classify import (  # noqa: F401
    dsir_features,
    dsir_weights,
    hashed_features,
    nb_confusion,
    nb_score,
    nb_train,
)
from .clustering import semantic_dedup  # noqa: F401
from .search import (  # noqa: F401
    bm25_by_example,
    bm25_hard_negatives,
    bm25_topk,
    rrf_fuse,
)
from .textstats import (  # noqa: F401
    bpe_encode,
    bpe_learn,
    bpe_merge_candidates,
    c4_page_clean,
    char_entropy,
    corpus_datasheet,
    gopher_filter,
    inverted_index,
    language_id,
    quality_score,
    repetition_stats,
    text_fingerprint,
    token_counts,
    tokenizer_fertility,
    token_rarity,
    word_adjacency_edges,
    word_cooccurrence,
)
from .packing import (  # noqa: F401
    assign_split,
    chunk_documents,
    epoch_upsample,
    negative_sampling,
    pack_efficiency,
    pack_sequences,
    span_corruption,
    stratified_sample,
    token_budget_mix,
    weighted_sample,
)
from .clustering import (  # noqa: F401
    ivfpq_search,
    kmeans_lite,
    pq_encode,
    pq_search,
)
from .encode import (  # noqa: F401
    dictionary_encode,
    quantize_embeddings,
    rendezvous_shard,
    shard_churn,
)
from .temporal import (  # noqa: F401
    asof_join,
    asof_join_broadcast,
)
from .events import (  # noqa: F401
    activity_gapfill,
    cohort_retention,
    event_path_ngrams,
    event_transitions,
    funnel_counts,
    rate_anomalies,
    rolling_daily_counts,
)
from .linkage import edit1_linkage  # noqa: F401
from .lm import (  # noqa: F401
    bigram_lm,
    lm_doc_scores,
    lm_quality_buckets,
    skipgram_pairs,
)
from .stats import (  # noqa: F401
    bloom_bits,
    bloom_probe,
    cms_estimate,
    cms_sketch,
    distinct_count_telemetry,
    embedding_dim_stats,
    exact_group_quantiles,
    hll_register_sketch,
    key_skew_summary,
    log_histogram_quantiles,
    majority_label,
    rank_correlation,
    winsorize_summary,
)
from .pii import scrub_pii  # noqa: F401
from .urls import (  # noqa: F401
    apportion_budget,
    canonical_url,
    canonicalize_urls,
    crawl_delta,
    crawl_schedule,
    domain_cap,
    domain_stats,
    freshness_scores,
    latest_crawl,
    path_prefix_rollup,
    registered_domain,
    robots_disallow,
    robots_match,
    robots_paths,
    scd2_intervals,
    url_dedup,
    url_host,
    url_path,
)
