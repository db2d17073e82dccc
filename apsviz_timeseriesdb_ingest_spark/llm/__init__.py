"""Training-data operators; the ``suite/llmdata`` queries are built on them.

    text        -- cleaning, filters, quality signals, decontamination
    dedup       -- exact, MinHash-LSH and SimHash near-duplicate search
    similarity  -- embeddings, exact top-k, k-means/IVF cell assignment
    multimodal  -- media features via Arrow-batched ``mapInPandas``
    spans       -- sentence and paragraph spans, duplicate-span masking
    lm          -- n-gram LMs, perplexity, DSIR selection
    graph       -- PageRank
    retrieval   -- BM25 top-k, rank fusion, contamination report

All hot paths are JVM-side DataFrame expressions (higher-order functions,
no row-at-a-time Python); the only Python execution is the Arrow-batched
``mapInPandas`` in ``multimodal`` where external decode libraries would
run. Hashing uses the portable md5 scheme (functions.portable_hash) in
parity mode so every operator is verifiable against a DuckDB oracle, with
an ``fast=True`` xxhash64 switch for production scale.
"""

from .text import (  # noqa: F401
    blocked_terms_expr,
    build_shingle_bloom,
    c4_line_filter,
    canonical_url,
    build_shingle_bloom_table,
    chunk_documents,
    clean_text,
    composition_drift,
    compression_ratio,
    corpus_manifest,
    corpus_mixture,
    corpus_profile,
    decontaminate,
    decontaminate_bloom,
    decontaminate_bloom_table,
    document_fingerprint,
    domain_stats,
    filter_by_domain,
    gopher_drop_reason,
    gopher_quality_stats,
    language_id,
    language_mix,
    length_buckets,
    mixture_keep_expr,
    normalize_unicode,
    pack_documents,
    quality_score,
    remove_repeated_lines,
    repeat_for_epochs,
    repetition_stats,
    scrub_pii,
    shuffle_rank,
    stratified_sample,
    text_stats,
    tf_idf_top_terms,
    token_stats,
    tokens,
    train_split,
    url_dedup,
    url_host,
    weighted_sample,
    vocabulary,
)
from .dedup import (  # noqa: F401
    cross_corpus_neardup,
    dedup_keep_representative,
    evaluate_pair_candidates,
    exact_dedup,
    lsh_pairs_from_buckets,
    minhash_band_buckets,
    minhash_lsh_pairs,
    minhash_tune,
    neardup_clusters,
    ngram_jaccard_pairs,
    simhash,
    simhash_neardup_pairs,
    word_shingles,
)
from .similarity import (  # noqa: F401
    CentroidIndex,
    CentroidTable,
    ann_assign,
    brute_force_topk,
    embedding_neardup_pairs,
    hash_embedding,
    hyperplane_lsh_bucket,
    ivf_assign,
    kmeans_assign,
    semantic_dedup,
    semantic_dedup_auto,
    semantic_k,
    train_kmeans,
    train_kmeans_table,
)
from .multimodal import (  # noqa: F401
    extract_media_features,
    resize_images,
    sample_frames,
    with_binary_payload,
)
from .spans import (  # noqa: F401
    split_sentences,
    dedup_paragraphs,
    duplicate_spans,
    mask_duplicate_spans,
)
from .lm import (  # noqa: F401
    dsir_grams,
    dsir_importance_weights,
    dsir_select,
    min_k_prob,
    perplexity,
    perplexity_buckets,
    perplexity_ngram,
    train_bigram_lm,
    train_hashed_ngram_dist,
    train_ngram_lm,
)
from .graph import (  # noqa: F401
    pagerank,
)
from .retrieval import (  # noqa: F401
    bm25_topk,
    contamination_report,
    rrf_fuse,
)
