"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline over a corpus built
from sf0.001 documents; ``queries()``/``oracle_sql()`` cover the operator
inventory of SURVEY.md §2 plus the training-data-pipeline operators (dedup /
similarity / text analysis / multimodal). Every SQL-expressible operator has
a DuckDB oracle; column names are aligned on both sides.

Registry size is EXACTLY the driver's 50-query window (filled in round 5,
the final round — r4 proved all 50 slots get correctness rows). The
consolidation discipline still applies: the four north-rule roundtrips
live in ``extraction_suite`` and the multimodal parts inside
``docmeta_suite``. THERE IS NO FREE SLOT — a 51st entry would silently
lose its correctness row (the r3 regression); fold new work into a suite
part instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pdf_extraction_spark.corpus import corpus_from_documents
from pdf_extraction_spark.operators import (
    corpusops,
    dedup,
    docmeta,  # noqa: F401 — parts re-exported through suites
    elements,
    extraction,
    links,
    multimodal,  # noqa: F401 — parts re-exported through suites
    relational,  # noqa: F401 — parts re-exported through suites
    similarity,
    suites,
    textops,
)
from pdf_extraction_spark.pipeline import extract_stage


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    corpus = corpus_from_documents(spark, "/root/testdata/sf0.001", payload="html")
    out = extract_stage(corpus)
    return out.select("url", "extracted_text", "n_elements", "method", "error")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # flagship extraction (north rule), consolidated (VERDICT r4 item 2):
        # html_roundtrip spans_tile pdf_roundtrip wet_roundtrip
        "extraction_suite": extraction.q_extraction_suite,
        # dedup family
        "dedup_exact": dedup.q_dedup_exact,
        "dedup_minhash_lsh": dedup.q_dedup_minhash_lsh,
        "dedup_components": dedup.q_dedup_components,
        "dedup_keep_best": dedup.q_dedup_keep_best,
        "dedup_simhash": dedup.q_dedup_simhash,
        "dedup_ngram_jaccard": dedup.q_dedup_ngram_jaccard,
        "embedding_cosine_pairs": similarity.q_embedding_cosine_pairs,
        # similarity search
        "ann_topk_cosine": similarity.q_ann_topk_cosine,
        "ann_lsh_bucketed": similarity.q_ann_lsh_bucketed,
        "ann_ivf": similarity.q_ann_ivf,
        # text analysis
        "lang_id_stopwords": textops.q_lang_id_stopwords,
        "quality_score": textops.q_quality_score,
        "token_count": textops.q_token_count,
        "normalize_text": textops.q_normalize_text,
        "fingerprint_winnow": textops.q_fingerprint_winnow,
        "chunk_split": textops.q_chunk_split,
        "chunk_split_recursive": textops.q_chunk_split_recursive,
        "pii_scrub": textops.q_pii_scrub,
        "top_terms": textops.q_top_terms,
        "regex_counts": textops.q_regex_counts,
        "rag_retrieval": textops.q_rag_retrieval,
        # round-5: fills the last free driver-window slot (final round, no
        # future headroom needed) — term-based BM25 twin of rag_retrieval
        "bm25_retrieval": textops.q_bm25_retrieval,
        # link graph
        "extract_outlinks": links.q_extract_outlinks,
        "link_host_degree": links.q_link_host_degree,
        # crawl-source + page-graph parts consolidated (VERDICT r3 item 2):
        # sitemap_urls robots_allowed feed_entries feed_discovery
        # crawl_frontier warc_http_meta meta_refresh image_alt_pairs
        # anchor_text_rollup robots_crawl_delay redirect_map
        "crawl_suite": suites.q_crawl_suite,
        # document-metadata parts: html_head_meta pdf_info_meta pdf_toc
        # html_toc jsonld_meta opengraph_cards pdf_attachments
        # pdf_form_fields multimodal_meta multimodal_framesample
        # charset_sniff pdf_image_pairs canonical_cluster
        "docmeta_suite": suites.q_docmeta_suite,
        "paragraph_dedup": corpusops.q_paragraph_dedup,
        # corpus curation (training-data pipeline stages)
        "decontaminate": corpusops.q_decontaminate,
        "domain_cap": corpusops.q_domain_cap,
        "span_dup_fraction": corpusops.q_span_dup_fraction,
        "repetition_score": corpusops.q_repetition_score,
        "filter_funnel": corpusops.q_filter_funnel,
        "indexable_filter": corpusops.q_indexable_filter,
        "host_quality": corpusops.q_host_quality,
        "url_dedup": corpusops.q_url_dedup,
        "stratified_sample": corpusops.q_stratified_sample,
        "dup_span_extract": corpusops.q_dup_span_extract,
        "ccnet_perplexity": corpusops.q_ccnet_perplexity,
        # round-5 additions (4 of the 5 freed slots; 1 kept spare)
        "host_pagerank": links.q_host_pagerank,
        "cdx_index": links.q_cdx_index,
        "shard_balance": corpusops.q_shard_balance,
        "host_length_quantiles": corpusops.q_host_length_quantiles,
        # element-level layer on real extraction output; outputs are shaped
        # as corpus invariants so a DuckDB oracle can value-check them
        # (extraction values themselves are pinned by golden tests)
        "elements_reading_order": elements.q_reading_order,
        "elements_spatial_relations": elements.q_spatial_relations,
        "elements_hierarchy": elements.q_element_hierarchy,
        "elements_confidence": elements.q_confidence_gate,
        "table_cells": elements.q_table_cells,
        "html_table_cells": elements.q_html_table_cells,
        # relational operator inventory (SURVEY.md §2), consolidated
        # (VERDICT r3 item 2): pricing_summary group_median
        # sessionize_events theta_selfjoin semi_join_validation band_join
        # asof_nearest_prior interval_overlap_dedup grid_cluster_1d
        # top_orders rollup_counts broadcast_dim_join evidence_classifier
        "relational_suite": suites.q_relational_suite,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "extraction_suite": extraction.SQL_EXTRACTION_SUITE,
        "dedup_exact": dedup.SQL_DEDUP_EXACT,
        "dedup_minhash_lsh": dedup.SQL_DEDUP_MINHASH_LSH,
        "dedup_components": dedup.SQL_DEDUP_COMPONENTS,
        "dedup_keep_best": dedup.SQL_DEDUP_KEEP_BEST,
        "dedup_simhash": dedup.SQL_DEDUP_SIMHASH,
        "dedup_ngram_jaccard": dedup.SQL_DEDUP_NGRAM_JACCARD,
        "embedding_cosine_pairs": similarity.SQL_EMBEDDING_COSINE_PAIRS,
        "ann_topk_cosine": similarity.SQL_ANN_TOPK_COSINE,
        "ann_lsh_bucketed": similarity.SQL_ANN_LSH_BUCKETED,
        "ann_ivf": similarity.SQL_ANN_IVF,
        "lang_id_stopwords": textops.SQL_LANG_ID_STOPWORDS,
        "quality_score": textops.SQL_QUALITY_SCORE,
        "token_count": textops.SQL_TOKEN_COUNT,
        "normalize_text": textops.SQL_NORMALIZE_TEXT,
        "fingerprint_winnow": textops.SQL_FINGERPRINT_WINNOW,
        "chunk_split": textops.SQL_CHUNK_SPLIT,
        "chunk_split_recursive": textops.SQL_CHUNK_SPLIT_RECURSIVE,
        "pii_scrub": textops.SQL_PII_SCRUB,
        "top_terms": textops.SQL_TOP_TERMS,
        "regex_counts": textops.SQL_REGEX_COUNTS,
        "rag_retrieval": textops.SQL_RAG_RETRIEVAL,
        "bm25_retrieval": textops.SQL_BM25_RETRIEVAL,
        "extract_outlinks": links.SQL_EXTRACT_OUTLINKS,
        "link_host_degree": links.SQL_LINK_HOST_DEGREE,
        "crawl_suite": suites.SQL_CRAWL_SUITE,
        "docmeta_suite": suites.SQL_DOCMETA_SUITE,
        "paragraph_dedup": corpusops.SQL_PARAGRAPH_DEDUP,
        "decontaminate": corpusops.SQL_DECONTAMINATE,
        "domain_cap": corpusops.SQL_DOMAIN_CAP,
        "span_dup_fraction": corpusops.SQL_SPAN_DUP_FRACTION,
        "repetition_score": corpusops.SQL_REPETITION_SCORE,
        "filter_funnel": corpusops.SQL_FILTER_FUNNEL,
        "indexable_filter": corpusops.SQL_INDEXABLE_FILTER,
        "host_quality": corpusops.SQL_HOST_QUALITY,
        "url_dedup": corpusops.SQL_URL_DEDUP,
        "stratified_sample": corpusops.SQL_STRATIFIED_SAMPLE,
        "dup_span_extract": corpusops.SQL_DUP_SPAN_EXTRACT,
        "ccnet_perplexity": corpusops.SQL_CCNET_PERPLEXITY,
        "host_pagerank": links.SQL_HOST_PAGERANK,
        "cdx_index": links.SQL_CDX_INDEX,
        "shard_balance": corpusops.SQL_SHARD_BALANCE,
        "host_length_quantiles": corpusops.SQL_HOST_LENGTH_QUANTILES,
        "elements_reading_order": elements.SQL_ELEMENTS_READING_ORDER,
        "elements_spatial_relations": elements.SQL_ELEMENTS_SPATIAL_RELATIONS,
        "elements_hierarchy": elements.SQL_ELEMENT_HIERARCHY,
        "elements_confidence": elements.SQL_CONFIDENCE_GATE,
        "table_cells": elements.SQL_TABLE_CELLS,
        "html_table_cells": elements.SQL_HTML_TABLE_CELLS,
        "relational_suite": suites.SQL_RELATIONAL_SUITE,
    }
