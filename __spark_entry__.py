"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: build the d-bigram block-max inverted index on
the sf0.001 documents table and answer the fixed BM25 query set with the
exact top-k engine (``queryengine.topk_auto``, a cost-based choice among
block-max-pruned kernels). ``queries()``/``oracle_sql()`` — one entry per
implemented operator family (SURVEY.md §2), each checked against a DuckDB
oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from candidategeneration_spark import entries, entrysql  # noqa: E402
from candidategeneration_spark.quality import LM_LOG_SCALE, LM_SCALE  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return entries.q_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The round driver oracle-checks the first 50 entries. Only gates
    # driver-green in at least three recorded rounds may sit past that
    # window (tests/test_entry_contract.py::test_rotation_tail_policy);
    # every gate keeps its pytest DuckDB mirror at sf0.01 either way.
    return {
        "lm_doc_scores": entries.q_lm_doc_scores,
        "token_counts": entries.q_token_counts,
        # S5 WARC ingestion end-to-end
        "warc_build_topk": entries.q_warc_topk,
        "lm_probabilities": entries.q_lm_probabilities,
        "hits_rank": entries.q_hits_rank,
        "q1_pricing_summary": entries.q_pricing_summary,
        "q3_top_orders": entries.q_top_orders,
        "window_topn": entries.q_window_topn,
        "sessionize": entries.q_sessionize,
        # core fulltext engine (SURVEY.md §2.2/2.4: T1-T5, A1-A3)
        "global_stats": entries.q_global_stats,
        "term_stats": entries.q_term_stats,
        # postings + exact BM25 (M1/M2, A1/A2/A8)
        "postings_unigram": entries.q_postings_unigram,
        # d-bigram windowed self-join + doc-local pair scoring (J1, T7, M2)
        "postings_dbigram": entries.q_postings_dbigram,
        # separate pair component streams (X2)
        "pair_streams": entries.q_pair_streams,
        # full engine: segments + exact top-k, topk_auto (O6, X1-X10, J6)
        "bm25_topk": entries.q_bm25_topk,
        # compressed segment build invariants (C1/C2, O1-O5, S8)
        "segment_stats": entries.q_segment_stats,
        # augmented d-bigram query model (Q2, J4, X2)
        "bm25_topk_pairs": entries.q_bm25_topk_pairs,
        # J4 exact variant: budget-merged precomputed pair lists
        "pair_budget_index": entries.q_pair_budget_index,
        # term dictionary encode (T3/T4)
        "term_dictionary": entries.q_term_dictionary,
        # query-trace cleaning (Q1) + access map (A5)
        "query_trace_clean": entries.q_query_trace_clean,
        "access_map": entries.q_access_map,
        # dedup family (training-data ops)
        "minhash_signatures": entries.q_minhash_signatures,
        "lsh_candidate_pairs": entries.q_lsh_candidate_pairs,
        "ngram_jaccard": entries.q_ngram_jaccard,
        # text analysis
        "quality_score": entries.q_quality_score,
        # multimodal plumbing
        "mm_extract": entries.q_mm_extract,
        "frame_sample": entries.q_frame_sample,
        "mm_features": entries.q_mm_features,
        # similarity search over embeddings
        "ann_lsh_topk": entries.q_ann_lsh_topk,
        "ann_ivf_topk": entries.q_ann_ivf_topk,
        "ann_pq_codes": entries.q_ann_pq_codes,
        "ann_pq_adc_topk": entries.q_ann_pq_adc_topk,
        "ann_ivfpq_codes": entries.q_ann_ivfpq_codes,
        "ann_ivfpq_topk": entries.q_ann_ivfpq_topk,
        "dedup_embedding": entries.q_dedup_embedding,
        # near-dup clustering + Gopher rules (textops.py)
        "dedup_clusters": entries.q_dedup_clusters,
        "gopher_rules": entries.q_gopher_rules,
        # event analytics (relops.py)
        "events_rollup": entries.q_events_rollup,
        "value_percentiles": entries.q_value_percentiles,
        "events_cube": entries.q_events_cube,
        # quality-model training + budgeted top-layer path (Q1-Q8)
        "quality_matrix": entries.q_quality_matrix,
        "toplayer_topk": entries.q_toplayer_topk,
        "online_greedy_topk": entries.q_online_greedy_topk,
        "selection_lookup_topk": entries.q_selection_lookup_topk,
        "lang_id": entries.q_lang_id,
        "fingerprint": entries.q_fingerprint,
        "ann_lsh_buckets": entries.q_ann_lsh_buckets,
        "ann_ivf_cells": entries.q_ann_ivf_cells,
        "ann_cosine_topk": entries.q_ann_cosine_topk,  # rank-only (floats)
        "ann_brute_topk": entries.q_ann_brute_topk,
        # ---- tail (past the 50-entry window): green r01-r04 ----
        "dedup_exact": entries.q_dedup_exact,
        "simhash": entries.q_simhash,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "global_stats": entrysql.sql_global_stats(),
        "term_stats": entrysql.sql_term_stats(),
        "postings_unigram": entrysql.sql_postings_unigram(),
        "postings_dbigram": entrysql.sql_postings_dbigram(),
        "pair_streams": entrysql.sql_pair_streams(),
        "bm25_topk": entrysql.sql_bm25_topk(),
        "warc_build_topk": entrysql.sql_warc_topk(),
        "segment_stats": entrysql.sql_segment_stats(),
        "bm25_topk_pairs": entrysql.sql_bm25_topk_pairs(),
        "pair_budget_index": entrysql.sql_pair_budget_index(
            entries.PAIR_BUDGET),
        "term_dictionary": entrysql.sql_term_dictionary(),
        "query_trace_clean": entrysql.sql_query_trace_clean(),
        "access_map": entrysql.sql_access_map(),
        "dedup_exact": entrysql.sql_dedup_exact(),
        "minhash_signatures": entrysql.sql_minhash_signatures(),
        "lsh_candidate_pairs": entrysql.sql_lsh_candidate_pairs(),
        "simhash": entrysql.sql_simhash(),
        "ngram_jaccard": entrysql.sql_ngram_jaccard(),
        "lang_id": entrysql.sql_lang_id(),
        "quality_score": entrysql.sql_quality_score(),
        "token_counts": entrysql.sql_token_counts(),
        "fingerprint": entrysql.sql_fingerprint(),
        "mm_extract": entrysql.sql_mm_extract(),
        "mm_features": entrysql.sql_mm_features(),
        "frame_sample": entrysql.sql_frame_sample(),
        "ann_brute_topk": entrysql.sql_ann_brute_topk(),
        "ann_lsh_buckets": entrysql.sql_ann_lsh_buckets(),
        "ann_lsh_topk": entrysql.sql_ann_lsh_topk(),
        "ann_ivf_cells": entrysql.sql_ann_ivf_cells(),
        "ann_ivf_topk": entrysql.sql_ann_ivf_topk(),
        "ann_pq_codes": entrysql.sql_ann_pq_codes(),
        "ann_pq_adc_topk": entrysql.sql_ann_pq_adc_topk(),
        "ann_ivfpq_codes": entrysql.sql_ann_ivfpq_codes(),
        "ann_ivfpq_topk": entrysql.sql_ann_ivfpq_topk(),
        "ann_cosine_topk": entrysql.sql_ann_cosine_topk(),
        "dedup_embedding": entrysql.sql_dedup_embedding(),
        "dedup_clusters": entrysql.sql_dedup_clusters(),
        "gopher_rules": entrysql.sql_gopher_rules(),
        "events_rollup": entrysql.sql_events_rollup(),
        "value_percentiles": entrysql.sql_value_percentiles(),
        "events_cube": entrysql.sql_events_cube(),
        "quality_matrix": entrysql.sql_quality_matrix(),
        "toplayer_topk": entrysql.sql_toplayer_topk(),
        "online_greedy_topk": entrysql.sql_online_greedy_topk(
            entries.ONLINE_BUDGET, entries.ONLINE_CLASS_BOUNDARIES,
            entries.ONLINE_CLASS_NUMS),
        "selection_lookup_topk": entrysql.sql_selection_lookup_topk(
            entries.ONLINE_BUDGET, entries.ONLINE_CLASS_BOUNDARIES,
            entries.ONLINE_CLASS_NUMS),
        "lm_probabilities": entrysql.sql_lm_probabilities(LM_SCALE),
        "lm_doc_scores": entrysql.sql_lm_doc_scores(LM_LOG_SCALE),
        "hits_rank": entrysql.sql_hits_rank(),
        "q1_pricing_summary": entrysql.sql_pricing_summary(),
        "q3_top_orders": entrysql.sql_top_orders(),
        "window_topn": entrysql.sql_window_topn(),
        "sessionize": entrysql.sql_sessionize(),
        # ann_cosine_topk is rank-only (the float cos value is
        # fp-summation-order dependent by nature)
    }
