"""Composite correctness-gate bundles.

The driver's per-round CORRECTNESS artifact records a bounded prefix of
the registry (50 gates in rounds 3-4), so a 192-gate registry needs ~4
rounds to cycle through the rotation. These bundles consolidate every
gate NOT covered by the round-4 artifact into ~14 composite relations
(one per operator family) so the whole registry fits comfortably inside
one artifact prefix and every relation is value-verified at least every
two rounds (VERDICT r4, next-round item 1).

A bundle is the unionByName of its member relations, each canonicalized
to one fixed slot schema:

    (gate: string, s1..s6: string, i1..i8: bigint, d1..d4: double)

Member columns are assigned to slots by a STATIC mapping (MEMBER_SLOTS,
precomputed from the members' oracle schemas and committed here):
columns sorted by name, then dealt into the s/i/d slot families by
type. The DuckDB oracle for a bundle is generated from the SAME mapping
(UNION ALL of the members' oracle SQL wrapped in slot projections), so
the value comparison stays exactly as strict as the 140 individual
gates it replaces: every member row is still hash-compared, the `gate`
column keeps members disjoint, and a schema drift in either engine
fails the gate instead of slipping through.

Slot typing notes (why the comparison stays exact):
- integer-ish member columns cast to BIGINT on both sides (widening);
- fractional columns stay DOUBLE end-to-end (DECIMAL oracle columns
  cast to DOUBLE, matching the Spark double the member already
  produced — members passed the string-equality compare individually,
  so the printed reprs coincide);
- booleans cast to string 'true'/'false' identically in both engines;
- unused slots are typed NULLs on both sides.

Members remain individually runnable via QUERIES_ALL (tooling, tests);
the driver-facing QUERIES exposes the bundles plus the round-4-covered
gates under their original names.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# slot families: (count, spark cast type, duckdb cast type)
SLOT_FAMILIES = {"s": (6, "string", "VARCHAR"),
                 "i": (8, "long", "BIGINT"),
                 "d": (4, "double", "DOUBLE")}

ALL_SLOTS = [f"{fam}{i}"
             for fam, (n, _, _) in SLOT_FAMILIES.items()
             for i in range(1, n + 1)]

# bundle -> member gates (one bundle per operator family)
BUNDLE_MEMBERS: dict[str, list[str]] = {
    "bundle_index_core": [
        "term_stats",
        "doc_stats",
        "corpus_stats",
        "postings",
        "positions",
        "merged_postings",
        "pack_bins",
        "reassigned_postings",
        "pruned_postings",
        "index_checksums",
        "resharded_postings",
    ],
    "bundle_dictionary": [
        "auto_stopwords",
        "stemmed_term_stats",
        "term_vectors",
        "dl_histogram",
    ],
    "bundle_scoring_bm25": [
        "bm25_topk",
        "bm25_topk_trec",
        "bm25_topk_delta",
        "bm25_topk_stemmed",
        "bm25_topk_conj",
        "bm25_topk_conj_indexed",
        "bm25_topk_not",
        "bm25_topk_auto",
        "bm25_topk_auto_trec",
    ],
    "bundle_scoring_models": [
        "lm_topk",
        "lm_jm_topk",
        "bm25plus_topk",
        "smart_nnc",
        "smart_ltu",
        "smart_lnc_ltc",
        "smart_btn_ltc",
        "smart_npc_ltc",
        "smart_Ltu_nnn",
        "recency_topk",
        "grouped_topk",
    ],
    "bundle_scoring_pruned": [
        "tiered_topk",
        "pruned_topk",
        "pruned_recall",
        "taat_bounded_topk",
        "taat_recall",
        "scatter_gather_topk",
        "routed_topk",
        "routing_recall",
        "shard_select",
    ],
    "bundle_expansion": [
        "fuzzy_terms",
        "fuzzy_topk",
        "prefix_terms",
        "prefix_topk",
        "suffix_terms",
        "suffix_topk",
        "infix_terms",
        "infix_topk",
        "segment_queries",
        "next_word_topk",
    ],
    "bundle_fusion": [
        "rrf_topk",
        "prf_terms",
        "prf_topk",
        "hybrid_topk",
        "combsum_topk",
        "combmnz_topk",
        "sdm_topk",
        "dsl_topk",
        "mmr_topk",
    ],
    "bundle_positional": [
        "phrase_match",
        "phrase_stats",
        "phrase_topk",
        "near_match",
        "near_topk",
        "span_first",
        "snippets",
        "collocations",
        "trec_lines",
    ],
    "bundle_eval": [
        "map_eval",
        "ndcg_eval",
        "map_sweep",
        "p_at_k",
        "err_eval",
        "rbo_eval",
        "run_sigtest",
        "ltr_features",
        "hard_negatives",
    ],
    "bundle_dedup": [
        "dedup_exact",
        "dedup_jaccard",
        "minhash_signatures",
        "lsh_candidates",
        "simhash",
        "simhash_pairs",
        "dedup_kept",
        "containment_pairs",
        "winnow_fingerprints",
        "fingerprints",
        "conv_dedup",
        "lsh_dedup_stream",
    ],
    "bundle_embeddings": [
        "embedding_topk",
        "embedding_lsh_topk",
        "embedding_ivf_topk",
        "embedding_dup_pairs",
        "ann_recall",
        "kmeans_cells",
    ],
    "bundle_textstats": [
        "text_quality",
        "lang_id",
        "token_counts",
        "repetition_stats",
        "token_entropy",
        "zipf_slope",
        "vocab_growth",
        "batch_drift",
        "gopher_filter",
        "filter_funnel",
        "bigram_perplexity",
        "pii_scrub",
    ],
    "bundle_conversations": [
        "conv_stats",
        "role_transitions",
        "tool_stats",
        "reply_latency",
        "conv_topk",
        "conv_context",
        "split_assign",
        "pack_convs",
        "chunk_docs",
        "sessionize",
        "window_counts_stream",
    ],
    "bundle_curation": [
        "stratified_sample",
        "mixture_sample",
        "nb_classify",
        "corpus_diff",
        "hll_registers",
        "hll_distinct",
        "cms_heavy_hitters",
        "bloom_prune",
        "quantile_sketch",
    ],
}

# member gate -> [(column, slot)] — column names sorted, dealt into
# slot families by oracle type; precomputed and committed (STATIC).
MEMBER_SLOTS: dict[str, list[tuple[str, str]]] = {
    "term_stats": [("cf", "i1"), ("df", "i2"), ("term", "s1")],
    "doc_stats": [("ave_tf", "d1"), ("dl", "i1"), ("doc_id", "i2"), ("len_l2", "d2"), ("max_tf", "i3"), ("uniq", "i4")],
    "corpus_stats": [("avgdl", "d1"), ("n_docs", "i1"), ("n_scored", "i2"), ("total_tokens", "i3"), ("vocab", "i4")],
    "postings": [("doc_id", "i1"), ("pos", "i2"), ("term", "s1"), ("tf", "i3")],
    "bm25_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "bm25_topk_trec": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "bm25_topk_auto": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "bm25_topk_auto_trec": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "positions": [("doc_id", "i1"), ("pos", "i2"), ("term", "s1")],
    "phrase_match": [("doc_id", "i1"), ("phrase_tf", "i2"), ("qid", "s1"), ("rank", "i3")],
    "phrase_stats": [("docs_matched", "i1"), ("occurrences", "i2"), ("qid", "s1")],
    "phrase_topk": [("doc_id", "i1"), ("phrase_tf", "i2"), ("qid", "s1"), ("rank", "i3"), ("score", "d1")],
    "near_match": [("doc_id", "i1"), ("min_gap", "i2"), ("n_pairs", "i3"), ("qid", "s1")],
    "near_topk": [("doc_id", "i1"), ("min_gap", "i2"), ("qid", "s1"), ("rank", "i3"), ("score", "d1")],
    "fuzzy_terms": [("df", "i1"), ("dist", "i2"), ("qid", "s1"), ("qterm", "s2"), ("term", "s3")],
    "fuzzy_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "lm_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "prefix_terms": [("df", "i1"), ("prefix", "s1"), ("qid", "s2"), ("qtf", "i2"), ("term", "s3")],
    "prefix_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "rrf_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "stratified_sample": [("doc_id", "i1"), ("lang", "s1")],
    "pack_bins": [("bin_id", "i1"), ("dl", "i2"), ("doc_id", "i3"), ("shard", "i4")],
    "merged_postings": [("df", "i1"), ("doc_id", "i2"), ("term", "s1"), ("tf", "i3")],
    "prf_terms": [("qid", "s1"), ("rank", "i1"), ("term", "s2"), ("w", "d1")],
    "prf_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "snippets": [("doc_id", "i1"), ("n_hits", "i2"), ("qid", "s1"), ("rank", "i3"), ("snippet", "s2"), ("start", "i4")],
    "bm25_topk_not": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "collocations": [("c_ab", "i1"), ("pmi", "d1"), ("t1", "s1"), ("t2", "s2")],
    "trec_lines": [("line", "s1")],
    "bm25_topk_conj": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "bm25_topk_conj_indexed": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "tiered_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "map_eval": [("ap", "d1"), ("n_rel", "i1"), ("n_ret_rel", "i2"), ("qid", "s1")],
    "ndcg_eval": [("n_rel", "i1"), ("ndcg", "d1"), ("qid", "s1")],
    "map_sweep": [("k", "i1"), ("map", "d1"), ("n_queries", "i2"), ("scheme", "s1")],
    "p_at_k": [("p_at_k", "d1"), ("qid", "s1")],
    "smart_nnc": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "smart_ltu": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "smart_lnc_ltc": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "smart_btn_ltc": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "smart_npc_ltc": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "smart_Ltu_nnn": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "dedup_exact": [("canonical_doc_id", "i1"), ("n_dups", "i2"), ("text_md5", "s1")],
    "dedup_jaccard": [("doc_a", "i1"), ("doc_b", "i2"), ("jaccard", "d1")],
    "minhash_signatures": [("doc_id", "i1"), ("h", "i2"), ("minhash", "s1")],
    "lsh_candidates": [("doc_a", "i1"), ("doc_b", "i2")],
    "simhash": [("doc_id", "i1"), ("simhash", "i2")],
    "simhash_pairs": [("doc_a", "i1"), ("doc_b", "i2"), ("hamming", "i3")],
    "embedding_topk": [("cos", "d1"), ("qid", "i1"), ("rank", "i2"), ("vec_id", "i3")],
    "embedding_lsh_topk": [("bucket", "i1"), ("cos", "d1"), ("qid", "i2"), ("rank", "i3"), ("vec_id", "i4")],
    "embedding_ivf_topk": [("cos", "d1"), ("qid", "i1"), ("rank", "i2"), ("vec_id", "i3")],
    "embedding_dup_pairs": [("cos", "d1"), ("vec_a", "i1"), ("vec_b", "i2")],
    "ann_recall": [("n_hit", "i1"), ("qid", "i2"), ("recall", "d1")],
    "dedup_kept": [("doc_id", "i1")],
    "text_quality": [("avg_tok_len", "d1"), ("digit_ratio", "d2"), ("doc_id", "i1"), ("n_chars", "i2"), ("n_tokens", "i3"), ("n_uniq", "i4"), ("quality", "d3"), ("stopword_ratio", "d4")],
    "lang_id": [("cs_ratio", "d1"), ("doc_id", "i1"), ("en_ratio", "d2"), ("lang_pred", "s1")],
    "token_counts": [("doc_id", "i1"), ("re_tokens", "i2"), ("subword_tokens", "i3"), ("uniq_tokens", "i4"), ("ws_tokens", "i5")],
    "fingerprints": [("doc_id", "i1"), ("fp_max", "s1"), ("fp_min", "s2"), ("n_shingles", "i2")],
    "sessionize": [("end_us", "i1"), ("n_events", "i2"), ("sess_no", "i3"), ("start_us", "i4"), ("sum_value", "d1"), ("user_id", "i5")],
    "repetition_stats": [("doc_id", "i1"), ("dup_trigram_frac", "d1"), ("n_tokens", "i2"), ("top_bigram", "i3"), ("top_bigram_frac", "d2"), ("top_unigram", "i4"), ("top_unigram_frac", "d3")],
    "pii_scrub": [("doc_id", "i1"), ("n_email", "i2"), ("n_ipv4", "i3"), ("n_phone", "i4"), ("text", "s1")],
    "conv_context": [("conv_id", "i1"), ("doc_id", "i2"), ("next_text", "s1"), ("prev_text", "s2"), ("qid", "s3"), ("rank", "i3"), ("score", "d1"), ("turn_idx", "i4")],
    "chunk_docs": [("chunk_idx", "i1"), ("chunk_text", "s1"), ("doc_id", "i2"), ("n_chunk_tokens", "i3"), ("start_tok", "i4")],
    "hybrid_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "window_counts_stream": [("event_type", "s1"), ("n", "i1"), ("sum_value", "d1"), ("window_start", "i2")],
    "kmeans_cells": [("cell", "i1"), ("cval", "d1"), ("n_members", "i2"), ("pos", "i3")],
    "bm25_topk_delta": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "vocab_growth": [("ck_pml", "i1"), ("n_docs_prefix", "i2"), ("n_tokens", "i3"), ("vocab", "i4")],
    "lm_jm_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "bm25plus_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "err_eval": [("err", "d1"), ("n_rel", "i1"), ("qid", "s1")],
    "ltr_features": [("bm25", "d1"), ("coverage", "d2"), ("dl", "i1"), ("doc_id", "i2"), ("lm", "d3"), ("max_tf", "i3"), ("n_matched", "i4"), ("qid", "s1"), ("rank", "i5"), ("sum_idf", "d4"), ("sum_tf", "i6")],
    "term_vectors": [("doc_id", "i1"), ("first_pos", "i2"), ("positions", "s1"), ("term", "s2"), ("tf", "i3")],
    "grouped_topk": [("doc_id", "i1"), ("grank", "i2"), ("group", "s1"), ("qid", "s2"), ("score", "d1")],
    "dl_histogram": [("bin", "i1"), ("max_dl", "i2"), ("min_dl", "i3"), ("n_docs", "i4")],
    "resharded_postings": [("cf", "i1"), ("df", "i2"), ("doc_id", "i3"), ("term", "s1"), ("tf", "i4")],
    "dsl_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "stemmed_term_stats": [("cf", "i1"), ("df", "i2"), ("term", "s1")],
    "bm25_topk_stemmed": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "combsum_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "combmnz_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "mmr_topk": [("mmr", "d1"), ("qid", "i1"), ("rank", "i2"), ("vec_id", "i3")],
    "rbo_eval": [("qid", "s1"), ("rbo", "d1")],
    "mixture_sample": [("doc_id", "i1"), ("lang", "s1")],
    "span_first": [("doc_id", "i1"), ("first_pos", "i2"), ("qid", "s1"), ("term", "s2")],
    "sdm_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "pruned_postings": [("doc_id", "i1"), ("term", "s1"), ("tf", "i2")],
    "pruned_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "pruned_recall": [("n_hit", "i1"), ("qid", "s1"), ("recall", "d1")],
    "conv_stats": [("avg_turn_tokens", "d1"), ("conv_id", "i1"), ("duration_s", "i2"), ("n_assistant", "i3"), ("n_tokens", "i4"), ("n_tool", "i5"), ("n_tools", "i6"), ("n_turns", "i7"), ("n_user", "i8")],
    "role_transitions": [("from_role", "s1"), ("n", "i1"), ("to_role", "s2")],
    "tool_stats": [("avg_tokens", "d1"), ("n_calls", "i1"), ("n_convs", "i2"), ("n_tokens", "i3"), ("tool", "s1")],
    "reply_latency": [("avg_gap_s", "d1"), ("conv_id", "i1"), ("max_gap_s", "i2"), ("n_replies", "i3")],
    "conv_topk": [("best_doc_id", "i1"), ("best_score", "d1"), ("conv_id", "i2"), ("conv_score", "d2"), ("n_turns_scored", "i3"), ("qid", "s1"), ("rank", "i4")],
    "gopher_filter": [("avg_word_len", "d1"), ("digit_ratio", "d2"), ("doc_id", "i1"), ("keep", "s1"), ("n_tokens", "i2"), ("ok_awl", "s2"), ("ok_digit", "s3"), ("ok_len", "s4"), ("ok_stop", "s5"), ("ok_uniq", "s6"), ("stop_hits", "i3"), ("uniq_ratio", "d3")],
    "filter_funnel": [("fail_awl", "i1"), ("fail_digit", "i2"), ("fail_len", "i3"), ("fail_stop", "i4"), ("fail_uniq", "i5"), ("keep_rate", "d1"), ("n_docs", "i6"), ("n_keep", "i7")],
    "bigram_perplexity": [("avg_nll", "d1"), ("doc_id", "i1"), ("n_bigrams", "i2"), ("ppl", "d2")],
    "conv_dedup": [("conv_id", "i1"), ("is_keeper", "s1"), ("keeper_conv_id", "i2"), ("n_convs", "i3"), ("n_turns", "i4"), ("sig", "s2")],
    "pack_convs": [("bin_id", "i1"), ("conv_id", "i2"), ("n_tokens", "i3"), ("shard", "i4")],
    "suffix_terms": [("df", "i1"), ("qid", "s1"), ("qtf", "i2"), ("suffix", "s2"), ("term", "s3")],
    "suffix_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "segment_queries": [("n_terms", "i1"), ("qid", "s1"), ("seg_idx", "i2"), ("segment", "s2")],
    "batch_drift": [("batch", "i1"), ("kl", "d1"), ("n_docs", "i2"), ("n_tokens", "i3"), ("top_contrib", "d2"), ("top_term", "s1")],
    "split_assign": [("conv_id", "i1"), ("doc_id", "i2"), ("split", "s1")],
    "recency_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "hard_negatives": [("doc_id", "i1"), ("neg_rank", "i2"), ("qid", "s1"), ("score", "d1")],
    "next_word_topk": [("context", "s1"), ("n", "i1"), ("next_term", "s2"), ("prob", "d1"), ("rank", "i2")],
    "lsh_dedup_stream": [("doc_id", "i1")],
    "hll_registers": [("max_rho", "i1"), ("reg", "i2")],
    "hll_distinct": [("est_raw", "d1"), ("exact_distinct", "i1"), ("harmonic_num", "i2"), ("n_regs_present", "i3"), ("n_zero_regs", "i4")],
    "cms_heavy_hitters": [("cf_true", "i1"), ("cms_est", "i2"), ("term", "s1")],
    "bloom_prune": [("is_member", "s1"), ("term", "s2")],
    "taat_bounded_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "scatter_gather_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "reassigned_postings": [("doc_id", "i1"), ("pos", "i2"), ("term", "s1"), ("tf", "i3")],
    "corpus_diff": [("change", "s1"), ("doc_id", "i1")],
    "index_checksums": [("bucket", "i1"), ("checksum", "i2"), ("n_postings", "i3")],
    "run_sigtest": [("mean_diff", "d1"), ("n_queries", "i1"), ("p_value", "d2"), ("t_stat", "d3")],
    "quantile_sketch": [("n_sample", "i1"), ("q50", "i2"), ("q90", "i3"), ("q99", "i4")],
    "routed_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
    "routing_recall": [("n_overlap", "i1"), ("n_routed", "i2"), ("qid", "s1"), ("recall_at_k", "d1")],
    "taat_recall": [("n_bounded", "i1"), ("n_overlap", "i2"), ("qid", "s1"), ("recall_at_k", "d1")],
    "winnow_fingerprints": [("doc_id", "i1"), ("fp", "i2")],
    "containment_pairs": [("containment", "d1"), ("doc_a", "i1"), ("doc_b", "i2")],
    "token_entropy": [("doc_id", "i1"), ("entropy", "d1"), ("norm_entropy", "d2")],
    "zipf_slope": [("intercept", "d1"), ("n_terms", "i1"), ("slope", "d2")],
    "shard_select": [("qid", "s1"), ("rank", "i1"), ("score", "d1"), ("shard_id", "i2")],
    "auto_stopwords": [("cf", "i1"), ("df", "i2"), ("reason", "s1"), ("term", "s2")],
    "nb_classify": [("doc_id", "i1"), ("pred", "s1"), ("score", "d1")],
    "infix_terms": [("df", "i1"), ("infix", "s1"), ("qid", "s2"), ("term", "s3")],
    "infix_topk": [("doc_id", "i1"), ("qid", "s1"), ("rank", "i2"), ("score", "d1")],
}


def bundle_query_fn(
    bname: str,
    base: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> Callable[[SparkSession, str], DataFrame]:
    """(spark, sf_dir) -> union of the bundle's member relations, each
    projected onto the canonical slot schema via MEMBER_SLOTS."""
    members = BUNDLE_MEMBERS[bname]

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        parts = []
        for g in members:
            df = base[g](spark, sf_dir)
            inv = {slot: col for col, slot in MEMBER_SLOTS[g]}
            sel = [F.lit(g).alias("gate")]
            for slot in ALL_SLOTS:
                cast = SLOT_FAMILIES[slot[0]][1]
                if slot in inv:
                    sel.append(F.col(inv[slot]).cast(cast).alias(slot))
                else:
                    sel.append(F.lit(None).cast(cast).alias(slot))
            parts.append(df.select(*sel))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    fn.__name__ = f"q_{bname}"
    fn.__doc__ = ("Composite gate: union of member relations "
                  + ", ".join(members)
                  + " on the canonical (gate, s*, i*, d*) slot schema.")
    return fn


def bundle_oracle_sql(bname: str, base_sql: dict[str, str]) -> str:
    """DuckDB oracle for a bundle: UNION ALL of the members' oracle SQL,
    wrapped in the same slot projection the Spark side applies."""
    pieces = []
    for g in BUNDLE_MEMBERS[bname]:
        inv = {slot: col for col, slot in MEMBER_SLOTS[g]}
        cols = [f"'{g}' AS gate"]
        for slot in ALL_SLOTS:
            dt = SLOT_FAMILIES[slot[0]][2]
            if slot in inv:
                cols.append(f'CAST("{inv[slot]}" AS {dt}) AS {slot}')
            else:
                cols.append(f"CAST(NULL AS {dt}) AS {slot}")
        pieces.append("SELECT " + ", ".join(cols)
                      + f" FROM ({base_sql[g]})")
    return "\nUNION ALL\n".join(pieces)
