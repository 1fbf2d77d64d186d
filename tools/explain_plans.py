"""Dump the physical plans of the headline queries to PLANS.md with the
scale-relevant evidence highlighted: PushedFilters / ReadSchema at the
parquet scans (predicate pushdown + column pruning), BroadcastHashJoin
for the dictionary joins, exchange count, and WholeStageCodegen spans.

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

HEADLINE = ["bm25_topk", "bm25_topk_conj",
            "term_stats", "doc_stats",
            "phrase_topk", "near_topk", "fuzzy_topk", "prf_topk", "snippets",
            "bm25_topk_not", "lm_topk", "prefix_topk", "collocations",
            "lsh_candidates", "embedding_lsh_topk", "sessionize",
            "positions_persisted", "bm25f_topk", "quantized_topk",
            "facet_counts", "collapse_topk", "synonym_topk", "boosted_topk",
            "bigram_phrase", "hit_counts", "more_like_this", "ordered_near",
            "filtered_topk", "search_after", "decontaminate",
            "doc_perplexity",
            "repetition_stats", "pii_scrub", "conv_context",
            "chunk_docs", "hybrid_topk", "textrank_terms",
            "significant_terms", "percolate", "rescore_topk",
            "date_histogram", "pl2_topk", "regex_match", "burst_events",
            "dl_percentiles", "bm25_topk_upsert", "term_assoc",
            "doc_keywords", "lm_jm_topk", "bm25plus_topk",
            "ltr_features", "grouped_topk", "resharded_postings",
            "dsl_topk", "bm25_topk_stemmed", "combsum_topk", "mmr_topk",
            "rbo_eval", "mixture_sample", "span_first", "sdm_topk",
            "pruned_postings", "pruned_topk",
            "conv_stats", "role_transitions", "conv_topk",
            "reply_latency", "gopher_filter", "filter_funnel",
            "bigram_perplexity",
            "hll_registers", "hll_distinct", "cms_heavy_hitters",
            "bloom_prune", "hard_negatives",
            "conv_dedup", "suffix_topk", "segment_queries",
            "batch_drift", "split_assign", "recency_topk",
            "winnow_fingerprints", "containment_pairs", "token_entropy",
            "zipf_slope", "shard_select", "taat_bounded_topk", "scatter_gather_topk", "reassigned_postings", "corpus_diff", "index_checksums", "run_sigtest", "quantile_sketch", "routed_topk", "routing_recall", "taat_recall", "auto_stopwords", "nb_classify", "infix_terms", "infix_topk", "topical_shards", "routed_topk_topical", "media_png_features", "media_au_features", "iprec_eval"]


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> list[str]:
    out = []
    n_ex = len(re.findall(r"\bExchange\b", plan))
    n_bc = len(re.findall(r"BroadcastHashJoin", plan))
    n_smj = len(re.findall(r"SortMergeJoin", plan))
    n_wsc = len(re.findall(r"WholeStageCodegen", plan))
    out.append(f"- exchanges: {n_ex}, broadcast joins: {n_bc}, "
               f"sort-merge joins: {n_smj}, codegen spans: {n_wsc}")
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.append(f"- pushed filters: [{m.group(1)}]")
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.append(f"- partition filters: [{m.group(1)[:120]}]")
    for m in re.finditer(r"ReadSchema: (struct<[^\n]*)", plan):
        out.append(f"- read schema: {m.group(1)[:120]}")
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e
    from search_engine_spark.session import get_spark
    spark = get_spark(app="plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    # the full individual registry: HEADLINE names the per-operator
    # relations, not the driver-facing composite bundles
    from search_engine_spark.entry_queries import QUERIES_ALL as qs
    lines = ["# PLANS — physical-plan evidence for the headline queries",
             "",
             f"Generated by `python tools/explain_plans.py {sf_dir}`. For each",
             "query: exchange/broadcast/codegen counts, pushed filters and",
             "pruned read schemas at the parquet scans, then the full",
             "`explain('formatted')` output.",
             "",
             "Note on sort-merge joins: plans that build the blocked index",
             "may show a STATIC SMJ, wrapped in AdaptiveSparkPlan (AQE",
             "broadcast-converts it at runtime when small, and skew-splits it",
             "when not), inside the CACHED one-time index build — the round-3",
             "replacement of the per-term run-directory window (a",
             "single-reducer hazard for stopword terms at 10^12 docs) with a",
             "two-level aggregate re-joined on narrow `term`/(term, _salt)",
             "rows; per-term totals outgrow any broadcast at web scale, and a",
             "shuffled join is skew-splittable where a window is not.", ""]
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        plan = plan_text(df)
        lines.append(f"## {name}\n")
        lines.extend(summarize(plan))
        lines.append("\n```\n" + plan.strip() + "\n```\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
