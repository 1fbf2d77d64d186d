#!/usr/bin/env python3
"""Query entrypoint (E2 of SURVEY.md §3; reference analogue
`python3 invertedIndex.py <runId> -q ddd qqq k topics docs out`).

    python3 query.py --index /tmp/idx --query "spark join" --k 10
    python3 query.py --index /tmp/idx --topics topics.tsv \
        --trec-out results.txt

--topics is a TSV of `qid<TAB>title` lines (the reference's topic file
equivalent). The default --mode auto serves exact BM25 through
`topk_auto`, an exhaustive scan of the query terms' posting blocks
(rank/score-identical to plain BM25, property-gated); the other modes
are different rankings. Output: qid doc_id rank score (+
TREC run file with --trec-out, format `qid 0 docid rank score runId`,
reference src/invertedIndex.py:293-296).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(description="Top-k BM25 query")
    ap.add_argument("--index", required=True, help="build output directory")
    ap.add_argument("--query", action="append", default=[],
                    help="query title (repeatable); qid auto-assigned")
    ap.add_argument("--topics", help="TSV file of qid<TAB>title")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--mode",
                    choices=("auto", "taat-bounded", "phrase",
                             "near", "lm", "prefix", "suffix", "infix",
                             "fuzzy", "suggest", "mlt"),
                    default="auto",
                    help="auto (default) = exact BM25 over the query "
                         "terms' posting blocks; taat-bounded = "
                         "accumulator-bounded approximate BM25; phrase/near "
                         "need an index "
                         "built with --positional; phrase treats each title "
                         "as an exact phrase, near as a NEAR/W term bag; "
                         "lm = query-likelihood (Dirichlet) ranking; prefix "
                         "treats each title token as a trailing wildcard; "
                         "suffix treats each title token as a leading "
                         "wildcard (*fix, reversed-dictionary join); "
                         "fuzzy = decay-weighted edit-distance expansion; "
                         "suggest = did-you-mean per query term; mlt = "
                         "more-like-this (each title token is a seed doc_id)")
    ap.add_argument("--acc-budget", type=int, default=200,
                    help="taat-bounded mode: cumulative-df accumulator "
                         "budget (Moffat-Zobel continue strategy)")
    ap.add_argument("--route", type=int, default=0, metavar="M",
                    help="also print CORI shard routing: top-M of "
                         "--route-shards shards per query (ROUTE lines)")
    ap.add_argument("--route-shards", type=int, default=8)
    ap.add_argument("--route-topical", action="store_true",
                    help="route over topical (k-means signature) shards "
                         "instead of doc_id %% n — the selective-search "
                         "layout (recall ≥0.9 at top-m=2, BASELINE.md); "
                         "implied (via the committed id-range bounds, "
                         "zero-join) when the index was built with "
                         "--topical-shards")
    ap.add_argument("--route-serve", action="store_true",
                    help="with --route M: serve the route-then-score "
                         "BM25 ranking (only the top-M shards scored) "
                         "instead of the monolithic one; --mode auto "
                         "only, no --rescore")
    ap.add_argument("--near-window", type=int, default=None,
                    help="NEAR window in tokens (default conf.NEAR_WINDOW)")
    ap.add_argument("--trec-out", help="write TREC run lines here")
    ap.add_argument("--expand", action="store_true",
                    help="join doc_map to show (conv_id, turn_idx)")
    ap.add_argument("--run-id", default="spark-bm25")
    ap.add_argument("--count", action="store_true",
                    help="print a COUNT qid n_any n_all header per query "
                         "(docs matching any / all terms) before the hits")
    ap.add_argument("--rescore", type=int, default=0, metavar="N",
                    help="two-phase retrieval (BM25 modes): rescore the "
                         "top-N window with a min-pairwise-term-distance "
                         "proximity boost from the positional index "
                         "(needs a --positional build)")
    ap.add_argument("--significant", action="store_true",
                    help="print SIGTERM qid term fg_df bg_df score rank "
                         "lines: top significant (JLH) terms of each "
                         "query's candidate set")
    ap.add_argument("--explain", action="store_true",
                    help="print an EXPLAIN qid doc term tf df idf sat "
                         "partial line per scored term of each hit "
                         "(BM25 modes)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    # flag combinations that cannot be honoured fail before a JVM starts
    if (args.route_serve or args.route_topical) and not args.route:
        ap.error("--route-serve/--route-topical require --route M")
    if args.route_serve and (args.rescore or args.mode != "auto"):
        ap.error(f"--route-serve replaces the ranking with routed BM25; "
                 f"it cannot serve --mode {args.mode}"
                 + (" with --rescore" if args.rescore else ""))

    from search_engine_spark.operators.query import (query_terms_df,
                                                     trec_export)
    from search_engine_spark.plans.build_driver import open_index
    from search_engine_spark.session import get_spark

    queries: list[tuple[str, str]] = []
    if args.topics:
        with open(args.topics, encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if line:
                    qid, title = line.split("\t", 1)
                    queries.append((qid, title))
    for i, q in enumerate(args.query):
        queries.append((f"q{i + 1:03d}", q))
    if not queries:
        ap.error("need --query or --topics")

    # with --rescore N the phase-1 retrieval must return the full
    # rescore window, not just the final page
    k_eff = max(args.k, args.rescore) if args.rescore else args.k
    spark = get_spark(app="index-query", cpus=args.cpus)
    spark.sparkContext.setLogLevel("WARN")
    ix = open_index(spark, args.index)
    qterms = query_terms_df(spark, queries)
    if args.mode in ("phrase", "near"):
        from search_engine_spark.conf import NEAR_WINDOW
        from search_engine_spark.operators.positional import (
            phrase_bm25_topk, phrase_query_terms_df, phrase_terms_df)
        from search_engine_spark.operators.proximity import (
            near_bm25_topk, near_query_terms_df)
        if args.mode == "phrase":
            ph = phrase_terms_df(spark, queries)
            pos = ix.positional_pruned(ph)
            res = phrase_bm25_topk(ix.term_counts, ix.doc_stats,
                                   ix.term_stats, pos, ph,
                                   phrase_query_terms_df(spark, queries),
                                   ix.n_docs, ix.avgdl, k=k_eff)
        else:
            nq = near_query_terms_df(spark, queries)
            pos = ix.positional_pruned(nq)
            res = near_bm25_topk(ix.term_counts, ix.doc_stats, ix.term_stats,
                                 pos, nq, qterms, ix.n_docs, ix.avgdl,
                                 window=args.near_window or NEAR_WINDOW,
                                 k=k_eff)
        res = res.drop("phrase_tf", "min_gap")
    elif args.mode == "lm":
        from pyspark.sql import functions as F
        from search_engine_spark.operators.lm import lm_dirichlet_topk
        total = int(ix.doc_stats.agg(F.sum("dl")).collect()[0][0])
        res = lm_dirichlet_topk(ix.term_counts, ix.doc_stats, ix.term_stats,
                                qterms, total, k=k_eff)
    elif args.mode == "prefix":
        from search_engine_spark.operators.wildcard import (prefix_query_df,
                                                            prefix_topk)
        pq = prefix_query_df(spark, queries)
        res = prefix_topk(ix.term_counts, ix.doc_stats, ix.term_stats, pq,
                          ix.n_docs, ix.avgdl, k=k_eff)
    elif args.mode == "suffix":
        from search_engine_spark.operators.wildcard import (suffix_query_df,
                                                            suffix_topk)
        sq = suffix_query_df(spark, queries)
        res = suffix_topk(ix.term_counts, ix.doc_stats, ix.term_stats, sq,
                          ix.n_docs, ix.avgdl, k=k_eff)
    elif args.mode == "infix":
        from search_engine_spark.operators.wildcard import (infix_query_df,
                                                            infix_topk)
        iq = infix_query_df(spark, queries)
        res = infix_topk(ix.term_counts, ix.doc_stats, ix.term_stats, iq,
                         ix.n_docs, ix.avgdl, k=k_eff)
    elif args.mode == "fuzzy":
        from search_engine_spark.operators.fuzzy import (fuzzy_bm25_topk,
                                                         fuzzy_query_terms_df)
        fq = fuzzy_query_terms_df(spark, queries)
        res = fuzzy_bm25_topk(ix.term_counts, ix.doc_stats, ix.term_stats,
                              fq, ix.n_docs, ix.avgdl, k=k_eff)
    elif args.mode == "suggest":
        from search_engine_spark.operators.fuzzy import (fuzzy_query_terms_df,
                                                         suggest_terms)
        fq = fuzzy_query_terms_df(spark, queries)
        rows = (suggest_terms(ix.term_stats, fq)
                .orderBy("qid", "qterm").collect())
        for r in rows:
            print(f"{r.qid}\t{r.qterm}\t{r.suggestion}\t{r.dist}\t{r.df}")
        spark.stop()
        return
    elif args.mode == "mlt":
        from search_engine_spark.operators.mlt import more_like_this
        seeds = [int(tok) for _, title in queries for tok in title.split()]
        rows = (more_like_this(ix.term_counts, ix.term_stats, seeds,
                               ix.n_docs, k=k_eff)
                .orderBy("seed_id", "rank").collect())
        for r in rows:
            print(f"{r.seed_id}\t{r.doc_id}\t{r.rank}\t{r.score}")
        spark.stop()
        return
    elif args.mode == "taat-bounded":
        from search_engine_spark.operators.query import taat_bounded_topk
        res = taat_bounded_topk(ix.term_counts, ix.doc_stats, ix.term_stats,
                                qterms, ix.n_docs, ix.avgdl,
                                acc_budget=args.acc_budget, k=k_eff)
    else:
        from search_engine_spark.operators.wand import topk_auto
        res = topk_auto(ix.postings_blocked(qterms), qterms, ix.n_docs,
                        ix.avgdl, k=k_eff)
    if args.rescore:
        if ix.positional is None:
            ap.error("--rescore needs an index built with --positional")
        from search_engine_spark.operators.rescore import rescore_topk
        res = rescore_topk(res.select("qid", "doc_id", "score"),
                           ix.positional_pruned(qterms), qterms,
                           k=args.k, window=args.rescore)
        res = res.drop("base_score")
    if args.route:
        from search_engine_spark.operators.shards import (cori_select,
                                                          routed_topk,
                                                          shard_stats,
                                                          topical_shard_map)
        n_sh = args.route_shards
        if ix.topical is not None:
            # topical-layout build: shard derives from the reassigned
            # doc-id RANGE (topical_bounds.json) — zero joins, no
            # recomputation; --route-shards is ignored in favor of the
            # build's own shard count
            n_sh = ix.topical[0]
            smap = ix.topical_shard_col()
        elif args.route_topical:
            # ad-hoc topical routing over a non-topical build: compute
            # the k-means signature map on the fly (build-time cost)
            smap = topical_shard_map(ix.term_counts, ix.doc_stats,
                                     ix.term_stats, ix.n_docs,
                                     n_shards=n_sh)
        else:
            smap = None
        tsh, ssz = shard_stats(ix.term_counts, ix.doc_stats,
                               n_shards=n_sh, shard_of=smap)
        sel = cori_select(tsh, ssz, qterms, n_shards=n_sh,
                          top_m=args.route)
        for r in sel.orderBy("qid", "rank").collect():
            print(f"ROUTE\t{r.qid}\t{r.shard_id}\t{r.rank}\t{r.score}")
        if args.route_serve:
            # selective-search serving: REPLACE the monolithic result
            # with the route-then-score ranking (top-m shards only)
            res = routed_topk(ix.term_counts, ix.doc_stats, ix.term_stats,
                              qterms, ix.n_docs, ix.avgdl, n_shards=n_sh,
                              top_m=args.route, k=args.k, shard_of=smap)
    if args.significant:
        from search_engine_spark.operators.facets import significant_terms
        sig = significant_terms(ix.term_counts, ix.term_stats, qterms,
                                ix.n_docs, k=10)
        for r in sig.orderBy("qid", "rank").collect():
            print(f"SIGTERM\t{r.qid}\t{r.term}\t{r.fg_df}\t{r.bg_df}"
                  f"\t{r.score}\t{r.rank}")
    if args.count:
        from search_engine_spark.operators.query import hit_counts
        for r in hit_counts(ix.term_counts, qterms).orderBy("qid").collect():
            print(f"COUNT\t{r.qid}\t{r.n_any}\t{r.n_all}")
    if args.expand:
        from search_engine_spark.operators.query import expand_results
        rows = expand_results(res, ix.doc_map).orderBy("qid", "rank").collect()
        for r in rows:
            print(f"{r.qid}\t{r.doc_id}\t{r.conv_id}\t{r.turn_idx}\t{r.rank}\t{r.score}")
    else:
        rows = res.orderBy("qid", "rank").collect()
        for r in rows:
            print(f"{r.qid}\t{r.doc_id}\t{r.rank}\t{r.score}")
    if args.explain:
        from search_engine_spark.operators.query import bm25_explain
        ex = bm25_explain(ix.term_counts, ix.doc_stats, ix.term_stats,
                          qterms, ix.n_docs, ix.avgdl, res)
        for r in ex.orderBy("qid", "doc_id", "term").collect():
            print(f"EXPLAIN\t{r.qid}\t{r.doc_id}\t{r.term}\t{r.tf}\t{r.df}"
                  f"\t{r.idf}\t{r.sat}\t{r.partial}")
    if args.trec_out:
        lines = [r.line for r in
                 trec_export(res, run_id=args.run_id).orderBy("line").collect()]
        with open(args.trec_out, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
