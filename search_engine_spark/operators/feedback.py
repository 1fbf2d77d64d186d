"""Pseudo-relevance feedback (Rocchio-style query expansion).

The reference runs single-pass retrieval (src/invertedIndex.py:226-291);
the classic second stage layered on exactly that output is blind
feedback: take the first-pass top documents as pseudo-relevant,
mine their strongest terms, and rescore with the expanded query.

Semantics (frozen so Spark / DuckDB / Python oracles agree bit-wise)
--------------------------------------------------------------------
1. First pass: BM25 top ``fb_docs`` per query (pinned tie order).
2. Candidate weight per (qid, term) over the feedback docs:
       w = round(idf(term) * sum_d(tf_td / dl_d), 6)
   i.e. Rocchio tf-idf with length-normalized tf; rounding before the
   rank makes cross-engine float ties resolve identically.
3. Expansion set: top ``fb_terms`` NEW terms (original query terms
   excluded) by (w DESC, term ASC).
4. Second pass: original terms keep weight qtf; expansion terms get
   ``beta * w / max_w`` (max over the query's expansion set), then the
   same BM25 TAAT aggregate scores the union.

Plan shape
----------
The first pass is the existing broadcast-dictionary TAAT top-k. The
feedback-doc set is queries x fb_docs rows — broadcast it back against
tc, so candidate mining touches only the postings of feedback docs
(partition-prunable by doc_id at scale). The expansion set is
queries x fb_terms rows — broadcast again for the second pass. No new
shuffle shape appears at any corpus size; both passes are the same
bm25 plan the engine already runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conf import (BM25_B, BM25_K1, PRF_BETA, PRF_FB_DOCS, PRF_FB_TERMS,
                    TOP_K_DEFAULT)
from .query import (SCORE_DECIMALS, _bm25_idf, _scores, _topk, bm25_partial,
                    bm25_topk)


def prf_expansion_terms(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                        qterms: DataFrame, n_docs: int, avgdl: float,
                        fb_docs: int = PRF_FB_DOCS,
                        fb_terms: int = PRF_FB_TERMS,
                        k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """(qid, term, w, rank) — the top ``fb_terms`` expansion terms per
    query mined from the first-pass top ``fb_docs`` documents."""
    fb = (
        bm25_topk(tc, ds, tstats, qterms, n_docs, avgdl,
                  k=fb_docs, k1=k1, b=b)
        .select("qid", "doc_id")
    )
    cand = (
        tc.join(F.broadcast(fb), "doc_id")
        .join(ds.select("doc_id", "dl"), "doc_id")
        .groupBy("qid", "term")
        .agg(F.sum(F.col("tf").cast("double") / F.col("dl")).alias("s"))
        .join(tstats.select("term", "df"), "term")
        .select(
            "qid", "term",
            F.round(_bm25_idf(F.col("df").cast("double"), n_docs)
                    * F.col("s"), SCORE_DECIMALS).alias("w"),
        )
        .join(qterms.select("qid", "term"), ["qid", "term"], "left_anti")
    )
    win = Window.partitionBy("qid").orderBy(F.desc("w"), F.asc("term"))
    return (
        cand.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= fb_terms)
    )


def bm25_prf_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                  qterms: DataFrame, n_docs: int, avgdl: float,
                  fb_docs: int = PRF_FB_DOCS, fb_terms: int = PRF_FB_TERMS,
                  beta: float = PRF_BETA, k: int = TOP_K_DEFAULT,
                  k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Second-pass BM25 over the expanded query: original terms at
    weight qtf, expansion terms at ``beta * w / max_w`` (per query).
    Same broadcast TAAT shape as bm25_topk — the expanded query table
    is still queries x (terms + fb_terms) rows."""
    exp = prf_expansion_terms(tc, ds, tstats, qterms, n_docs, avgdl,
                              fb_docs=fb_docs, fb_terms=fb_terms,
                              k1=k1, b=b)
    maxw = Window.partitionBy("qid")
    expw = (
        exp.withColumn("qw", F.lit(float(beta)) * F.col("w")
                       / F.max("w").over(maxw))
        .select("qid", "term", "qw")
    )
    allq = qterms.select(
        "qid", "term", F.col("qtf").cast("double").alias("qw")
    ).unionByName(expw)

    qdict = F.broadcast(allq.join(tstats.select("term", "df"), "term"))
    hits = tc.join(qdict, "term", "inner").join(
        ds.select("doc_id", "dl"), "doc_id")
    return _topk(_scores(hits, bm25_partial(n_docs, avgdl, k1, b, qw="qw")), k)
