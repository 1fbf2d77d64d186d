"""Language-model (query-likelihood) ranking with Dirichlet smoothing.

score(q, d) = Σ_{t∈q} qtf · ln p(t|d),   p(t|d) = (tf + μ·p(t|C)) / (dl + μ)

computed in the standard rank-equivalent sparse form (Zhai & Lafferty,
SIGIR 2001): only matched (term, doc) pairs contribute

    qtf · ln(1 + tf·C / (μ·cf))

and the doc-only constant  qlen · ln(μ / (dl + μ))  is added once per
candidate doc. The result is RANK-EQUIVALENT to the full Dirichlet
query log-likelihood — the doc-independent term Σ qtf·ln p(t|C) is
dropped, so scores are not comparable across formulations (they are
not true log-probabilities) — without materializing tf = 0 pairs. Candidate set =
docs matching ≥1 query term, the same convention as the BM25/SMART
scorers here; query terms absent from the collection drop out exactly
like the reference's dictionary-miss path
(/root/reference/src/invertedIndex.py:260-261).

Scale shape: the per-(qid, doc) aggregation happens BEFORE the
doc-length join, so the big per-doc table joins against the already
collapsed candidate set rather than the raw hit stream; both the query
dictionary (term → cf) and the per-qid length are broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..conf import LM_JM_LAMBDA, LM_MU, TOP_K_DEFAULT
from .query import _scores, _topk


def lm_dirichlet_scores(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                        qterms: DataFrame, total_tokens: int,
                        mu: float = LM_MU) -> DataFrame:
    """(qid, doc_id, score) — the full (unrounded, un-ranked)
    Dirichlet-QL candidate relation; lm_dirichlet_topk is _topk over
    this, and feature extractors (LTR) consume it directly.
    ``total_tokens`` is the collection length C = Σ dl (a
    driver-known long, exact in double for any realistic corpus).

    The arithmetic is spelled in one fixed operation order —
    ``tf · C / (μ · cf)`` and ``μ / (dl + μ)`` — so the DuckDB oracle
    and a pure-Python check run the bit-identical double sequence
    before the 6-dp rounding that pins the rank order.
    """
    c = F.lit(float(total_tokens))
    m = F.lit(float(mu))
    qdict = F.broadcast(qterms.join(tstats.select("term", "cf"), "term", "inner"))
    qlen = F.broadcast(
        qdict.groupBy("qid").agg(F.sum("qtf").cast("double").alias("qlen")))
    partial = F.col("qtf") * F.log(
        F.lit(1.0)
        + F.col("tf").cast("double") * c / (m * F.col("cf").cast("double")))
    matched = (
        tc.join(qdict, "term", "inner")
        .select("qid", "doc_id", partial.alias("partial"))
        .groupBy("qid", "doc_id")
        .agg(F.sum("partial").alias("_s"))
    )
    scored = (
        matched.join(ds.select("doc_id", "dl"), "doc_id")
        .join(qlen, "qid")
        .select(
            "qid", "doc_id",
            (F.col("_s")
             + F.col("qlen") * F.log(m / (F.col("dl").cast("double") + m)))
            .alias("score"))
    )
    return scored


def lm_dirichlet_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                      qterms: DataFrame, total_tokens: int,
                      mu: float = LM_MU, k: int = TOP_K_DEFAULT) -> DataFrame:
    """Top-k query-likelihood ranking (see lm_dirichlet_scores for the
    arithmetic and plan shape)."""
    return _topk(lm_dirichlet_scores(tc, ds, tstats, qterms,
                                     total_tokens, mu=mu), k)


def lm_jm_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
               qterms: DataFrame, total_tokens: int,
               lam: float = LM_JM_LAMBDA, k: int = TOP_K_DEFAULT) -> DataFrame:
    """Top-k query likelihood with Jelinek-Mercer (fixed-coefficient)
    smoothing — p(t|d) = (1-λ)·tf/dl + λ·cf/C — the second classic
    smoother of Zhai & Lafferty (SIGIR 2001) next to Dirichlet.

    Rank-equivalent sparse form: only matched (term, doc) pairs score

        qtf · ln(1 + ((1-λ)/λ) · (tf · C) / (dl · cf))

    and, unlike Dirichlet, there is NO doc-dependent constant — the
    dropped Σ qtf·ln(λ·cf/C) is fully doc-independent — so the
    candidate relation needs only one extra broadcast-side column
    (dl). Scores are rank-equivalent to the full log-likelihood, not
    log-probabilities.

    The odds ratio (1-λ)/λ is frozen to one Python double before the
    plan is built, and the operation order — ratio · (tf·C) / (dl·cf)
    — is spelled identically in the DuckDB oracle, so both engines run
    the same double sequence before the 6-dp rounding.

    Scale shape: identical to pl2/bm25 — the huge tc relation is
    pruned FIRST by the broadcast query dictionary, then the pruned
    candidate stream joins doc_stats for dl; one map-side-combined
    per-(qid, doc) sum, WindowGroupLimit top-k. No new shuffle
    classes (the per-pair ln needs dl, so the dl join must precede
    the collapse here, unlike the Dirichlet scorer).
    """
    ratio = (1.0 - float(lam)) / float(lam)
    c = F.lit(float(total_tokens))
    qdict = F.broadcast(qterms.join(tstats.select("term", "cf"), "term", "inner"))
    hits = (tc.join(qdict, "term", "inner")
            .join(ds.select("doc_id", "dl"), "doc_id", "inner"))
    partial = F.col("qtf") * F.log(
        F.lit(1.0)
        + F.lit(ratio) * (F.col("tf").cast("double") * c)
        / (F.col("dl").cast("double") * F.col("cf").cast("double")))
    return _topk(_scores(hits, partial), k)
