"""Tiered index + fallthrough scoring (SURVEY.md §2.5 R7).

Reference semantics (cosineScoreTiered
/root/reference/src/invertedIndex.py:212-302): two disjoint-field
indexes — tier 0 over <TITLE> terms, tier 1 over <TEXT> terms — built
by the same pipeline run twice (:910-916). A query scores tier 0
first; if it yields fewer than k docs, tier 1 is scored into the SAME
accumulator (the `scores` dict persists across tiers, :230), i.e. a
doc reached in both tiers gets the SUM of its per-tier scores; then
top-k is re-taken.

Transcripts mapping: turns have no title field, so tier 0 = the first
TITLE_TOKENS tokens of the turn (the "title-ish" prefix) and tier 1 =
the remaining tokens — disjoint token ranges, exactly mirroring the
disjoint TITLE/TEXT fields. Each tier keeps its own df/idf and dl
(reference: per-tier index and docLengths dicts, :806-870).

Everything stays declarative: the "if fewer than k" fallthrough is a
HAVING-count semi-join, not a driver-side collect, so one Spark job
serves all queries and Catalyst sees the whole plan (the reference
loops per topic; we batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..conf import BM25_B, BM25_K1, TOP_K_DEFAULT
from ..functions.tokenize import tokens_col
from .index_build import doc_stats, term_stats
from .query import _scores, _topk, bm25_partial

TITLE_TOKENS = 8


def tier_term_counts(docs: DataFrame, tier: int, text_col: str = "text",
                     id_col: str = "doc_id",
                     title_tokens: int = TITLE_TOKENS) -> DataFrame:
    """(doc_id, term, tf) for one tier: tier 0 = first `title_tokens`
    tokens, tier 1 = the rest (disjoint — reference TITLE vs TEXT)."""
    toks = tokens_col(text_col)
    part = (F.slice(toks, 1, title_tokens) if tier == 0
            else F.when(F.size(toks) > title_tokens,
                        F.slice(toks, title_tokens + 1,
                                F.size(toks) - title_tokens))
            .otherwise(F.array().cast("array<string>")))
    return (
        docs.select(F.col(id_col).cast("long").alias("doc_id"), part.alias("toks"))
        .where(F.size("toks") > 0)
        .select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("int").alias("tf"))
    )


def _tier_partials(tc: DataFrame, qterms: DataFrame, n_docs: int,
                   k1: float, b: float) -> DataFrame:
    """Per-(qid, doc) BM25 partial sums within ONE tier, using that
    tier's own df and dl (reference: per-tier index + docLengths).

    doc_stats is built ONCE and serves both the dl join and the avgdl
    aggregate; avgdl rides in as a broadcast 1-row crossJoin (a scalar
    subquery) instead of an eager driver collect, so constructing the
    plan fires no Spark jobs and the tokenize lineage is not recomputed
    per scalar."""
    ds = doc_stats(tc).select("doc_id", "dl")
    ts_ = term_stats(tc).select("term", "df")
    adl = ds.agg(F.coalesce(F.avg("dl"), F.lit(1.0)).alias("_avgdl"))
    qdict = F.broadcast(qterms.join(ts_, "term", "inner"))
    hits = (tc.join(qdict, "term", "inner").join(ds, "doc_id")
            .crossJoin(F.broadcast(adl)))
    return _scores(hits, bm25_partial(n_docs, F.col("_avgdl"), k1, b))


def tiered_topk(docs: DataFrame, qterms: DataFrame, n_docs: int,
                k: int = TOP_K_DEFAULT, k1: float = BM25_K1, b: float = BM25_B,
                title_tokens: int = TITLE_TOKENS) -> DataFrame:
    """Tier-0 scores; qids with < k tier-0 docs fall through to tier 1,
    whose scores MERGE into the accumulator (reference :230,287-291);
    final top-k over the merged scores.

    Each tier's (doc_id, term, tf) relation is reused by the scoring
    join, the tier's doc_stats/term_stats and (for tier 0) the
    fallthrough count — one tokenize pass per tier instead of one per
    consumer. localCheckpoint (not persist) so the materialized RDDs
    are released by the ContextCleaner when the result goes out of
    scope: repeated tiered_topk calls in one session must not
    accumulate executor storage (ADVICE r2)."""
    tc0 = tier_term_counts(docs, 0, title_tokens=title_tokens).localCheckpoint()
    tc1 = tier_term_counts(docs, 1, title_tokens=title_tokens).localCheckpoint()
    s0 = _tier_partials(tc0, qterms, n_docs, k1, b)
    s1 = _tier_partials(tc1, qterms, n_docs, k1, b)
    # fallthrough set: qids tier 0 could not fill (count < k). Includes
    # qids with NO tier-0 hits — they are absent from s0, so start from
    # the query list itself.
    qids = qterms.select("qid").distinct()
    filled = s0.groupBy("qid").agg(F.count("*").alias("n0"))
    need = (qids.join(filled, "qid", "left")
            .where(F.coalesce(F.col("n0"), F.lit(0)) < k)
            .select("qid"))
    s1_used = s1.join(F.broadcast(need), "qid", "leftsemi")
    merged = (s0.unionByName(s1_used)
              .groupBy("qid", "doc_id")
              .agg(F.sum("score").alias("score")))
    return _topk(merged, k)
