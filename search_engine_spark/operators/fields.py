"""Fielded indexing + BM25F ranking (title/body with per-field
weights and length normalization).

The reference scores one flat text stream per document
(/root/reference/src/invertedIndex.py:629-659 counts all of
parseWords(text) together); production engines index FIELDS and rank
with BM25F (Robertson & Zaragoza 2004): a per-field weighted,
per-field length-normalized pseudo-tf feeds ONE saturation curve, so
matching in a short boosted field (title) outranks the same tf in the
body without double-counting the idf.

    B_f(d)     = 1 - b_f + b_f · dl_f(d) / avgdl_f
    tf̃(t, d)   = Σ_f  w_f · tf_f(t, d) / B_f(d)
    score(q,d) = Σ_t  qtf · idf(t) · tf̃ / (k1 + tf̃)

Our transcripts/documents input has one text column, so the field
split is positional — the first TITLE_TOKENS tokens are the "title",
the rest the "body" (the same slice convention the tiered index uses).
A corpus with real field columns plugs in by unioning per-field
term counts directly.

Scale shape: the field split is a JVM `slice` on the token array
(pipeline-local, no extra pass over text); explode → groupBy reduces
map-side, so the exchange carries (doc, field, term, tf) pairs, not
raw token occurrences. avgdl_f is a 2-row broadcast; the query path
is the same broadcast-semi-join + two-level aggregation as BM25 —
nothing grows faster than the posting join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..conf import BM25_B, BM25_K1, TOP_K_DEFAULT
from ..functions.tokenize import tokens_col
from .query import _bm25_idf, _scores, _topk

TITLE_TOKENS = 8
FIELD_WEIGHTS = {"title": 2.0, "body": 1.0}


def field_term_counts(docs: DataFrame, title_tokens: int = TITLE_TOKENS,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """(doc_id, field, term, tf) — positional title/body field split.

    Documents with ≤ title_tokens tokens have an empty body (no body
    rows), matching the DuckDB oracle's `l[T+1:]` slice."""
    t = int(title_tokens)
    d = docs.select(F.col(id_col).alias("doc_id"),
                    tokens_col(text_col).alias("_toks"))
    title = d.select("doc_id", F.lit("title").alias("field"),
                     F.explode(F.expr(f"slice(_toks, 1, {t})")).alias("term"))
    body = d.select("doc_id", F.lit("body").alias("field"),
                    F.explode(F.expr(
                        f"slice(_toks, {t + 1}, greatest(size(_toks) - {t}, 0))"
                    )).alias("term"))
    return (title.unionByName(body)
            .groupBy("doc_id", "field", "term")
            .agg(F.count("*").cast("int").alias("tf")))


def field_doc_stats(tcf: DataFrame) -> DataFrame:
    """(doc_id, field, dl) — per-field document length (token count)."""
    return tcf.groupBy("doc_id", "field").agg(
        F.sum("tf").cast("long").alias("dl"))


def field_avgdl(dsf: DataFrame, n_docs: int) -> DataFrame:
    """(field, avgdl) — mean field length over ALL n_docs documents
    (docs with an empty field contribute 0). dl is integral, so the
    sum is exact in both engines regardless of order."""
    return dsf.groupBy("field").agg(
        (F.sum("dl").cast("double") / F.lit(float(n_docs))).alias("avgdl"))


def bm25f_topk(tcf: DataFrame, dsf: DataFrame, qterms: DataFrame,
               n_docs: int, k: int = TOP_K_DEFAULT,
               field_weights: dict[str, float] | None = None,
               k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Top-k BM25F. `tcf`/`dsf` from field_term_counts/field_doc_stats;
    df is DOCUMENT-level (a term's df counts docs, not (doc, field)
    pairs), so idf matches the unfielded engine's dictionary.

    Plan: tcf ⨝ broadcast(query ⨝ df dict) ⨝ dsf(doc_id, field) ⨝
    broadcast(avgdl) → per-(qid, doc, term) field-weighted pseudo-tf
    (≤ |fields| rows reduce map-side) → saturation → per-(qid, doc)
    sum → WindowGroupLimit top-k."""
    weights = field_weights or FIELD_WEIGHTS
    ts = tcf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("long").alias("df"))
    qdict = F.broadcast(qterms.join(ts, "term", "inner"))
    adl = F.broadcast(field_avgdl(dsf, n_docs))
    # a field absent from the weight map contributes 0 (explicitly —
    # a NULL weight would silently null the whole doc's pseudo-tf)
    w_col = F.coalesce(
        *[F.when(F.col("field") == f, F.lit(float(w)))
          for f, w in sorted(weights.items())], F.lit(0.0))
    hits = (tcf.join(qdict, "term", "inner")
            .join(dsf, ["doc_id", "field"], "inner")
            .join(adl, "field", "inner"))
    b_f = 1.0 - b + b * F.col("dl").cast("double") / F.col("avgdl")
    tfw_f = w_col * F.col("tf").cast("double") / b_f
    per_term = (hits.select("qid", "doc_id", "term", "qtf", "df",
                            tfw_f.alias("_tfw_f"))
                .groupBy("qid", "doc_id", "term")
                .agg(F.sum("_tfw_f").alias("tfw"),
                     F.max("qtf").alias("qtf"), F.max("df").alias("df")))
    partial = (F.col("qtf") * _bm25_idf(F.col("df").cast("double"), n_docs)
               * F.col("tfw") / (F.lit(float(k1)) + F.col("tfw")))
    return _topk(_scores(per_term, partial), k)
