"""Bigram (word-pair) index: phrase acceleration without positions.

Web-scale engines often index consecutive token PAIRS as synthetic
terms ("nextword"/"phrase bigram" indexes — Williams, Zobel & Bahle
2004; Google's original "a hit list of word pairs"): a 2-term phrase
query then needs ONE posting lookup on the pair instead of a
positional intersection, and an n-term phrase AND-intersects its
n−1 pairs as a cheap pre-filter (a superset of true matches —
"new york city" requires "new york" AND "york city" — with the rare
false positive only when the pairs occur disjointly; the positional
index remains the exact verifier).

Reference analogue: none — the reference stores bag-of-words postings
only (/root/reference/src/invertedIndex.py:629-659); this accelerates
the phrase layer built in operators/positional.py.

Data model: ``bigram_counts`` emits (doc_id, bigram, tf) where
``bigram = concat(t[i], ' ', t[i+1])`` over the token stream (same
tokenizer contract; a doc with < 2 tokens has no rows). One groupBy
with map-side partial — identical shuffle shape to the unigram A1
aggregation, ~1 row per token, so the bigram index costs one more
pass of the same size class as the main index build.

Phrase-by-bigram matching: broadcast the query's (qid, bigram, n_bi)
pair table, semi-join the bigram postings, count distinct matched
pairs per (qid, doc) and keep docs with all n_bi pairs — for 2-term
phrases this is EXACT phrase containment; for longer phrases it is
the standard candidate superset the positional verifier then refines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conf import FILTER_STOPWORDS_DEFAULT
from ..functions.tokenize import tokenize_py, tokens_col
from ..session import local_frame


def bigram_counts(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  filter_stopwords: bool = FILTER_STOPWORDS_DEFAULT) -> DataFrame:
    """(doc_id, bigram, tf) — counts of consecutive token pairs.

    JVM-only: zip the token array with itself shifted by one
    (``zip_with(slice(t,1,n-1), slice(t,2,n-1), concat)``), explode,
    count. The explode is pipeline-local; the exchange carries the
    already-reduced (doc, bigram) pairs."""
    toks = tokens_col(text_col, filter_stopwords=filter_stopwords)
    d = docs.select(F.col(id_col).alias("doc_id"), toks.alias("_t"))
    pairs = F.expr(
        "zip_with(slice(_t, 1, greatest(size(_t) - 1, 0)),"
        "         slice(_t, 2, greatest(size(_t) - 1, 0)),"
        "         (a, b) -> concat(a, ' ', b))")
    return (d.select("doc_id", F.explode(pairs).alias("bigram"))
            .groupBy("doc_id", "bigram")
            .agg(F.count("*").cast("int").alias("tf")))


def phrase_bigrams_df(spark: SparkSession,
                      phrase_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, bigram) — the DISTINCT consecutive pairs of each phrase
    (driver-local tokenize; queries are tiny). Single-token phrases
    yield no rows (no pair constraint to check)."""
    rows = []
    for qid, phrase in phrase_set:
        t = tokenize_py(phrase)
        for bg in sorted({f"{a} {b}" for a, b in zip(t, t[1:])}):
            rows.append((qid, bg))
    return local_frame(spark, rows, "qid string, bigram string")


def phrase_match_by_bigrams(bc: DataFrame, qbigrams: DataFrame) -> DataFrame:
    """(qid, doc_id, min_pair_tf) — docs containing EVERY query pair.

    Exact for 2-term phrases; candidate superset for longer ones.
    min_pair_tf upper-bounds the phrase tf (each occurrence needs all
    pairs once). Plan: broadcast pair table ⨝ bigram postings → one
    (qid, doc) agg keeping full-coverage rows."""
    nq = qbigrams.groupBy("qid").agg(F.count("*").alias("_nbi"))
    m = (bc.join(F.broadcast(qbigrams), "bigram", "inner")
         .groupBy("qid", "doc_id")
         .agg(F.count("*").alias("_hit"),
              F.min("tf").cast("int").alias("min_pair_tf")))
    return (m.join(F.broadcast(nq), "qid", "inner")
            .where(F.col("_hit") == F.col("_nbi"))
            .select("qid", "doc_id", "min_pair_tf"))


def next_word_topk(bc: DataFrame, contexts: DataFrame,
                   k: int = 5) -> DataFrame:
    """(context, next_term, n, prob, rank): the top-k corpus
    continuations of each context term by bigram count — query
    autocomplete's "next word" suggester, served straight off the
    nextword index relation (`bigram_counts`).

    prob is the MLE continuation probability n / Σn over ALL
    continuations of the context (computed before the top-k cut), so
    the suggester doubles as the conditional bigram distribution.

    Scale shape: the context set is query-sized and broadcast, so the
    big bigram relation is semi-join-pruned before any aggregation;
    the per-context re-rank window runs over that context's distinct
    continuations only (WindowGroupLimit top-k).
    """
    from pyspark.sql import Window
    split = F.split("bigram", " ")
    cb = (bc.select(split.getItem(0).alias("context"),
                    split.getItem(1).alias("next_term"), "tf")
          .join(F.broadcast(contexts.select(F.col("term").alias("context"))),
                "context")
          .groupBy("context", "next_term")
          .agg(F.sum("tf").cast("long").alias("n")))
    tot = cb.groupBy("context").agg(F.sum("n").alias("_tot"))
    w = Window.partitionBy("context").orderBy(F.desc("n"), "next_term")
    return (cb.join(tot, "context")
            .withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
            .select("context", "next_term", "n",
                    F.round(F.col("n") / F.col("_tot"), 6).alias("prob"),
                    "rank"))
