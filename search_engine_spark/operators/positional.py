"""Positional index + exact-phrase retrieval.

The reference's unfinished DAAT walker keeps per-list doc cursors
(src/invertedIndex.py:305-492); the standard fulltext-engine feature
built on top of aligned cursors is exact-phrase matching over token
POSITIONS. The reference never stores positions — this module adds
them as a first-class index artifact, the same way the codec and
block-max layers extend its plain-text postings.

Data model
----------
``positional_postings`` produces ``(term, doc_id, tf, positions)``
with 1-based, strictly ascending token positions. It is the
positions-bearing twin of the tf index: same key cardinality as the
(term, doc_id) tf aggregation, per-group state bounded by per-doc
term frequency, so the one groupBy shuffles exactly as well as A1/A6.
A persisted layout would bucket by ``term`` like the main index (S5),
so phrase queries partition-prune identically to S9.

Phrase matching (all-JVM, no self-join)
---------------------------------------
A phrase ``t0 t1 … t(n-1)`` matches at start position ``s`` iff token
``ti`` occurs at position ``s + i`` for every ``i``. The plan:

1. broadcast the tiny ``(qid, term, off, nt)`` phrase-term table and
   inner-join it against the positional postings — this is the J1
   dictionary semi-join, so only phrase-term rows survive the scan;
2. shift each posting's position array by its term offset JVM-side
   (``transform(positions, p -> p - off)``) and explode to candidate
   start positions;
3. one shuffle keyed ``(qid, doc_id, start)`` counts distinct matched
   offsets; a start with all ``nt`` offsets present is an occurrence.

The shuffle key includes the start position, so hot documents spread
across reducers and no per-doc or per-term state is unbounded. There
is no positions self-join and no cross-doc product at any point.
Overlapping occurrences are counted (standard phrase-tf semantics);
a phrase term repeated at two offsets ("line line") contributes both
offsets independently via the double-matched join row.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conf import BM25_B, BM25_K1, FILTER_STOPWORDS_DEFAULT, TOP_K_DEFAULT
from ..functions.tokenize import tokenize_py, tokens_col
from .query import SCORE_DECIMALS, _scores, bm25_partial


def positional_postings(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        filter_stopwords: bool = FILTER_STOPWORDS_DEFAULT) -> DataFrame:
    """(term, doc_id, tf, positions array<int>) — positions are 1-based
    indexes into the (optionally stopword-filtered) token stream,
    sorted ascending. Exactly one groupBy on (term, doc_id); per-group
    state ≤ the doc's term frequency, so no key is unbounded."""
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens_col(text_col, filter_stopwords)).alias("pos0", "term"),
    )
    return (
        tok.groupBy("term", "doc_id")
        .agg(F.sort_array(F.collect_list(F.col("pos0") + 1)).alias("positions"),
             F.count("*").cast("int").alias("tf"))
        .select("term", "doc_id", "tf", "positions")
    )


def phrase_terms_df(spark: SparkSession, phrase_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, term, off, nt) — one row per phrase token occurrence with
    its 0-based offset and the phrase length. Driver-local tokenize
    with the shared tokenizer (A9 twin for phrases)."""
    rows = []
    for qid, phrase in phrase_set:
        toks = tokenize_py(phrase)
        for off, term in enumerate(toks):
            rows.append((qid, term, off, len(toks)))
    return spark.createDataFrame(rows, "qid string, term string, off int, nt int")


def phrase_occurrences(pos_idx: DataFrame, phrases: DataFrame) -> DataFrame:
    """(qid, doc_id, phrase_tf) for every doc containing each phrase at
    least once. ``phrases`` is the (qid, term, off, nt) table — always
    tiny (queries), hence broadcast."""
    j = pos_idx.join(F.broadcast(phrases), "term", "inner")
    starts = j.select(
        "qid", "doc_id", "nt", "off",
        F.explode(F.transform("positions", lambda p: p - F.col("off"))).alias("start"),
    ).where(F.col("start") >= 1)
    occ = (
        starts.groupBy("qid", "doc_id", "start")
        # nt is constant per qid; max() just carries it through the agg
        .agg(F.max("nt").alias("nt"), F.countDistinct("off").alias("_m"))
        .where(F.col("_m") == F.col("nt"))
    )
    return (
        occ.groupBy("qid", "doc_id")
        .agg(F.count("*").cast("int").alias("phrase_tf"))
    )


def phrase_match_topk(pos_idx: DataFrame, phrases: DataFrame,
                      k: int = 20) -> DataFrame:
    """Top-k docs per phrase by raw occurrence count
    (phrase_tf DESC, doc_id ASC) — the boolean-retrieval face of the
    phrase operator, before any scoring model."""
    pm = phrase_occurrences(pos_idx, phrases)
    w = Window.partitionBy("qid").orderBy(F.desc("phrase_tf"), F.asc("doc_id"))
    return (
        pm.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "doc_id", "phrase_tf", "rank")
    )


def phrase_stats(pos_idx: DataFrame, phrases: DataFrame) -> DataFrame:
    """Per-phrase match profile: (qid, docs_matched, occurrences)."""
    pm = phrase_occurrences(pos_idx, phrases)
    return pm.groupBy("qid").agg(
        F.count("*").cast("long").alias("docs_matched"),
        F.sum("phrase_tf").cast("long").alias("occurrences"),
    )


def phrase_query_terms_df(spark: SparkSession,
                          phrase_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, term, qtf) over the phrase tokens — the bag-of-words view
    of each phrase, used for BM25 scoring of phrase-matching docs."""
    rows = []
    for qid, phrase in phrase_set:
        for term, qtf in sorted(Counter(tokenize_py(phrase)).items()):
            rows.append((qid, term, qtf))
    return spark.createDataFrame(rows, "qid string, term string, qtf int")


def phrase_bm25_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                     pos_idx: DataFrame, phrases: DataFrame,
                     qterms: DataFrame, n_docs: int, avgdl: float,
                     k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
                     b: float = BM25_B) -> DataFrame:
    """BM25-scored phrase retrieval: docs that contain the EXACT phrase,
    ranked by the BM25 score of the phrase's bag of terms
    (score DESC, doc_id ASC). Output carries phrase_tf so callers can
    re-rank or boost on it.

    Plan shape: the scoring side is the standard broadcast-semi-join
    TAAT aggregate (bm25_topk); the match side is phrase_occurrences;
    the two meet in ONE equi-join on (qid, doc_id). Both sides are
    already restricted to the phrase's terms before any shuffle, and
    the join's build side (phrase matches) only ever shrinks, so AQE
    picks broadcast when it fits and a shuffled hash join when not."""
    occ = phrase_occurrences(pos_idx, phrases)
    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    hits = tc.join(qdict, "term", "inner").join(ds.select("doc_id", "dl"), "doc_id")
    scored = (
        _scores(hits, bm25_partial(n_docs, avgdl, k1, b))
        .join(occ, ["qid", "doc_id"], "inner")
        .withColumn("score", F.round("score", SCORE_DECIMALS))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "doc_id", "rank", "score", "phrase_tf")
    )


def span_first_matches(pos_idx: DataFrame, qterms: DataFrame,
                       max_pos: int) -> DataFrame:
    """(qid, term, doc_id, first_pos) — span-first matching: a doc
    qualifies iff the query term occurs within the first `max_pos`
    token positions (the Lucene SpanFirstQuery semantic — title-ish
    leading text matters more than a mention buried at position 900).

    positions are sorted ascending, so element_at(positions, 1) is the
    earliest occurrence: the filter needs no explode at all. The plan
    is the standard broadcast term semi-join onto the positional index
    followed by a per-row filter — corpus scan pruned to query terms,
    no shuffle beyond the index's own layout."""
    first = F.element_at("positions", 1)
    return (pos_idx.join(F.broadcast(qterms.select("qid", "term").distinct()),
                         "term")
            .where(first <= max_pos)
            .select("qid", "term", "doc_id",
                    first.cast("int").alias("first_pos")))
