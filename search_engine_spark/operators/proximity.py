"""Proximity (NEAR/W) retrieval over the positional index.

The reference's DAAT walker advances aligned per-term doc cursors
(src/invertedIndex.py:305-492); the classic retrieval feature built on
aligned POSITION cursors — one step looser than the exact-phrase
matcher in operators/positional.py — is the NEAR/W operator: a doc
matches when every query term occurs and every PAIR of distinct query
terms has at least one occurrence pair within a window of W tokens.

Plan shape (the part Spark lacks natively: a positions range join)
------------------------------------------------------------------
A naive positions self-join per doc is quadratic in document length.
Instead the pair search is a BANDED range join:

1. broadcast the tiny (qid, term, toff, nt) distinct-term table and
   inner-join it against the positional postings (J1 dictionary
   semi-join — only query-term rows survive the scan), explode to
   (qid, doc_id, toff, pos) occurrence rows;
2. band by ``bkt = pos div W``: side A keeps its own bucket, side B is
   exploded to {bkt, bkt+1}. Any pair with |posA - posB| <= W shares a
   join bucket in at least one of its two (A,B) orientations, so an
   equi-join on (qid, doc_id, bkt) finds every qualifying pair while
   only ever comparing occurrences from ADJACENT W-wide bands —
   work is linear in occurrence count times local band density, never
   |doc|^2;
3. canonicalize pairs to (t1 < t2), aggregate min gap per pair, then
   per (qid, doc_id) require full term presence AND all nt*(nt-1)/2
   pairs satisfied.

Every join key contains doc_id, so hot documents spread across
reducers and no per-term or per-doc state is unbounded; the band
explode is a constant 2x. At 10^12 turns this is the same shuffle
shape as the phrase matcher (keyed by doc and position locality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conf import BM25_B, BM25_K1, NEAR_WINDOW, TOP_K_DEFAULT
from ..functions.tokenize import tokenize_py
from .query import SCORE_DECIMALS, _scores, bm25_partial


def near_query_terms_df(spark: SparkSession,
                        query_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, term, toff, nt) — one row per DISTINCT query term, with
    its alphabetical index ``toff`` and the distinct-term count ``nt``.
    NEAR semantics are set-based, so duplicate query tokens collapse
    (qtf plays no role in matching; scoring re-reads the raw bag)."""
    rows = []
    for qid, title in query_set:
        terms = sorted(set(tokenize_py(title)))
        for toff, term in enumerate(terms):
            rows.append((qid, term, toff, len(terms)))
    return spark.createDataFrame(rows, "qid string, term string, toff int, nt int")


def _occurrences(pos_idx: DataFrame, nearq: DataFrame) -> DataFrame:
    """(qid, doc_id, toff, nt, pos) — one row per query-term occurrence."""
    return (
        pos_idx.join(F.broadcast(nearq), "term", "inner")
        .select("qid", "doc_id", "toff", "nt",
                F.explode("positions").alias("pos"))
    )


def near_match(pos_idx: DataFrame, nearq: DataFrame,
               window: int = NEAR_WINDOW) -> DataFrame:
    """(qid, doc_id, n_pairs, min_gap) for docs matching NEAR/window.

    ``n_pairs`` is nt*(nt-1)/2 by construction (all pairs satisfied);
    ``min_gap`` is the smallest qualifying pair distance (NULL for
    single-term queries, which match on plain term presence)."""
    occ = _occurrences(pos_idx, nearq)

    pres = occ.groupBy("qid", "doc_id").agg(
        F.countDistinct("toff").alias("n_terms"),
        F.max("nt").alias("nt"),
    )

    w = F.lit(int(window))
    a = occ.select(
        "qid", "doc_id",
        F.col("toff").alias("toff_a"), F.col("pos").alias("pos_a"),
        (F.col("pos").cast("long") / w).cast("long").alias("bkt"),
    )
    b = occ.select(
        "qid", "doc_id",
        F.col("toff").alias("toff_b"), F.col("pos").alias("pos_b"),
        F.explode(F.array(
            (F.col("pos").cast("long") / w).cast("long"),
            (F.col("pos").cast("long") / w).cast("long") + 1,
        )).alias("bkt"),
    )
    pairs = (
        a.join(b, ["qid", "doc_id", "bkt"])
        .where((F.col("toff_a") != F.col("toff_b"))
               & (F.abs(F.col("pos_a") - F.col("pos_b")) <= w))
        .select(
            "qid", "doc_id",
            F.least("toff_a", "toff_b").alias("t1"),
            F.greatest("toff_a", "toff_b").alias("t2"),
            F.abs(F.col("pos_a") - F.col("pos_b")).alias("gap"),
        )
        .groupBy("qid", "doc_id", "t1", "t2")
        .agg(F.min("gap").alias("gap"))
    )
    pp = pairs.groupBy("qid", "doc_id").agg(
        F.count("*").alias("n_pairs"),
        F.min("gap").alias("min_gap"),
    )

    return (
        pres.join(pp, ["qid", "doc_id"], "left")
        .where(
            (F.col("n_terms") == F.col("nt"))
            & (F.coalesce(F.col("n_pairs"), F.lit(0))
               == (F.col("nt") * (F.col("nt") - 1) / 2).cast("long"))
        )
        .select(
            "qid", "doc_id",
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("int").alias("n_pairs"),
            F.col("min_gap").cast("int").alias("min_gap"),
        )
    )


def near_bm25_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                   pos_idx: DataFrame, nearq: DataFrame, qterms: DataFrame,
                   n_docs: int, avgdl: float, window: int = NEAR_WINDOW,
                   k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
                   b: float = BM25_B) -> DataFrame:
    """BM25-scored NEAR retrieval: docs satisfying NEAR/window, ranked
    by the BM25 score of the query's raw term bag (score DESC, doc_id
    ASC). Output carries min_gap so callers can proximity-boost.

    Same meet-in-one-join shape as phrase_bm25_topk: the scoring side
    is the broadcast-semi-join TAAT aggregate, the match side is
    near_match, joined once on (qid, doc_id) — AQE picks broadcast for
    the shrinking match side when it fits."""
    nm = near_match(pos_idx, nearq, window=window)
    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    hits = tc.join(qdict, "term", "inner").join(ds.select("doc_id", "dl"), "doc_id")
    scored = (
        _scores(hits, bm25_partial(n_docs, avgdl, k1, b))
        .join(nm, ["qid", "doc_id"], "inner")
        .withColumn("score", F.round("score", SCORE_DECIMALS))
    )
    win = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select("qid", "doc_id", "rank", "score", "min_gap")
    )


def ordered_pairs_df(spark: SparkSession,
                     pair_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, term_a, term_b) — ordered FOLLOWED-BY pairs from the
    first two tokens of each query string (driver-local tokenize;
    single-token queries yield no row)."""
    rows = []
    for qid, title in pair_set:
        t = tokenize_py(title)
        if len(t) >= 2:
            rows.append((qid, t[0], t[1]))
    return spark.createDataFrame(rows, "qid string, term_a string, term_b string")


def followed_by_match(pos_idx: DataFrame, pairq: DataFrame,
                      window: int = NEAR_WINDOW) -> DataFrame:
    """(qid, doc_id, n_hits, min_gap) — ORDERED proximity: docs where
    term_a occurs at position p and term_b at q with 1 ≤ q − p ≤ W
    (the directional half of NEAR/W; W=1 degenerates to the exact
    bigram adjacency operators/bigrams.py serves from its pair index).

    Same banded range-join as near_match, but one-sided: the a side
    keeps its own band ``p div W``; the b side presents
    {q div W, q div W − 1} — q ∈ [p+1, p+W] implies band(q) ∈
    {band(p), band(p)+1}, so the pair-keyed equi-join covers every
    qualifying ordered pair with a constant 2× explode. n_hits counts
    qualifying (p, q) position pairs; min_gap = min(q − p). With
    several (a→b) constraints per qid the semantics are DISJUNCTIVE:
    a doc appears when any constraint matches and n_hits totals hits
    across constraints (each constraint matched only against its own
    pair — the join key carries (term_a, term_b))."""
    w = F.lit(int(window))
    # Both sides carry the FULL (qid, term_a, term_b) pair key: with
    # several pairs per qid, joining on qid alone would cross-match
    # pair 1's a-occurrences against pair 2's b-occurrences.
    aocc = (pos_idx.join(F.broadcast(pairq.withColumn("term",
                                                      F.col("term_a"))),
                         "term", "inner")
            .select("qid", "term_a", "term_b", "doc_id",
                    F.explode("positions").alias("pos_a"))
            .withColumn("bkt", (F.col("pos_a").cast("long") / w).cast("long")))
    bocc = (pos_idx.join(F.broadcast(pairq.withColumn("term",
                                                      F.col("term_b"))),
                         "term", "inner")
            .select("qid", "term_a", "term_b", "doc_id",
                    F.explode("positions").alias("pos_b"))
            .withColumn("bkt", F.explode(F.array(
                (F.col("pos_b").cast("long") / w).cast("long"),
                (F.col("pos_b").cast("long") / w).cast("long") - 1))))
    gap = F.col("pos_b") - F.col("pos_a")
    return (aocc.join(bocc, ["qid", "term_a", "term_b", "doc_id", "bkt"])
            .where((gap >= 1) & (gap <= w))
            .groupBy("qid", "doc_id")
            .agg(F.count("*").cast("long").alias("n_hits"),
                 F.min(gap).cast("int").alias("min_gap")))
