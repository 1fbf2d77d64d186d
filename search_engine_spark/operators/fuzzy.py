"""Fuzzy term lookup (approximate dictionary match) + fuzzy BM25.

The reference resolves query terms by exact dictionary lookup and
silently drops misses (src/invertedIndex.py:260-261). The classic
retrieval feature layered on that dictionary is approximate term
match: map each query term to every dictionary term within a small
edit distance, then score with the expanded term set.

Plan shape (the part Spark lacks natively: an edit-distance join)
-----------------------------------------------------------------
A naive edit-distance join is |dictionary| x |query terms| Levenshtein
calls. Instead candidates are blocked SymSpell-style by DELETION
NEIGHBORHOODS: two strings within Levenshtein distance d share at
least one variant in their <=d-deletion neighborhoods, so

1. explode the dictionary into its deletion variants (map-side JVM
   ``transform`` over character indexes — no shuffle, fan-out is
   O(len^d) per term and the dictionary is tiny relative to the
   corpus: #distinct terms, not #postings);
2. explode the broadcast query-term table the same way;
3. equi-join on the variant, dedupe (qid, qterm, term), and VERIFY
   with the exact ``levenshtein`` — blocking only proposes, the
   verify step disposes, so the result is exactly the distance-<=d
   cross-join without ever running it.

Every Levenshtein evaluated is on a surviving candidate pair, and the
only shuffle is the candidate dedup, bounded by true match count.
Scoring reuses the BM25 TAAT aggregate with per-(qid, term) weights
``sum(qtf * decay^dist)`` so exact hits dominate fuzzy ones.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conf import (BM25_B, BM25_K1, FUZZY_DECAY, FUZZY_MAX_DIST,
                    TOP_K_DEFAULT)
from ..functions.tokenize import tokenize_py
from .query import _scores, _topk, bm25_partial


def fuzzy_query_terms_df(spark: SparkSession,
                         query_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, qterm, qtf) — driver-local tokenize+count (A9 twin); the
    column is ``qterm`` so joins against the dictionary's ``term``
    never collide."""
    rows = []
    for qid, title in query_set:
        for term, qtf in sorted(Counter(tokenize_py(title)).items()):
            rows.append((qid, term, qtf))
    return spark.createDataFrame(rows, "qid string, qterm string, qtf int")


def _deletion_variants(col: str):
    """Array expression: ``col`` plus every single-character deletion
    of it (the <=1-deletion neighborhood). Pure JVM — ``transform``
    over character indexes, no UDF. Single-character strings produce
    the empty variant, which is required for correctness (e.g. 'a' and
    'b' are distance 1 and share only '')."""
    return F.array_union(
        F.array(F.col(col)),
        F.expr(f"transform(sequence(1, length({col})), i -> "
               f"concat(substring({col}, 1, i - 1), "
               f"substring({col}, i + 1, length({col}))))"),
    )


# SymSpell prefix windowing: deletion variants are generated from the
# first FUZZY_PREFIX_WINDOW characters only (the suffix is carried
# unchanged into the variant key on neither side — BOTH sides truncate,
# so a shared prefix still collides). Dictionary fan-out per term is
# thereby capped at O(window^d) REGARDLESS of term length — at web
# scale the vocabulary's long tail (concatenation junk, base64 ids,
# urls) would otherwise multiply the explode by |term|^d. 20 chars
# exceeds any natural-language word, so word dictionaries (and every
# gate corpus) take the exact untruncated path; candidate generation
# for ULTRA-long tokens becomes SymSpell-approximate (two >window
# strings whose edits straddle the window can miss), while the exact
# levenshtein verify keeps precision at 100% always.
FUZZY_PREFIX_WINDOW = 20


def _explode_neighborhood(df: DataFrame, col: str, max_dist: int,
                          prefix_window: int = FUZZY_PREFIX_WINDOW) -> DataFrame:
    """One row per (input row, variant) for the <=max_dist-deletion
    neighborhood of ``col`` (of its first ``prefix_window`` chars for
    longer strings). Iterative: round r deletes one character from
    every round-(r-1) variant, so the fan-out is O(min(len, window)^d)
    per string — bounded for ANY dictionary."""
    src = f"substring({col}, 1, {int(prefix_window)})"
    out = df.withColumn("_pfx", F.expr(src)).withColumn(
        "variant", F.explode(_deletion_variants("_pfx"))).drop("_pfx")
    if max_dist == 1:
        # array_union already dedups within a row and input rows are
        # unique per `col`, so a dropDuplicates here would be a pure
        # waste: one full shuffle of the exploded dictionary.
        return out
    for _ in range(max_dist - 1):
        out = out.withColumn(
            "variant", F.explode(_deletion_variants("variant")))
    return out.dropDuplicates(df.columns + ["variant"])


def fuzzy_term_candidates(tstats: DataFrame, fq: DataFrame,
                          max_dist: int = FUZZY_MAX_DIST) -> DataFrame:
    """(qid, qterm, qtf, term, df, dist) — every dictionary term within
    Levenshtein distance ``max_dist`` of each query term.

    The dictionary side explodes map-side; the query side is broadcast,
    so the variant equi-join is shuffle-free. The exact ``levenshtein``
    verify makes the deletion blocking lossless for strings within
    FUZZY_PREFIX_WINDOW (every natural-language word; every gate) and
    SymSpell-approximate beyond it (precision stays exact, candidate
    recall for ultra-long tokens may drop)."""
    # length band: |len(a) - len(b)| <= lev(a, b), so dictionary terms
    # outside [min_q - d, max_q + d] can never match ANY query term —
    # filter them BEFORE the explode. At web scale the dictionary's
    # long tail (concatenation junk, ids) is exactly what this drops;
    # the bound comes from the tiny driver-side query set, stays
    # lossless, and reaches the parquet scan as a pushable predicate
    # on a length column when the dictionary persists one.
    qlens = [r.l for r in fq.select(F.length("qterm").alias("l"))
             .distinct().collect()]
    dict_side = tstats.select("term", "df")
    if qlens:
        dict_side = dict_side.where(
            F.length("term").between(min(qlens) - max_dist,
                                     max(qlens) + max_dist))
    dv = _explode_neighborhood(dict_side, "term", max_dist)
    qv = _explode_neighborhood(fq, "qterm", max_dist)
    return (
        dv.join(F.broadcast(qv), "variant", "inner")
        .where(F.levenshtein(F.col("qterm"), F.col("term")) <= max_dist)
        .select("qid", "qterm", "qtf", "term", "df",
                F.levenshtein(F.col("qterm"), F.col("term"))
                 .cast("int").alias("dist"))
        .dropDuplicates(["qid", "qterm", "term"])
    )


def variant_fanout_stats(tstats: DataFrame, fq: DataFrame,
                         max_dist: int = FUZZY_MAX_DIST) -> dict:
    """Bench evidence for the blocking fan-out: dictionary size, the
    length-banded subset that explodes, and the variant rows produced
    (the join's left side). All three are plain counts — the numbers
    that show the explode is O(banded_terms × window^d), not
    O(vocab × |term|^d)."""
    qlens = [r.l for r in fq.select(F.length("qterm").alias("l"))
             .distinct().collect()]
    dict_side = tstats.select("term")
    banded = dict_side
    if qlens:
        banded = dict_side.where(
            F.length("term").between(min(qlens) - max_dist,
                                     max(qlens) + max_dist))
    return {
        "dict_terms": dict_side.count(),
        "banded_terms": banded.count(),
        "variant_rows": _explode_neighborhood(banded, "term",
                                              max_dist).count(),
    }


def suggest_terms(tstats: DataFrame, fq: DataFrame,
                  max_dist: int = FUZZY_MAX_DIST) -> DataFrame:
    """Did-you-mean: the single best correction per query term —
    the candidate minimizing (edit distance, −df, term). An exact
    dictionary hit suggests itself at dist 0 ('no correction needed');
    a term with nothing within ``max_dist`` yields no row.

    Same bounded SymSpell blocking as fuzzy_term_candidates; the
    argmin window partitions by (qid, qterm) over the verified
    candidate set — rows bounded by true match counts, never the
    dictionary."""
    from pyspark.sql.window import Window
    cand = fuzzy_term_candidates(tstats, fq, max_dist=max_dist)
    w = Window.partitionBy("qid", "qterm").orderBy(
        "dist", F.desc("df"), "term")
    return (cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("qid", "qterm", F.col("term").alias("suggestion"),
                    "dist", "df"))


def fuzzy_bm25_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                    fq: DataFrame, n_docs: int, avgdl: float,
                    max_dist: int = FUZZY_MAX_DIST, k: int = TOP_K_DEFAULT,
                    decay: float = FUZZY_DECAY, k1: float = BM25_K1,
                    b: float = BM25_B) -> DataFrame:
    """Top-k BM25 over the fuzzy-expanded query: each query term
    contributes through every dictionary term within ``max_dist``,
    weighted ``qtf * decay^dist`` (exact match keeps full weight; a
    term reachable from several query terms sums its weights). Same
    broadcast-dictionary TAAT shape as bm25_topk."""
    cand = fuzzy_term_candidates(tstats, fq, max_dist=max_dist)
    qw = (
        cand.groupBy("qid", "term")
        .agg(F.max("df").alias("df"),
             F.sum(F.col("qtf") * F.pow(F.lit(float(decay)), F.col("dist")))
              .alias("w"))
    )
    hits = (
        tc.join(F.broadcast(qw), "term", "inner")
        .join(ds.select("doc_id", "dl"), "doc_id")
    )
    return _topk(_scores(hits, bm25_partial(n_docs, avgdl, k1, b, qw="w")), k)
