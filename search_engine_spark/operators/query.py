"""Query engine — TAAT scoring, BM25 + SMART schemes, top-k, TREC
export (SURVEY.md §2.4 J1/J2, §2.5 R1–R9).

Reference lifecycle (src/invertedIndex.py cosineScoreTAAT :494-575):
per query term: dictionary probe → seek+parse postings → weight →
accumulate scores[doc] → normalize → heapq.nlargest(k).

Spark lifecycle: broadcast query_terms ⨝ postings (semi-join — missing
terms drop out exactly like the reference's miss path :260-261) →
per-(qid,doc) partial products → groupBy(qid, doc_id).sum → broadcast
term-dict/doc-stats joins → per-qid window top-k.

Determinism: ranking orders by (round(score, 6) DESC, doc_id ASC).
Rounding before ranking makes tie-breaks bit-stable across engines
(Spark/DuckDB/Python sum doubles in different orders; exact ties in
the corpus would otherwise flip at the last ulp — SURVEY §1.3.6).
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conf import (BM25_B, BM25_K1, PIVOT, PIVOT_SLOPE, RUN_ID_DEFAULT,
                    TOP_K_DEFAULT)
from ..functions.tokenize import tokenize_py
from ..session import local_frame

SCORE_DECIMALS = 6


def query_terms_df(spark: SparkSession, query_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, term, qtf) — query-side tokenize+count is driver-local
    (A9/S4: queries are tiny; reference parses topics one at a time,
    src/invertedIndex.py:100-123,226-227). Same tokenizer function.
    The result is a JVM-local relation (session.local_frame): joining
    or collecting it starts no Python worker."""
    rows = []
    for qid, title in query_set:
        for term, qtf in sorted(Counter(tokenize_py(title)).items()):
            rows.append((qid, term, qtf))
    return local_frame(spark, rows, "qid string, term string, qtf int")


def _bm25_idf(df_col, n_docs: int):
    """Lucene-style always-positive idf (conf.py). Spelled ln(1 + x)
    (not log1p) so Spark, DuckDB oracle SQL and the Python oracle run
    the bit-identical double operation sequence."""
    return F.log(F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5))


def bm25_sat(tf, dl, avgdl, k1: float = BM25_K1, b: float = BM25_B):
    """BM25 tf saturation tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) —
    the engine's ONE spelling of it. Plain arithmetic, so the same
    expression evaluates on Spark Columns, numpy arrays and floats
    (avgdl may be a float or a Column). The operation order is frozen:
    the DuckDB and Python oracles run the identical double sequence and
    compare at 6 dp."""
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def _col(c):
    return F.col(c) if isinstance(c, str) else c


def bm25_partial(n_docs: int, avgdl, k1: float = BM25_K1, b: float = BM25_B,
                 qw="qtf", tf="tf", dl="dl"):
    """One query term's BM25 contribution qw · idf(df) · sat(tf, dl) as
    a Column over the `df` column; qw/tf/dl are column names or
    Columns. Multiplied in that order, the frozen one every scorer and
    oracle shares."""
    return (_col(qw) * _bm25_idf(F.col("df").cast("double"), n_docs)
            * bm25_sat(_col(tf).cast("double"), _col(dl), avgdl, k1, b))


def _scores(hits: DataFrame, partial) -> DataFrame:
    """(qid, doc_id, score): per-(qid, doc) sum of `partial` over a hit
    relation — the tail every TAAT-shaped scorer shares (one
    map-side-combined aggregation)."""
    return (hits.select("qid", "doc_id", partial.alias("partial"))
            .groupBy("qid", "doc_id")
            .agg(F.sum("partial").alias("score")))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """R6/R9: per-qid top-k with the pinned deterministic tie order."""
    scored = scored.withColumn("score", F.round("score", SCORE_DECIMALS))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "doc_id", "rank", "score")
    )


def _bm25_hits_topk(hits: DataFrame, n_docs: int, avgdl, k: int,
                    k1: float, b: float) -> DataFrame:
    """Plain BM25 top-k over a (qid, doc_id, qtf, df, tf, dl) hit
    relation — for scorers that differ only in how they get the hits."""
    return _topk(_scores(hits, bm25_partial(n_docs, avgdl, k1, b)), k)


def bm25_scores(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                qterms: DataFrame, n_docs: int, avgdl: float,
                k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """(qid, doc_id, score) — the full (unrounded, un-ranked) BM25
    candidate relation. bm25_topk is _topk over this; post-passes that
    need the pre-top-k universe (facet collapse, fusion, re-ranking)
    consume it directly.

    Join order (by size): tc (huge) ⨝ broadcast(qterms) — the semi-join
    prunes the scan to query terms only — ⨝ broadcast(term dict for
    df/idf) ⨝ doc_stats on doc_id for dl. Catalyst pushes the term
    filter into the parquet scan of a persisted tc/index table.
    """
    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    hits = tc.join(qdict, "term", "inner").join(ds.select("doc_id", "dl"), "doc_id")
    return _scores(hits, bm25_partial(n_docs, avgdl, k1, b))


def bm25_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
              qterms: DataFrame, n_docs: int, avgdl: float,
              k: int = TOP_K_DEFAULT, k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Top-k BM25 from the (doc_id, term, tf) relation (see
    bm25_scores for the plan shape)."""
    return _topk(bm25_scores(tc, ds, tstats, qterms, n_docs, avgdl,
                             k1=k1, b=b), k)


def taat_bounded_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                      qterms: DataFrame, n_docs: int, avgdl: float,
                      acc_budget: int = 200, k: int = TOP_K_DEFAULT,
                      k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Accumulator-bounded TAAT, the Moffat–Zobel 'continue' strategy
    (TOIS 1996) recast relationally: terms are processed rarest-first,
    NEW accumulators stop being created once the budget is reached,
    but every admitted accumulator keeps receiving updates from the
    remaining (frequent) terms.

    Deterministic admission rule: rank each query's terms by ascending
    df (term asc tiebreak); a doc is admitted iff it contains a term
    in the longest prefix whose CUMULATIVE df ≤ acc_budget (the rarest
    term is always admitted — a query must score something). Admitted
    docs then get their FULL BM25 score over all query terms, so
    scores are exact for every returned doc; only tail recall is
    traded, which is the published contract of the strategy.

    Why it matters at 10^12 docs: exhaustive TAAT materializes one
    accumulator per (qid, candidate) — for stopword-heavy queries that
    is the corpus. Here the admission semi-join caps the scoring
    relation at ~acc_budget rows per query BEFORE the score shuffle,
    so both memory and shuffle bytes are bounded by the budget, not by
    the collection. All admission windows run over the query-term
    relation (bounded by the query set), never over postings.

    Reference analogue: the TAAT accumulation loop
    (/root/reference/src/invertedIndex.py's score accumulation dict) —
    this is its memory-bounded production variant.
    """
    qdf = qterms.join(tstats.select("term", "df"), "term", "inner")
    w_rk = Window.partitionBy("qid").orderBy(F.asc("df"), F.asc("term"))
    ranked = (qdf.withColumn("trk", F.row_number().over(w_rk))
              .withColumn("cumdf", F.sum("df").over(
                  w_rk.rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow))))
    admit_terms = ranked.where((F.col("trk") == 1)
                               | (F.col("cumdf") <= acc_budget))
    # the admitted set is bounded by cumdf ≤ budget PLUS the rarest
    # term's full df (trk==1 is always admitted): for a query whose
    # every term is frequent (single stopword), that is corpus-sized,
    # so no forced broadcast here — AQE converts the semi-join to
    # broadcast at runtime whenever the measured relation is small,
    # and falls back to a shuffled semi-join when it isn't
    admitted = (tc.join(F.broadcast(admit_terms.select("qid", "term")),
                        "term", "inner")
                .select("qid", "doc_id").distinct())
    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    hits = (tc.join(qdict, "term", "inner")
            .join(admitted, ["qid", "doc_id"], "leftsemi")
            .join(ds.select("doc_id", "dl"), "doc_id"))
    return _bm25_hits_topk(hits, n_docs, avgdl, k, k1, b)


def bm25plus_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                  qterms: DataFrame, n_docs: int, avgdl: float,
                  k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
                  b: float = BM25_B, delta: float = 1.0) -> DataFrame:
    """Top-k BM25+ (Lv & Zhai, CIKM 2011): the tf-saturation term is
    lower-bounded by δ, so a very long document that MATCHES a term
    still beats one that doesn't —

        partial = qtf · idf · ( tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)) + δ )

    fixing classic BM25's over-penalization of long docs. Identical
    plan shape to bm25_scores (broadcast query dict, dl join, one
    map-side-combined per-(qid, doc) sum, WindowGroupLimit top-k);
    the δ literal is frozen to one Python double so the DuckDB oracle
    runs the same addition before the 6-dp rounding."""
    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    hits = tc.join(qdict, "term", "inner").join(ds.select("doc_id", "dl"), "doc_id")
    sat = (bm25_sat(F.col("tf").cast("double"), F.col("dl"), avgdl, k1, b)
           + F.lit(float(delta)))
    partial = F.col("qtf") * _bm25_idf(F.col("df").cast("double"), n_docs) * sat
    return _topk(_scores(hits, partial), k)


def bm25_topk_from_index(index: DataFrame, qterms: DataFrame,
                         n_docs: int, avgdl: float, k: int = TOP_K_DEFAULT,
                         k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Same scoring against the blocked inline-dl index table
    (term, block_no, df, cf, postings struct<doc_id, tf, dl>). df rides
    on the block rows and dl on the postings, so after the broadcast
    query join the path is scan → explode → groupBy → top-k, with zero
    joins against dictionary or per-doc tables."""
    hits = (
        index.join(F.broadcast(qterms), "term", "inner")
        .select("qid", "qtf", "df",
                F.explode("postings").alias("p"))
        .select("qid", "qtf", "df",
                F.col("p.doc_id").alias("doc_id"), F.col("p.tf").alias("tf"),
                F.col("p.dl").alias("dl"))
    )
    return _bm25_hits_topk(hits, n_docs, avgdl, k, k1, b)


def bm25_topk_union(indexes: list[DataFrame], qterms: DataFrame,
                    n_docs: int, avgdl: float, k: int = TOP_K_DEFAULT,
                    k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Serve BM25 across a committed MAIN inline-dl index plus one or more
    uncompacted DELTA indexes — the LSM-style freshness pattern: new
    documents become searchable the moment their delta segment commits,
    compaction (merge_blocked_indexes) happens asynchronously.

    Correctness hinge: each segment's block rows carry its LOCAL df,
    which would mis-weight idf; the global df per query term is
    re-derived at serve time as the sum of the segments' per-term dfs
    (one tiny distinct per segment — query-term rows only — never the
    postings). n_docs/avgdl are the caller's GLOBAL corpus stats, so
    the result is identical to serving one monolithic index over the
    union corpus (which is exactly what the gate checks).

    Segments must cover disjoint doc-id sets (same contract as
    merge_blocked_indexes); an overlapping doc would double-score.

    Scale shape: per segment, one broadcast semi-join prunes to query-
    term blocks before any explode; the unioned flat (term, doc_id, tf,
    dl, df) rows then join the broadcast query terms and score through
    the shared top-k path."""
    if not indexes:
        raise ValueError("bm25_topk_union needs at least one index")
    qt_terms = qterms.select("term").distinct()
    df_parts, flat_parts = [], []
    for idx in indexes:
        h = idx.join(F.broadcast(qt_terms), "term", "left_semi")
        df_parts.append(h.select("term", "df").distinct())
        flat_parts.append(
            h.select("term", F.explode("postings").alias("p"))
             .select("term", F.col("p.doc_id").alias("doc_id"),
                     F.col("p.tf").alias("tf"), F.col("p.dl").alias("dl")))
    gdf = df_parts[0]
    for p in df_parts[1:]:
        gdf = gdf.unionByName(p)
    gdf = gdf.groupBy("term").agg(F.sum("df").cast("long").alias("df"))
    flat = flat_parts[0]
    for p in flat_parts[1:]:
        flat = flat.unionByName(p, allowMissingColumns=False)
    flat = flat.join(F.broadcast(gdf), "term")
    return _bm25_hits_topk(flat.join(F.broadcast(qterms), "term"),
                           n_docs, avgdl, k, k1, b)


# --- SMART ddd.qqq weighting (R1, reference calculateWeightOfTerm
# src/invertedIndex.py:171-202) -----------------------------------------

def _smart_tf(scheme: str, tf, max_tf=None, ave_tf=None):
    """tf component. n natural, l log, a augmented, b boolean, L
    log-average. (Reference 'L' at :189 has an operator-precedence bug;
    we implement the textbook formula and note the divergence.)"""
    if scheme == "n":
        return tf
    if scheme == "l":
        return 1.0 + F.log10(tf)
    if scheme == "a":
        return 0.5 + 0.5 * tf / max_tf
    if scheme == "b":
        return F.when(tf > 0, 1.0).otherwise(0.0)
    if scheme == "L":
        return (1.0 + F.log10(tf)) / (1.0 + F.log10(ave_tf))
    raise ValueError(f"unknown tf scheme {scheme!r}")


def _smart_df(scheme: str, df_col, n_docs: int):
    """df component. n none, t idf, p prob-idf (:181-186)."""
    if scheme == "n":
        return F.lit(1.0)
    if scheme == "t":
        return F.log10(F.lit(float(n_docs)) / df_col)
    if scheme == "p":
        return F.greatest(F.lit(0.0), F.log10((F.lit(float(n_docs)) - df_col) / df_col))
    raise ValueError(f"unknown df scheme {scheme!r}")


def smart_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
               query_set: list[tuple[str, str]], n_docs: int,
               scheme: str = "nnc.nnn", k: int = TOP_K_DEFAULT) -> DataFrame:
    """SMART ddd.qqq TAAT scoring (reference cosineScoreTAAT
    :494-575). Doc norm 'c' divides by the precomputed L2 norm of the
    RAW tf vector (reference docLengths semantics, :276,675-684) —
    not of the weighted vector. Norm 'u' is pivoted-unique
    (:278-283): 1/(slope·uniq + (1−slope)·pivot).

    Query weights (qqq) are computed driver-side per query — constants
    per (qid, term); the query-side norm is a per-qid constant that
    never changes ranking but is kept for score identity (R4)."""
    ddd, qqq = scheme.split(".")
    spark = tc.sparkSession

    # driver-side query weights (A9 + R1 query side + R4). The full tf
    # alphabet applies on the query side too, using the QUERY's own tf
    # vector for max/ave ('a' augmented, 'L' log-average). Reference
    # note: calculateWeightOfTerm with doc=None silently degrades 'a'
    # to natural and crashes on 'L' (src/invertedIndex.py:183-189);
    # we implement the textbook forms instead and note the divergence.
    qrows = []
    for qid, title in query_set:
        counts = Counter(tokenize_py(title))
        raw = {t: c for t, c in counts.items()}
        max_qtf = max(raw.values()) if raw else 1
        ave_qtf = (sum(raw.values()) / len(raw)) if raw else 1.0
        qws = {}
        for t, qtf in raw.items():
            if qqq[0] == "n":
                w = float(qtf)
            elif qqq[0] == "l":
                w = 1.0 + math.log10(qtf)
            elif qqq[0] == "a":
                w = 0.5 + 0.5 * qtf / max_qtf
            elif qqq[0] == "b":
                w = 1.0
            elif qqq[0] == "L":
                w = (1.0 + math.log10(qtf)) / (1.0 + math.log10(ave_qtf))
            else:
                raise ValueError(f"query tf scheme {qqq[0]!r}")
            qws[t] = w
        if qqq[2] == "c":
            norm = math.sqrt(sum(w * w for w in qws.values())) or 1.0
        else:
            norm = 1.0
        for t, w in qws.items():
            qrows.append((qid, t, w / norm))
    qdf = local_frame(spark, qrows, "qid string, term string, qw double")
    # NOTE: query-side df component (qqq[1]) needs df from the corpus;
    # applied as a column below so 'ltc'-style query schemes work.

    hits = (
        tc.join(F.broadcast(qdf), "term", "inner")
        .join(F.broadcast(tstats), "term", "inner")
        .join(ds, "doc_id")
    )
    tf = F.col("tf").cast("double")
    dfc = F.col("df").cast("double")
    dw = _smart_tf(ddd[0], tf, F.col("max_tf").cast("double"), F.col("ave_tf")) \
        * _smart_df(ddd[1], dfc, n_docs)
    qw = F.col("qw") * _smart_df(qqq[1], dfc, n_docs)
    if ddd[2] == "c":
        dw = dw / F.col("len_l2")
    elif ddd[2] == "u":
        dw = dw / (PIVOT_SLOPE * F.col("uniq") + (1.0 - PIVOT_SLOPE) * PIVOT)
    elif ddd[2] != "n":
        raise ValueError(f"doc norm {ddd[2]!r}")
    return _topk(_scores(hits, qw * dw), k)


def bm25_topk_conj(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                   qterms: DataFrame, n_docs: int, avgdl: float,
                   k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
                   b: float = BM25_B) -> DataFrame:
    """Conjunctive (AND-semantics) BM25 top-k: only documents containing
    EVERY query term are scored (reference's unfinished DAAT cursor walk
    is an AND-intersection, src/invertedIndex.py:305-492 — the Spark
    expression of the same semantics is a HAVING matched-terms ==
    query-terms filter on the TAAT aggregate, no cursor state needed).

    Strict AND: a query with an out-of-vocabulary term matches nothing
    (its required-term count can never be reached). The filter rides on
    the groupBy the disjunctive path already does — zero extra shuffles,
    and at scale the candidate set only shrinks."""
    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    # required-term count per qid is over ALL query terms, incl. OOV
    qn = F.broadcast(qterms.groupBy("qid").agg(F.count("*").alias("_qn")))
    hits = tc.join(qdict, "term", "inner").join(ds.select("doc_id", "dl"), "doc_id")
    partial = bm25_partial(n_docs, avgdl, k1, b)
    scored = (
        hits.select("qid", "doc_id", partial.alias("partial"))
        .groupBy("qid", "doc_id")
        # (doc_id, term) is unique in tc and (qid, term) in qterms, so
        # the row count IS the number of distinct matched query terms
        .agg(F.sum("partial").alias("score"), F.count("*").alias("_nt"))
        .join(qn, "qid")
        .where(F.col("_nt") == F.col("_qn"))
        .select("qid", "doc_id", "score")
    )
    return _topk(scored, k)


def bm25_topk_excl(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                   qterms: DataFrame, exterms: DataFrame, n_docs: int,
                   avgdl: float, k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
                   b: float = BM25_B) -> DataFrame:
    """Boolean NOT: disjunctive BM25 over ``qterms`` minus every
    document containing ANY of the query's excluded terms
    (``exterms``: (qid, term) rows). The completing piece of the
    AND/OR/NOT query language next to bm25_topk (OR) and
    bm25_topk_conj (AND).

    The excluded-doc set is a broadcast-term semi-join on tc — only
    postings of excluded terms are touched — and the removal is a
    left_anti join on (qid, doc_id), the same key the scoring groupBy
    just shuffled on, so the anti-join adds no new partitioning. An
    excluded OOV term excludes nothing; a query whose exclusions cover
    its own matches returns no rows (strict NOT)."""
    excl = (
        tc.join(F.broadcast(exterms.select("qid", "term").distinct()),
                "term", "inner")
        .select("qid", "doc_id")
        .distinct()
    )
    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    hits = tc.join(qdict, "term", "inner").join(
        ds.select("doc_id", "dl"), "doc_id")
    scored = _scores(hits, bm25_partial(n_docs, avgdl, k1, b))
    return _topk(scored.join(excl, ["qid", "doc_id"], "left_anti"), k)


def bm25_topk_conj_from_index(index: DataFrame, qterms: DataFrame,
                              n_docs: int, avgdl: float,
                              k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
                              b: float = BM25_B) -> DataFrame:
    """AND-semantics BM25 served from the persisted blocked inline-dl
    index: the intersection is the same matched-term-count filter as
    bm25_topk_conj, applied after the term semi-join + block explode —
    the blocked layout's pruning (term buckets, term semi-join)
    composes with it unchanged."""
    qn = F.broadcast(qterms.groupBy("qid").agg(F.count("*").alias("_qn")))
    hits = (
        index.join(F.broadcast(qterms), "term", "inner")
        .select("qid", "qtf", "df", "term", F.explode("postings").alias("p"))
        .select("qid", "qtf", "df", "term",
                F.col("p.doc_id").alias("doc_id"), F.col("p.tf").alias("tf"),
                F.col("p.dl").alias("dl"))
    )
    partial = bm25_partial(n_docs, avgdl, k1, b)
    scored = (
        hits.select("qid", "doc_id", "term", partial.alias("partial"))
        .groupBy("qid", "doc_id")
        # a doc appears once per (query term, block) and blocks of one
        # term are doc-disjoint, so distinct terms = matched terms
        .agg(F.sum("partial").alias("score"),
             F.countDistinct("term").alias("_nt"))
        .join(qn, "qid")
        .where(F.col("_nt") == F.col("_qn"))
        .select("qid", "doc_id", "score")
    )
    return _topk(scored, k)


def expand_results(results: DataFrame, doc_map: DataFrame) -> DataFrame:
    """Expand surrogate doc_ids back to (conv_id, turn_idx) via the
    doc_map table (reference expandDocid,
    src/invertedIndex.py:152-161 — prefix substitution there, a
    broadcast-or-shuffle equi-join here; top-k results are tiny, so
    Catalyst broadcasts the RESULT side against the big map)."""
    return (results.join(doc_map, "doc_id")
            .select("qid", "doc_id", "conv_id", "turn_idx", "rank", "score"))


def trec_export(results: DataFrame, run_id: str = RUN_ID_DEFAULT) -> DataFrame:
    """S10: TREC run lines `qid 0 docid rank score runId`
    (reference :293-296,570-573). The score is printed %.6f — the
    engine's frozen score precision — rather than double→string cast,
    whose spelling (1.0E-6 vs 0.000001) is engine-specific and would
    make the line format non-portable."""
    return results.select(
        F.concat_ws(" ", "qid", F.lit("0"), F.col("doc_id").cast("string"),
                    F.col("rank").cast("string"),
                    F.format_string("%.6f", F.col("score").cast("double")),
                    F.lit(run_id)).alias("line"))


def hit_counts(tc: DataFrame, qterms: DataFrame) -> DataFrame:
    """(qid, n_any, n_all) — matching-document counts per query:
    n_any = docs containing ≥1 query term (disjunctive / OR universe),
    n_all = docs containing EVERY query term (conjunctive / AND).

    The count header a search UI shows next to the top-k. Shape: the
    same broadcast term semi-join as retrieval, one (qid, doc)
    aggregation (tc is unique per (doc, term), so count(*) = distinct
    query terms matched), one tiny per-qid rollup. Queries matching
    nothing produce no row (same convention as the scorers)."""
    qt = qterms.select("qid", "term").distinct()
    nq = qt.groupBy("qid").agg(F.count("*").alias("_nq"))
    m = (tc.join(F.broadcast(qt), "term", "inner")
         .groupBy("qid", "doc_id").agg(F.count("*").alias("_nt")))
    return (m.join(F.broadcast(nq), "qid", "inner")
            .groupBy("qid")
            .agg(F.count("*").cast("long").alias("n_any"),
                 F.sum(F.when(F.col("_nt") == F.col("_nq"), 1)
                       .otherwise(0)).cast("long").alias("n_all")))


def bm25_explain(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                 qterms: DataFrame, n_docs: int, avgdl: float,
                 results: DataFrame,
                 k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """(qid, doc_id, term, tf, df, idf, sat, partial) — the per-term
    score breakdown for docs in `results` (qid, doc_id, ...): the
    engine's answer to "why did this doc rank here" (Lucene explain).

    Semi-joins the hit relation to the (tiny) result set FIRST, so the
    breakdown costs one broadcast join over ≤ |results| × |query
    terms| rows regardless of corpus size. partial sums to the doc's
    unrounded score by construction."""
    qdict = F.broadcast(qterms.join(tstats.select("term", "df"),
                                    "term", "inner"))
    keep = F.broadcast(results.select("qid", "doc_id").distinct())
    hits = (tc.join(qdict, "term", "inner")
            .join(keep, ["qid", "doc_id"], "leftsemi")
            .join(ds.select("doc_id", "dl"), "doc_id"))
    idf = _bm25_idf(F.col("df").cast("double"), n_docs)
    sat = bm25_sat(F.col("tf").cast("double"), F.col("dl"), avgdl, k1, b)
    return hits.select(
        "qid", "doc_id", "term", F.col("tf").cast("int").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.round(idf, 6).alias("idf"), F.round(sat, 6).alias("sat"),
        F.round(bm25_partial(n_docs, avgdl, k1, b), 6).alias("partial"))


def search_after(scored: DataFrame, cursors: DataFrame,
                 k: int = TOP_K_DEFAULT) -> DataFrame:
    """(qid, doc_id, rank, score) — the NEXT k hits strictly after a
    per-query cursor in the pinned (score desc, doc_id asc) order:
    stateless deep pagination (Elasticsearch search_after), no
    window-offset scan of the skipped prefix.

    `scored`: (qid, doc_id, score) pre-top-k; `cursors`:
    (qid, after_score, after_doc_id) — the last hit of the previous
    page (rounded score, the same value the engine returned). The
    cursor predicate filters BEFORE the top-k window, so per-partition
    state stays k regardless of page depth; rank restarts at 1 per
    page by construction (the cursor defines the page)."""
    s = scored.withColumn("score", F.round("score", SCORE_DECIMALS))
    j = s.join(F.broadcast(cursors), "qid", "inner")
    after = ((F.col("score") < F.col("after_score"))
             | ((F.col("score") == F.col("after_score"))
                & (F.col("doc_id") > F.col("after_doc_id"))))
    return _topk(j.where(after).select("qid", "doc_id", "score"), k)
