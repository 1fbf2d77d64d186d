"""Prefix (trailing-wildcard) query expansion — ``pre*`` retrieval.

The reference engine's dictionary is a sorted term file probed by
binary search (/root/reference/src/invertedIndex.py:240-261); a
trailing-wildcard query there is a contiguous range scan of that file.
The Spark-native equivalent: for each driver-known prefix length L the
term dictionary gains a ``substr(term, 1, L)`` key and equi-joins the
broadcast query prefixes — a hash join whose key is computable inside
whole-stage codegen, no LIKE nested-loop. On a persisted dictionary
sorted/partitioned by term the same predicate is a min/max range prune
per file, the columnar twin of the reference's binary search.

Expansion is capped per (qid, prefix) at the ``max_expansions``
highest-df terms (tie: term asc) — the classic lexicon-expansion guard
that keeps a hot one-letter prefix from turning into a thousand-term
disjunction. The per-(qid, prefix) window is rank-limited, which Spark
executes as WindowGroupLimit: only the running top-E rows per group
survive map-side, so a prefix matching millions of dictionary terms
never funnels them through one reducer.

Scoring: the surviving expansions form an OR-disjunction — a derived
(qid, term, qtf) set (a term reached by two prefixes of one query sums
their qtf) fed to the ordinary BM25 scorer.
"""

from __future__ import annotations

from collections import Counter
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conf import PREFIX_MAX_EXPANSIONS, TOP_K_DEFAULT
from ..session import local_frame
from .query import bm25_topk


def prefix_query_df(spark: SparkSession,
                    prefix_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, prefix, qtf) — whitespace-split, lowercased; repeated
    prefixes in one query accumulate qtf (driver-local: queries are
    tiny, same convention as query_terms_df)."""
    rows = []
    for qid, title in prefix_set:
        for pfx, qtf in sorted(Counter(title.lower().split()).items()):
            rows.append((qid, pfx, qtf))
    return local_frame(spark, rows, "qid string, prefix string, qtf int")


def prefix_expansions(tstats: DataFrame, pq: DataFrame,
                      max_expansions: int = PREFIX_MAX_EXPANSIONS) -> DataFrame:
    """(qid, prefix, term, df, qtf) — dictionary terms starting with
    each query prefix, top-``max_expansions`` by (df desc, term asc).

    One dictionary pass per DISTINCT prefix length in the query set
    (driver-known, a handful): each pass equi-joins on the substr key,
    so the dictionary is never LIKE-scanned row-by-row against every
    prefix."""
    lens = sorted({r.l for r in
                   pq.select(F.length("prefix").alias("l")).distinct().collect()})
    parts = []
    for length in lens:
        pq_l = pq.where(F.length("prefix") == length)
        keyed = tstats.select(
            "term", "df", F.substring("term", 1, length).alias("prefix"))
        parts.append(keyed.join(F.broadcast(pq_l), "prefix", "inner")
                     .select("qid", "prefix", "term", "df", "qtf"))
    if not parts:
        return pq.select("qid", "prefix", F.lit(None).cast("string").alias("term"),
                         F.lit(None).cast("long").alias("df"), "qtf").limit(0)
    exp = reduce(DataFrame.unionByName, parts)
    w = Window.partitionBy("qid", "prefix").orderBy(F.desc("df"), F.asc("term"))
    return (exp.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_expansions).drop("_rn"))


def prefix_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                pq: DataFrame, n_docs: int, avgdl: float,
                k: int = TOP_K_DEFAULT,
                max_expansions: int = PREFIX_MAX_EXPANSIONS) -> DataFrame:
    """Top-k BM25 over the prefix-expanded disjunction."""
    exp = prefix_expansions(tstats, pq, max_expansions)
    eq = (exp.groupBy("qid", "term")
          .agg(F.sum("qtf").cast("int").alias("qtf")))
    return bm25_topk(tc, ds, tstats, eq, n_docs, avgdl, k=k)


def regex_search(tc: DataFrame, docs: DataFrame, pattern: str,
                 anchor_term: str, text_col: str = "text") -> DataFrame:
    """(doc_id) — documents whose text matches ``pattern``, accelerated
    by the index: the postings of ``anchor_term`` (a literal token the
    caller extracts from the regex) prune the candidate set BEFORE any
    text is scanned, the standard trigram/literal-prefilter trick
    production engines use to run grep-class queries off an inverted
    index. The regex must stay in the RE2-compatible subset shared by
    Spark's Java regex and DuckDB so the oracle can replay it.

    Scale shape: one broadcast-semi-join on the anchor term's postings
    (candidate set = df(anchor), never the corpus), then regexp_like
    over candidates only — the full-text scan cost is proportional to
    the anchor's selectivity, not the table."""
    cand = (tc.where(F.col("term") == F.lit(anchor_term))
            .select("doc_id").distinct())
    return (docs.join(cand, "doc_id", "leftsemi")
            .where(F.regexp_like(F.lower(F.col(text_col)), F.lit(pattern)))
            .select("doc_id"))


def suffix_query_df(spark: SparkSession,
                    suffix_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, suffix, qtf) — whitespace-split, lowercased; repeated
    suffixes in one query accumulate qtf (driver-local, same
    convention as prefix_query_df)."""
    rows = []
    for qid, title in suffix_set:
        for sfx, qtf in sorted(Counter(title.lower().split()).items()):
            rows.append((qid, sfx, qtf))
    return local_frame(spark, rows, "qid string, suffix string, qtf int")


def suffix_expansions(tstats: DataFrame, sq: DataFrame,
                      max_expansions: int = PREFIX_MAX_EXPANSIONS) -> DataFrame:
    """(qid, suffix, term, df, qtf) — dictionary terms ENDING with each
    query suffix (leading-wildcard ``*fix``), top-``max_expansions``
    by (df desc, term asc).

    The classic reversed-dictionary trick: a leading wildcard on the
    term is a TRAILING wildcard on reverse(term), so the same
    per-length ``substr(reverse(term), 1, L)`` equi-join the prefix
    path uses applies verbatim — hash join inside codegen, no LIKE
    '%fix' scan. A persisted dictionary sorted by reverse(term) (the
    Lucene ReversedWildcardFilter layout) turns the key into a min/max
    file prune exactly like the forward dictionary does for prefixes.
    """
    lens = sorted({r.l for r in
                   sq.select(F.length("suffix").alias("l")).distinct().collect()})
    parts = []
    for length in lens:
        sq_l = (sq.where(F.length("suffix") == length)
                .withColumn("_rk", F.reverse("suffix")))
        keyed = tstats.select(
            "term", "df",
            F.substring(F.reverse("term"), 1, length).alias("_rk"))
        parts.append(keyed.join(F.broadcast(sq_l), "_rk", "inner")
                     .select("qid", "suffix", "term", "df", "qtf"))
    if not parts:
        return sq.select("qid", "suffix",
                         F.lit(None).cast("string").alias("term"),
                         F.lit(None).cast("long").alias("df"), "qtf").limit(0)
    exp = reduce(DataFrame.unionByName, parts)
    w = Window.partitionBy("qid", "suffix").orderBy(F.desc("df"), F.asc("term"))
    return (exp.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_expansions).drop("_rn"))


def suffix_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                sq: DataFrame, n_docs: int, avgdl: float,
                k: int = TOP_K_DEFAULT,
                max_expansions: int = PREFIX_MAX_EXPANSIONS) -> DataFrame:
    """Top-k BM25 over the suffix-expanded disjunction (a term reached
    by two suffixes of one query sums their qtf)."""
    exp = suffix_expansions(tstats, sq, max_expansions)
    eq = (exp.groupBy("qid", "term")
          .agg(F.sum("qtf").cast("int").alias("qtf")))
    return bm25_topk(tc, ds, tstats, eq, n_docs, avgdl, k=k)


def infix_query_df(spark: SparkSession,
                   infix_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, infix, qtf) — whitespace-split, lowercased; repeated
    infixes in one query accumulate qtf (driver-local, same convention
    as prefix_query_df)."""
    rows = []
    for qid, title in infix_set:
        for ifx, qtf in sorted(Counter(title.lower().split()).items()):
            rows.append((qid, ifx, qtf))
    return local_frame(spark, rows, "qid string, infix string, qtf int")


def infix_expansions(tstats: DataFrame, iq: DataFrame,
                     max_expansions: int = PREFIX_MAX_EXPANSIONS) -> DataFrame:
    """(qid, infix, term, df, qtf) — dictionary terms CONTAINING each
    query infix (``*fix*``), top-``max_expansions`` by (df desc, term
    asc), completing the wildcard family next to prefix and suffix.

    The k-gram dictionary index (Manning/Raghavan/Schütze IIR §3.2.2):
    every term explodes into its distinct character bigrams ONCE; a
    query infix's bigrams equi-join that relation, and a term whose
    match count equals the infix's bigram count is a candidate; the
    classic contains() post-filter then kills the non-contiguous false
    positives. The dictionary is never LIKE-'%fix%'-scanned — the only
    per-term work is the bigram explode (dictionary-sized, done once),
    and candidates are bounded by the rarest query bigram's posting
    list in the gram index. Single-character infixes have no bigram
    and fall back to a documented direct contains pass over the
    dictionary (still dictionary-scale, never corpus-scale)."""
    # 1-char terms can never match a >=2-char infix, and for them
    # sequence(1, 0) infers step -1 yielding [1, 0] — junk grams
    # (substr at pos 0) that silently inflate the gram relation —
    # so they are filtered BEFORE the explode
    grams = (tstats.where(F.length("term") >= 2).select(
        "term", "df",
        F.explode(F.array_distinct(F.expr(
            "transform(sequence(1, length(term) - 1),"
            " i -> substr(term, i, 2))"))).alias("g")))
    iqg = (iq.where(F.length("infix") >= 2)
           .select("qid", "infix", "qtf",
                   F.explode(F.array_distinct(F.expr(
                       "transform(sequence(1, length(infix) - 1),"
                       " i -> substr(infix, i, 2))"))).alias("g")))
    ng = (iqg.groupBy("qid", "infix", "qtf")
          .agg(F.count("*").alias("_ng")))
    cand = (grams.join(F.broadcast(iqg), "g")
            .groupBy("qid", "infix", "term", "df")
            .agg(F.count("*").alias("_hit"))
            .join(F.broadcast(ng), ["qid", "infix"])
            .where(F.col("_hit") == F.col("_ng"))
            .where(F.instr("term", F.col("infix")) > 0)
            .select("qid", "infix", "term", "df", "qtf"))
    short = (tstats.select("term", "df")
             .crossJoin(F.broadcast(iq.where(F.length("infix") < 2)))
             .where(F.instr("term", F.col("infix")) > 0)
             .select("qid", "infix", "term", "df", "qtf"))
    exp = cand.unionByName(short)
    w = Window.partitionBy("qid", "infix").orderBy(F.desc("df"), F.asc("term"))
    return (exp.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_expansions).drop("_rn"))


def infix_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
               iq: DataFrame, n_docs: int, avgdl: float,
               k: int = TOP_K_DEFAULT,
               max_expansions: int = PREFIX_MAX_EXPANSIONS) -> DataFrame:
    """Top-k BM25 over the infix-expanded disjunction (a term reached
    by two infixes of one query sums their qtf)."""
    exp = infix_expansions(tstats, iq, max_expansions)
    eq = (exp.groupBy("qid", "term")
          .agg(F.sum("qtf").cast("int").alias("qtf")))
    return bm25_topk(tc, ds, tstats, eq, n_docs, avgdl, k=k)
