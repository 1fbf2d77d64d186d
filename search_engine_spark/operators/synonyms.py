"""Synonym / thesaurus query expansion.

The reference engine scores the literal topic terms only
(/root/reference/src/invertedIndex.py:100-123 parses the topic, :226
looks the terms up verbatim); production fulltext engines layer a
thesaurus on top — each query term also matches its synonyms at a
discounted weight. This module does that expansion as a tiny
broadcast join BEFORE retrieval, so every downstream scorer (BM25,
SMART, LM) works unchanged: synonyms only ever change the
(qid, term, qtf) relation.

Scale shape: the synonym map is a dictionary-sized table (thousands
of rows at most) and the query set is tiny — the whole expansion is
driver-light and executor-free until the expanded terms hit the
posting join, which is the same broadcast-semi-join path as an
unexpanded query. Nothing here grows with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

SYNONYM_WEIGHT_DEFAULT = 0.5


def expand_query_terms(qterms: DataFrame, synonyms: DataFrame,
                       weight: float = SYNONYM_WEIGHT_DEFAULT) -> DataFrame:
    """(qid, term, qtf double) — the input query terms plus, for each
    (term → synonym) pair, the synonym at ``qtf * weight``.

    `qterms`: (qid, term, qtf); `synonyms`: (term, synonym). When an
    expansion collides with an original term (or two expansions
    collide) the weights ADD — the standard bag-of-words union. The
    synonym map is broadcast (dictionary-sized); the aggregation runs
    over |query terms| × fan-out rows, i.e. constant in corpus size.
    """
    expanded = (qterms.join(F.broadcast(synonyms), "term", "inner")
                .select("qid", F.col("synonym").alias("term"),
                        (F.col("qtf").cast("double") * F.lit(float(weight)))
                        .alias("qtf")))
    base = qterms.select("qid", "term", F.col("qtf").cast("double").alias("qtf"))
    return (base.unionByName(expanded)
            .groupBy("qid", "term").agg(F.sum("qtf").alias("qtf")))


def synonyms_df(spark, pairs: list[tuple[str, str]],
                symmetric: bool = True) -> DataFrame:
    """Build the (term, synonym) map from literal pairs; ``symmetric``
    mirrors each pair so the thesaurus works in both directions."""
    rows = list(pairs)
    if symmetric:
        rows += [(s, t) for t, s in pairs]
    # dedup in the driver: the map is dictionary-sized by contract
    rows = sorted(set((t, s) for t, s in rows if t != s))
    return local_frame(spark, rows, "term string, synonym string")
