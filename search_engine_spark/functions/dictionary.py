"""Corpus-derived stopwords.

The reference ships a fixed stopword list; at 10^12 turns the list has
to come from the corpus's own term statistics, one aggregate over the
term dictionary (term_stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def derive_stopwords(ts: DataFrame, n_docs: int,
                     df_frac: float = 0.5, top_cf: int = 0) -> DataFrame:
    """(term, df, cf, reason) — corpus-derived stopword candidates:
    terms in more than df_frac of all documents, plus optionally the
    top_cf most frequent terms by collection frequency. The reference
    ships a FIXED stopwords file (/root/reference/src/stopwords.txt);
    at 10^12 turns the list must come from the corpus itself — this is
    the one-aggregate derivation, and its output feeds the same
    tokenize(filter_stopwords=...) path."""
    by_df = (ts.where(F.col("df") > float(df_frac) * n_docs)
             .select("term", "df", "cf", F.lit("df_frac").alias("reason")))
    if top_cf <= 0:
        return by_df
    by_cf = (ts.orderBy(F.desc("cf"), F.asc("term")).limit(top_cf)
             .select("term", "df", "cf", F.lit("top_cf").alias("reason")))
    return (by_df.unionByName(by_cf)
            .groupBy("term", "df", "cf")
            .agg(F.min("reason").alias("reason")))
