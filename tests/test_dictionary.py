"""Corpus-derived stopwords (functions/dictionary.py)."""

from __future__ import annotations

from search_engine_spark.functions.dictionary import derive_stopwords


def test_derive_stopwords(spark):
    ts = spark.createDataFrame(
        [("the", 95, 500), ("of", 80, 400), ("rare", 2, 2),
         ("mid", 30, 300), ("hot", 10, 450)],
        "term string, df long, cf long")
    got = {r.term: r.reason
           for r in derive_stopwords(ts, n_docs=100, df_frac=0.5,
                                     top_cf=3).collect()}
    # df rule: the, of; cf top-3 adds hot (and keeps the/of as df_frac)
    assert got["the"] == "df_frac" and got["of"] == "df_frac"
    assert got["hot"] == "top_cf"
    assert "rare" not in got
