"""Served exact-BM25 gates (SURVEY.md §5.3, M4): `topk_auto` over the
blocked inline-dl index must be rank- AND score-identical to exhaustive
TAAT BM25 — including tie, miss, and hot-term queries — and the block
metadata the index keeps must bound every posting's score."""

from __future__ import annotations

import math

import pytest

from search_engine_spark.functions.tokenize import term_counts
from search_engine_spark.operators.index_build import (corpus_stats, doc_stats,
                                                       postings_blocked,
                                                       term_stats)
from search_engine_spark.operators.query import bm25_topk, query_terms_df
from search_engine_spark.operators import wand

QUERIES = [
    ("q1", "a se moc"),
    ("q2", "jsem jsem ten"),       # qtf>1
    ("q3", "zzznothing"),           # full miss
    ("q4", "hodne zzznothing"),     # partial miss
    ("q5", "a"),                    # hottest (stopword-skew) term
    ("q6", "a se na je to co jsem"),  # many hot terms
]


@pytest.fixture(scope="module")
def built(spark, tiny_corpus):
    tw, _ = tiny_corpus
    tc = term_counts(tw).cache()
    ds = doc_stats(tc).cache()
    ts_ = term_stats(tc).cache()
    cs = corpus_stats(tw, ds)
    idx_dl = postings_blocked(tc, cs["N"], salt_buckets=4, block=16, ds=ds).cache()
    return tc, ds, ts_, idx_dl, cs


def _rows(df):
    return sorted((r.qid, r.rank, r.doc_id, round(r.score, 6))
                  for r in df.collect())


@pytest.mark.parametrize("k", [1, 3, 10, 100])
def test_wand_equals_taat(spark, built, k):
    tc, ds, ts_, idx_dl, cs = built
    q = query_terms_df(spark, QUERIES)
    exhaustive = bm25_topk(tc, ds, ts_, q, cs["N"], cs["avgdl"], k=k)
    served = wand.topk_auto(idx_dl, q, cs["N"], cs["avgdl"], k=k)
    assert _rows(served) == _rows(exhaustive)


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_all_strategies_agree_on_random_corpora(spark, seed):
    """Seeded random mini-corpora (skewed vocab, ties, empty docs): the
    served scorer must equal the pure-Python oracle's BM25 — the §5.3
    property gate run over corpora the engine was not tuned on."""
    import random
    from tests.oracle import OracleIndex
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    weights = [1.0 / (i + 1) for i in range(30)]
    docs = []
    for d in range(rng.randint(40, 80)):
        n = rng.randint(0, 25)
        docs.append((d, " ".join(rng.choices(vocab, weights=weights, k=n))))
    tw = spark.createDataFrame(docs, "doc_id long, text string")
    tc = term_counts(tw)
    ds = doc_stats(tc)
    n_docs = len(docs)
    avgdl_row = ds.agg({"dl": "avg"}).collect()[0][0]
    avgdl = float(avgdl_row or 1.0)
    idx_dl = postings_blocked(tc, n_docs, salt_buckets=3, block=7, ds=ds)
    queries = [("r1", "w0 w25"), ("r2", "w3 w3 w17"), ("r3", "w29"),
               ("r4", "w0 w1"), ("r5", "zzz w2")]
    q = query_terms_df(spark, queries)
    oracle = OracleIndex(docs)
    for k in (1, 5, 20):
        got = _rows(wand.topk_auto(idx_dl, q, n_docs, avgdl, k=k))
        exp = sorted((qid, r, d, s) for qid, title in queries
                     for d, r, s in oracle.bm25_topk(title, k))
        assert [(a, b, c) for a, b, c, _ in got] == \
               [(a, b, c) for a, b, c, _ in exp], f"seed={seed} k={k}"


def test_wand_block_bounds_are_upper_bounds(spark, built):
    """Every posting's true BM25 term score ≤ its block's ub."""
    tc, ds, ts_, idx_dl, cs = built
    k1, b = 1.2, 0.75
    avgdl = cs["avgdl"]
    n = cs["N"]
    rows = idx_dl.select(
        "df", "postings", "block_max_tf", "block_min_dl").collect()
    for r in rows:
        idf = math.log(1.0 + (n - r.df + 0.5) / (r.df + 0.5))
        ub = idf * (r.block_max_tf * (k1 + 1.0)
                    / (r.block_max_tf + k1 * (1.0 - b + b * r.block_min_dl / avgdl)))
        for p in r.postings:
            s = idf * (p.tf * (k1 + 1.0)
                       / (p.tf + k1 * (1.0 - b + b * p.dl / avgdl)))
            assert s <= ub + 1e-12
