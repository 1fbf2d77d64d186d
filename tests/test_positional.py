"""Positional index + exact-phrase retrieval vs a naive Python
position-scan oracle on the seeded tiny corpus, plus the served
exact-BM25 path (topk_auto ≡ plain BM25 at shallow and TREC depth)."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from search_engine_spark.functions.tokenize import term_counts, tokenize_py
from search_engine_spark.operators.index_build import (corpus_stats, doc_stats,
                                                       postings_blocked,
                                                       term_stats)
from search_engine_spark.operators.positional import (phrase_bm25_topk,
                                                      phrase_match_topk,
                                                      phrase_occurrences,
                                                      phrase_query_terms_df,
                                                      phrase_stats,
                                                      phrase_terms_df,
                                                      positional_postings)
from search_engine_spark.operators.query import bm25_topk, query_terms_df
from search_engine_spark.operators.wand import topk_auto
from tests.oracle import OracleIndex, round_half_up


def _naive_phrase_tf(rows, phrase: str) -> dict[int, int]:
    """Position-scan oracle: overlapping occurrences counted."""
    toks = tokenize_py(phrase)
    n = len(toks)
    out: dict[int, int] = {}
    for doc_id, text in rows:
        dt = tokenize_py(text)
        c = sum(1 for i in range(len(dt) - n + 1) if dt[i:i + n] == toks)
        if c:
            out[doc_id] = c
    return out


@pytest.fixture(scope="module")
def pos_built(spark, tiny_corpus):
    tw, rows = tiny_corpus
    pos_idx = positional_postings(tw).cache()
    # phrases guaranteed present: hottest bigram/trigram of the seeded
    # corpus, a repeated-term bigram if one exists (duplicate-offset +
    # overlap path), and an out-of-vocabulary miss
    big: Counter = Counter()
    tri: Counter = Counter()
    rep: Counter = Counter()
    for _, text in rows:
        dt = tokenize_py(text)
        for i in range(len(dt) - 1):
            big[(dt[i], dt[i + 1])] += 1
            if dt[i] == dt[i + 1]:
                rep[(dt[i], dt[i + 1])] += 1
        for i in range(len(dt) - 2):
            tri[(dt[i], dt[i + 1], dt[i + 2])] += 1
    phrases = [("pb", " ".join(big.most_common(1)[0][0])),
               ("pt", " ".join(tri.most_common(1)[0][0])),
               ("pmiss", "zzznothing zzznowhere")]
    if rep:
        phrases.append(("prep", " ".join(rep.most_common(1)[0][0])))
    return tw, rows, pos_idx, phrases


def test_positional_postings_match_oracle(pos_built):
    """Every stored (term, doc_id) row: tf == len(positions) and the
    positions are exactly the 1-based token indexes."""
    _, rows, pos_idx, _ = pos_built
    got = {(r.term, r.doc_id): (r.tf, list(r.positions))
           for r in pos_idx.collect()}
    exp: dict[tuple[str, int], tuple[int, list[int]]] = {}
    for doc_id, text in rows:
        posmap: dict[str, list[int]] = {}
        for i, t in enumerate(tokenize_py(text), start=1):
            posmap.setdefault(t, []).append(i)
        for t, ps in posmap.items():
            exp[(t, doc_id)] = (len(ps), ps)
    assert got == exp


def test_phrase_occurrences_match_naive_scan(spark, pos_built):
    _, rows, pos_idx, phrases = pos_built
    ph = phrase_terms_df(spark, phrases)
    got: dict[str, dict[int, int]] = {}
    for r in phrase_occurrences(pos_idx, ph).collect():
        got.setdefault(r.qid, {})[r.doc_id] = r.phrase_tf
    for qid, phrase in phrases:
        exp = _naive_phrase_tf(rows, phrase)
        assert got.get(qid, {}) == exp, f"{qid} ({phrase!r})"
    assert "pmiss" not in got


def test_phrase_match_topk_order_and_stats(spark, pos_built):
    _, rows, pos_idx, phrases = pos_built
    ph = phrase_terms_df(spark, phrases)
    k = 15
    top = phrase_match_topk(pos_idx, ph, k=k)
    by_qid: dict[str, list] = {}
    for r in top.orderBy("qid", "rank").collect():
        by_qid.setdefault(r.qid, []).append((r.doc_id, r.phrase_tf, r.rank))
    st = {r.qid: (r.docs_matched, r.occurrences)
          for r in phrase_stats(pos_idx, ph).collect()}
    for qid, phrase in phrases:
        exp = _naive_phrase_tf(rows, phrase)
        order = sorted(exp.items(), key=lambda it: (-it[1], it[0]))[:k]
        assert by_qid.get(qid, []) == [
            (d, c, i + 1) for i, (d, c) in enumerate(order)]
        if exp:
            assert st[qid] == (len(exp), sum(exp.values()))
        else:
            assert qid not in st


def test_phrase_bm25_topk_matches_filtered_oracle(spark, pos_built):
    tw, rows, pos_idx, phrases = pos_built
    tc = term_counts(tw).cache()
    ds = doc_stats(tc)
    ts_ = term_stats(tc)
    cs = corpus_stats(tw, ds)
    oracle = OracleIndex(rows)
    ph = phrase_terms_df(spark, phrases)
    qt = phrase_query_terms_df(spark, phrases)
    res = phrase_bm25_topk(tc, ds, ts_, pos_idx, ph, qt,
                           cs["N"], cs["avgdl"], k=10)
    got: dict[str, list] = {}
    for r in res.orderBy("qid", "rank").collect():
        got.setdefault(r.qid, []).append((r.doc_id, r.rank, r.score, r.phrase_tf))
    for qid, phrase in phrases:
        matches = _naive_phrase_tf(rows, phrase)
        full = oracle.bm25_topk(phrase, k=len(rows))  # exhaustive, no cutoff
        kept = [(d, round_half_up(s)) for d, _, s in full if d in matches]
        kept.sort(key=lambda it: (-it[1], it[0]))
        exp = [(d, i + 1, s, matches[d]) for i, (d, s) in enumerate(kept[:10])]
        g = got.get(qid, [])
        assert [(d, r, p) for d, r, _, p in g] == [(d, r, p) for d, r, _, p in exp], \
            f"{qid}: {g} vs {exp}"
        for (gd, _, gs, _), (ed, _, es, _) in zip(g, exp):
            assert math.isclose(gs, es, abs_tol=1e-6), f"{qid} doc {gd}"


QUERIES = [
    ("q1", "a se moc"),
    ("q2", "jsem jsem ten"),
    ("q3", "hodne zzznothing"),
    ("q5", "a"),
]


@pytest.mark.parametrize("k", [10, 1000])
def test_topk_auto_identical_on_both_branches(spark, tiny_corpus, k):
    """Shallow (k=10) and TREC-depth (k=1000) serving must both equal
    plain BM25."""
    tw, _ = tiny_corpus
    tc = term_counts(tw).cache()
    ds = doc_stats(tc)
    ts_ = term_stats(tc)
    cs = corpus_stats(tw, ds)
    idx_dl = postings_blocked(tc, cs["N"], salt_buckets=4, block=16, ds=ds).cache()
    q = query_terms_df(spark, QUERIES)
    exhaustive = bm25_topk(tc, ds, ts_, q, cs["N"], cs["avgdl"], k=k)
    auto = topk_auto(idx_dl, q, cs["N"], cs["avgdl"], k=k)
    rows = lambda df: sorted((r.qid, r.rank, r.doc_id, round(r.score, 6))
                             for r in df.collect())
    assert rows(auto) == rows(exhaustive)


def test_span_first_matches_golden(spark):
    """Term at positions (1-based) within/beyond the window."""
    from search_engine_spark.operators.positional import (
        positional_postings, span_first_matches)
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta beta alpha"),
         (3, "x y z w v alpha")],
        "doc_id long, text string")
    idx = positional_postings(docs)
    q = spark.createDataFrame([("q1", "alpha"), ("q2", "beta")],
                              "qid string, term string")
    got = {(r.qid, r.doc_id): r.first_pos
           for r in span_first_matches(idx, q, max_pos=3).collect()}
    # alpha: doc1 pos1 ok, doc2 pos3 ok, doc3 pos6 filtered
    # beta:  doc1 pos2 ok, doc2 pos1 ok
    assert got == {("q1", 1): 1, ("q1", 2): 3,
                   ("q2", 1): 2, ("q2", 2): 1}
