"""Rank/score-identity gates (SURVEY.md §5.1, §5.4): Spark BM25 and
SMART schemes vs the pure-Python oracle on the seeded tiny corpus."""

from __future__ import annotations

import math

import pytest

from search_engine_spark.functions.tokenize import term_counts
from search_engine_spark.operators.index_build import (build_all, corpus_stats,
                                                       doc_stats, term_stats)
from search_engine_spark.operators.query import (bm25_topk,
                                                 bm25_topk_from_index,
                                                 query_terms_df, smart_topk,
                                                 trec_export)
from tests.oracle import OracleIndex

QUERIES = [
    ("q1", "a se moc"),
    ("q2", "jsem jsem ten"),       # qtf>1
    ("q3", "zzznothing"),           # full miss
    ("q4", "hodne zzznothing"),     # partial miss
    ("q5", "a"),                    # hottest term
]


@pytest.fixture(scope="module")
def built(spark, tiny_corpus):
    tw, rows = tiny_corpus
    tc, ds, ts_, idx, n_docs = build_all(tw)
    tc = tc.cache()
    oracle = OracleIndex(rows)
    cs = corpus_stats(tw, ds)
    return tw, tc, ds.cache(), ts_.cache(), idx.cache(), cs, oracle


def _collect(res):
    return {qid: [(r.doc_id, r.rank, r.score) for r in rows]
            for qid, rows in _group(res.orderBy("qid", "rank").collect()).items()}


def _group(rows):
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r.qid, []).append(r)
    return out


def _assert_rank_identical(got, oracle_fn, k):
    for qid, title in QUERIES:
        exp = oracle_fn(title, k)
        g = got.get(qid, [])
        assert [(d, r) for d, r, _ in g] == [(d, r) for d, r, _ in exp], \
            f"{qid}: rank mismatch\n got {g}\n exp {exp}"
        for (gd, gr, gs), (ed, er, es) in zip(g, exp):
            assert math.isclose(gs, es, abs_tol=1e-6), f"{qid} doc {gd}: {gs} vs {es}"


@pytest.mark.parametrize("k", [3, 10, 1000])
def test_bm25_rank_identity(spark, built, k):
    _, tc, ds, ts_, idx, cs, oracle = built
    q = query_terms_df(spark, QUERIES)
    got = _collect(bm25_topk(tc, ds, ts_, q, cs["N"], cs["avgdl"], k=k))
    _assert_rank_identical(got, oracle.bm25_topk, k)


def test_bm25_index_path_rank_identity(spark, built):
    _, tc, ds, ts_, idx, cs, oracle = built
    q = query_terms_df(spark, QUERIES)
    got = _collect(bm25_topk_from_index(idx, q, cs["N"], cs["avgdl"], k=10))
    _assert_rank_identical(got, oracle.bm25_topk, 10)


@pytest.mark.parametrize("scheme", ["nnc.nnn", "nnn.nnn", "ltc.ltc", "ltu.nnn",
                                    "bnc.ltc", "ann.nnn", "Ltu.nnn", "npc.ltc",
                                    # query-side augmented / log-average tf
                                    "lnc.anc", "lnc.Ltc", "lnc.ltc", "btn.ltc"])
def test_smart_rank_identity(spark, built, scheme):
    _, tc, ds, ts_, idx, cs, oracle = built
    got = _collect(smart_topk(tc, ds, ts_, QUERIES, cs["N"], scheme=scheme, k=10))
    _assert_rank_identical(got, lambda t, k: oracle.smart_topk(t, k, scheme), 10)


@pytest.mark.parametrize("k", [3, 10])
def test_bm25_conjunctive_rank_identity(spark, built, k):
    """AND-semantics mode vs the filter-based oracle: same scores as
    disjunctive BM25, restricted to docs containing every query term;
    full-miss and partial-miss queries return nothing."""
    from search_engine_spark.operators.query import bm25_topk_conj
    _, tc, ds, ts_, idx, cs, oracle = built
    q = query_terms_df(spark, QUERIES)
    got = _collect(bm25_topk_conj(tc, ds, ts_, q, cs["N"], cs["avgdl"], k=k))
    _assert_rank_identical(got, oracle.bm25_topk_conj, k)
    assert "q3" not in got and "q4" not in got  # OOV term ⇒ empty under AND


def test_trec_export_format(spark, built):
    _, tc, ds, ts_, idx, cs, oracle = built
    q = query_terms_df(spark, [("q1", "a se")])
    lines = [r.line for r in trec_export(
        bm25_topk(tc, ds, ts_, q, cs["N"], cs["avgdl"], k=3)).collect()]
    assert len(lines) == 3
    parts = lines[0].split()
    assert len(parts) == 6 and parts[0] == "q1" and parts[1] == "0" and parts[5] == "spark-bm25"


def test_bm25_exclusion_rank_identity(spark, built):
    """NOT-semantics mode vs the filter-based oracle: same scores as
    disjunctive BM25, minus docs containing any excluded term; a
    self-exclusion empties the result, an OOV exclusion is a no-op."""
    from search_engine_spark.functions.tokenize import tokenize_py
    from search_engine_spark.operators.query import bm25_topk_excl
    _, tc, ds, ts_, idx, cs, oracle = built
    not_qs = [("x1", "a se moc", "ten"),
              ("x2", "jsem ten", "zzznothing"),   # OOV exclusion: no-op
              ("x3", "a", "a")]                   # self-exclusion: empty
    q = query_terms_df(spark, [(qid, t) for qid, t, _ in not_qs])
    ex = spark.createDataFrame(
        [(qid, t) for qid, _, excl in not_qs
         for t in sorted(set(tokenize_py(excl)))],
        "qid string, term string")
    got = _collect(bm25_topk_excl(tc, ds, ts_, q, ex, cs["N"], cs["avgdl"],
                                  k=10))
    for qid, title, excl in not_qs:
        banned = set()
        for t in set(tokenize_py(excl)):
            banned.update(d for d, _ in oracle.postings.get(t, []))
        full = oracle.bm25_topk(title, k=len(oracle.dl))
        kept = [(d, s) for d, _, s in full if d not in banned][:10]
        exp = [(d, i + 1, s) for i, (d, s) in enumerate(kept)]
        g = got.get(qid, [])
        assert [(d, r) for d, r, _ in g] == [(d, r) for d, r, _ in exp], qid
        for (gd, _, gs), (_, _, es) in zip(g, exp):
            assert math.isclose(gs, es, abs_tol=1e-6), f"{qid} doc {gd}"
    assert "x3" not in got


def test_bm25_explain_partials_sum_to_score(spark, built):
    """explain partials sum (pre-round) to the doc's ranked score."""
    from pyspark.sql import functions as F
    from search_engine_spark.operators.query import bm25_explain, bm25_topk
    _tw, tc, ds, ts_, _idx, cs, _o = built
    q = spark.createDataFrame([("q1", "a", 1), ("q1", "se", 1)],
                              "qid string, term string, qtf int")
    top = bm25_topk(tc, ds, ts_, q, cs["N"], cs["avgdl"], k=3)
    ex = bm25_explain(tc, ds, ts_, q, cs["N"], cs["avgdl"], top)
    sums = {r.doc_id: r.s for r in
            ex.groupBy("doc_id").agg(F.sum("partial").alias("s")).collect()}
    for r in top.collect():
        assert math.isclose(sums[r.doc_id], r.score, abs_tol=2e-6)


def test_search_after_equals_deep_page(spark, built):
    """search_after from the rank-10 cursor ≡ ranks 11-20 re-ranked."""
    from pyspark.sql import functions as F
    from search_engine_spark.operators.query import (bm25_scores, bm25_topk,
                                                     search_after)
    _tw, tc, ds, ts_, _idx, cs, _o = built
    q = spark.createDataFrame([("q1", "a", 1), ("q1", "se", 1)],
                              "qid string, term string, qtf int")
    deep = bm25_topk(tc, ds, ts_, q, cs["N"], cs["avgdl"], k=20)
    cursors = (deep.where(F.col("rank") == 10)
               .select("qid", F.col("score").alias("after_score"),
                       F.col("doc_id").alias("after_doc_id")))
    page2 = sorted(search_after(
        bm25_scores(tc, ds, ts_, q, cs["N"], cs["avgdl"]),
        cursors, k=10).collect(), key=lambda r: r.rank)
    want = sorted([r for r in deep.collect() if r.rank > 10],
                  key=lambda r: r.rank)
    assert [(r.doc_id, r.score) for r in page2] == \
        [(r.doc_id, r.score) for r in want]
    assert [r.rank for r in page2] == list(range(1, len(page2) + 1))


def test_pl2_matches_bruteforce(spark, tiny_corpus):
    """PL2 vs an independent per-doc python computation on the seeded
    tiny corpus (frozen LN2/2π literals, round-6 before ranking)."""
    import math
    from collections import Counter

    from search_engine_spark.functions.tokenize import (term_counts_sql,
                                                        tokenize_py)
    from search_engine_spark.operators.dfr import LN2, TWO_PI, pl2_topk
    from search_engine_spark.operators.index_build import (doc_stats,
                                                           term_stats)
    from search_engine_spark.operators.query import query_terms_df
    from tests.oracle import round_half_up

    tw, rows = tiny_corpus
    tc = term_counts_sql(tw)
    ds = doc_stats(tc)
    ts = term_stats(tc)
    docs = {d: tokenize_py(t) for d, t in rows}
    docs = {d: t for d, t in docs.items() if t}
    n = len([1 for _, t in rows])
    dl = {d: len(t) for d, t in docs.items()}
    avgdl = sum(dl.values()) / len(dl)
    cf = Counter(t for toks in docs.values() for t in toks)

    query = [("q1", "a se b")]
    qtf = Counter(tokenize_py(query[0][1]))
    exp = {}
    for d, toks in docs.items():
        tfs = Counter(toks)
        s = 0.0
        for term, qt in qtf.items():
            if term not in tfs:
                continue
            tfn = tfs[term] * (math.log(1.0 + 1.0 * avgdl / dl[d]) / LN2)
            lam = cf[term] / n
            s += qt * (1.0 / (tfn + 1.0)) * (
                tfn * (math.log(tfn / lam) / LN2)
                + (lam - tfn) * (1.0 / LN2)
                + 0.5 * (math.log(TWO_PI * tfn) / LN2))
        if s != 0.0:
            exp[d] = round_half_up(s)
    want = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.doc_id, r.score) for r in
           pl2_topk(tc, ds, ts, query_terms_df(spark, query),
                    n, avgdl, k=10).orderBy("rank").collect()]
    assert got == want


def test_hard_negatives_golden(spark):
    """Positives anti-joined out, first-pass order kept, re-ranked
    1..n_neg, truncated."""
    from search_engine_spark.operators.ltr import hard_negatives
    run = spark.createDataFrame(
        [("q1", d, r, 10.0 - r) for r, d in enumerate([7, 3, 9, 1, 5], 1)]
        + [("q2", d, r, 5.0 - r) for r, d in enumerate([2, 4], 1)],
        "qid string, doc_id long, rank int, score double")
    qrels = spark.createDataFrame(
        [("q1", 3), ("q1", 1), ("q2", 9)], "qid string, doc_id long")
    got = {(r.qid, r.neg_rank): (r.doc_id, r.score) for r in
           hard_negatives(run, qrels, n_neg=2).collect()}
    # q1: 3 and 1 are positives -> negatives in run order: 7, 9, (5 cut)
    # q2: no positives in run -> 2, 4
    assert got == {("q1", 1): (7, 9.0), ("q1", 2): (9, 7.0),
                   ("q2", 1): (2, 4.0), ("q2", 2): (4, 3.0)}
