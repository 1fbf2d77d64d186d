"""NEAR/W proximity retrieval vs a naive all-pairs position-scan
oracle on the seeded tiny corpus, plus a window-boundary corpus that
pins the banded range join's bucket arithmetic (gap == W must match,
gap == W+1 must not — including pairs whose positions land in
NON-adjacent div-W buckets in one orientation)."""

from __future__ import annotations

import math

import pytest

from search_engine_spark.functions.tokenize import term_counts, tokenize_py
from search_engine_spark.operators.index_build import (corpus_stats,
                                                       doc_stats, term_stats)
from search_engine_spark.operators.positional import positional_postings
from search_engine_spark.operators.proximity import (near_bm25_topk,
                                                     near_match,
                                                     near_query_terms_df)
from search_engine_spark.operators.query import query_terms_df
from search_engine_spark.plans.build_driver import OpenedIndex, term_bucket
from tests.oracle import OracleIndex, round_half_up

NEAR_QUERIES = [
    ("n1", "a se"),            # hot pair
    ("n2", "a se moc"),        # three distinct terms
    ("n3", "a"),               # single term: presence-only, NULL gap
    ("n4", "hodne zzznothing"),  # OOV term: no matches anywhere
    ("n5", "jsem jsem ten"),   # duplicate tokens collapse to a set
]


def _naive_near(rows, title: str, window: int):
    """{doc_id: (n_pairs, min_gap|None)} by brute-force all-pairs scan."""
    terms = sorted(set(tokenize_py(title)))
    out: dict[int, tuple[int, int | None]] = {}
    for doc_id, text in rows:
        posmap: dict[str, list[int]] = {}
        for i, t in enumerate(tokenize_py(text), start=1):
            posmap.setdefault(t, []).append(i)
        if not terms or not all(t in posmap for t in terms):
            continue
        gaps: list[int] = []
        ok = True
        for i in range(len(terms)):
            for j in range(i + 1, len(terms)):
                g = min(abs(pa - pb)
                        for pa in posmap[terms[i]]
                        for pb in posmap[terms[j]])
                if g > window:
                    ok = False
                    break
                gaps.append(g)
            if not ok:
                break
        if ok:
            npairs = len(terms) * (len(terms) - 1) // 2
            out[doc_id] = (npairs, min(gaps) if gaps else None)
    return out


@pytest.fixture(scope="module")
def near_built(spark, tiny_corpus):
    tw, rows = tiny_corpus
    pos_idx = positional_postings(tw).cache()
    return tw, rows, pos_idx


@pytest.mark.parametrize("window", [2, 8])
def test_near_match_matches_bruteforce(spark, near_built, window):
    _, rows, pos_idx = near_built
    nq = near_query_terms_df(spark, NEAR_QUERIES)
    got: dict[str, dict[int, tuple]] = {}
    for r in near_match(pos_idx, nq, window=window).collect():
        got.setdefault(r.qid, {})[r.doc_id] = (r.n_pairs, r.min_gap)
    for qid, title in NEAR_QUERIES:
        exp = _naive_near(rows, title, window)
        assert got.get(qid, {}) == exp, f"{qid} ({title!r}) @W={window}"
    assert "n4" not in got


def test_near_boundary_buckets(spark):
    """gap == W matches, gap == W+1 does not, at every phase of the
    div-W banding (start offsets 1..W shift which bucket pair the two
    occurrences land in)."""
    w = 4
    docs = []
    did = 0
    for off in range(w + 1):
        for gap, tag in ((w, "hit"), (w + 1, "miss")):
            did += 1
            toks = ["pad"] * off + ["alfa"] + ["pad"] * (gap - 1) + ["beta"]
            docs.append((did, " ".join(toks), tag))
    tw = spark.createDataFrame([(d, t) for d, t, _ in docs],
                               "doc_id int, text string")
    pos_idx = positional_postings(tw)
    nq = near_query_terms_df(spark, [("q", "alfa beta")])
    got = {r.doc_id: (r.n_pairs, r.min_gap)
           for r in near_match(pos_idx, nq, window=w).collect()}
    exp = {d: (1, w) for d, _, tag in docs if tag == "hit"}
    assert got == exp


def test_near_bm25_topk_matches_filtered_oracle(spark, near_built):
    tw, rows, pos_idx = near_built
    tc = term_counts(tw).cache()
    ds = doc_stats(tc)
    ts_ = term_stats(tc)
    cs = corpus_stats(tw, ds)
    oracle = OracleIndex(rows)
    window = 8
    nq = near_query_terms_df(spark, NEAR_QUERIES)
    q = query_terms_df(spark, NEAR_QUERIES)
    res = near_bm25_topk(tc, ds, ts_, pos_idx, nq, q,
                         cs["N"], cs["avgdl"], window=window, k=10)
    got: dict[str, list] = {}
    for r in res.orderBy("qid", "rank").collect():
        got.setdefault(r.qid, []).append((r.doc_id, r.rank, r.score, r.min_gap))
    for qid, title in NEAR_QUERIES:
        matches = _naive_near(rows, title, window)
        full = oracle.bm25_topk(title, k=len(rows))
        kept = [(d, round_half_up(s)) for d, _, s in full if d in matches]
        kept.sort(key=lambda it: (-it[1], it[0]))
        exp = [(d, i + 1, s, matches[d][1]) for i, (d, s) in enumerate(kept[:10])]
        g = got.get(qid, [])
        assert [(d, r, mg) for d, r, _, mg in g] == \
            [(d, r, mg) for d, r, _, mg in exp], f"{qid}: {g} vs {exp}"
        for (gd, _, gs, _), (_, _, es, _) in zip(g, exp):
            assert math.isclose(gs, es, abs_tol=1e-6), f"{qid} doc {gd}"


def test_near_serving_runs_no_python(spark, near_built, tmp_path):
    """NEAR reads the positions three times (term presence and the two
    sides of the pair join). Served from the committed positional
    layout (plain `positions array<int>`), every read is Spark's own
    Parquet decode behind the term semi-join: the final plan holds no
    Python node. Every input is read back from Parquet, as from a
    committed build (the fresh tokenize pass is itself Python)."""
    tw, _, pos_idx = near_built
    n_term_buckets = 16
    path = str(tmp_path / "positional")
    (pos_idx.withColumn("term_bucket", term_bucket(n_term_buckets))
     .write.partitionBy("term_bucket").parquet(path))

    def committed(df, name):
        df.write.parquet(str(tmp_path / name))
        return spark.read.parquet(str(tmp_path / name))

    tc = committed(term_counts(tw), "term_counts")
    ds = committed(doc_stats(tc), "doc_stats")
    ts_ = committed(term_stats(tc), "term_stats")
    cs = corpus_stats(tw, ds)
    ix = OpenedIndex(index=None, doc_stats=ds, term_stats=ts_, doc_map=None,
                     term_counts=tc, n_docs=cs["N"], avgdl=cs["avgdl"],
                     salt_buckets=4, n_term_buckets=n_term_buckets,
                     positional=spark.read.parquet(path))
    nq = near_query_terms_df(spark, [("n1", "a se")])
    res = near_bm25_topk(tc, ds, ts_, ix.positional_pruned(nq), nq,
                         query_terms_df(spark, [("n1", "a se")]),
                         cs["N"], cs["avgdl"], window=8, k=5)
    assert res.collect()
    plan = res._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert not [n for n in ("ArrowEvalPython", "BatchEvalPython",
                            "MapInPandas", "FlatMapGroupsInPandas")
                if n in plan], plan
    assert plan.count("LeftSemi") >= 1, plan


def test_followed_by_ordered_and_window(spark):
    """Ordered proximity: a→b within W only; b→a never matches; band
    boundaries (gap == W, gap == W+1) behave exactly."""
    from search_engine_spark.operators.proximity import (followed_by_match,
                                                         ordered_pairs_df)
    W = 4
    # doc 1: a at 1, b at 5 (gap 4 == W: match). doc 2: b at 1, a at 3
    # (only reverse order: no match). doc 3: a at 1, b at 6 (gap 5 > W).
    # doc 4: a at 2 and 7, b at 8 → pairs (2,8) gap 6 no, (7,8) gap 1 yes.
    pos = spark.createDataFrame(
        [("a", 1, [1]), ("b", 1, [5]),
         ("b", 2, [1]), ("a", 2, [3]),
         ("a", 3, [1]), ("b", 3, [6]),
         ("a", 4, [2, 7]), ("b", 4, [8])],
        "term string, doc_id long, positions array<int>")
    pq = ordered_pairs_df(spark, [("p1", "a b")])
    got = {r.doc_id: (r.n_hits, r.min_gap)
           for r in followed_by_match(pos, pq, window=W).collect()}
    assert got == {1: (1, 4), 4: (1, 1)}


def test_followed_by_repeated_term_pair(spark):
    """term_a == term_b counts ordered same-term pairs (p < q ≤ p+W)."""
    from search_engine_spark.operators.proximity import (followed_by_match,
                                                         ordered_pairs_df)
    pos = spark.createDataFrame(
        [("line", 1, [1, 3, 9])],
        "term string, doc_id long, positions array<int>")
    pq = ordered_pairs_df(spark, [("p1", "line line")])
    got = followed_by_match(pos, pq, window=4).collect()
    # qualifying ordered pairs: (1,3) gap 2 — (3,9) and (1,9) exceed W
    assert [(r.doc_id, r.n_hits, r.min_gap) for r in got] == [(1, 1, 2)]


def test_followed_by_multi_pair_isolation(spark):
    """Several (a→b) constraints per qid never cross-match: pair 1's
    a-side must not pair with pair 2's b-side."""
    from search_engine_spark.operators.proximity import followed_by_match
    # doc 1: a..d adjacent (a→d is NOT a constraint → must not count);
    # constraints a→b (no b in doc) and c→d (c at 5, d at 6: match).
    pos = spark.createDataFrame(
        [("a", 1, [1]), ("d", 1, [2, 6]), ("c", 1, [5])],
        "term string, doc_id long, positions array<int>")
    pq = spark.createDataFrame([("p1", "a", "b"), ("p1", "c", "d")],
                               "qid string, term_a string, term_b string")
    got = followed_by_match(pos, pq, window=4).collect()
    assert [(r.doc_id, r.n_hits, r.min_gap) for r in got] == [(1, 1, 1)]
