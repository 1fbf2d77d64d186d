"""Batch index merge: merging two disjoint-half indexes must be
row-identical to one build over the union corpus, for both the plain
and inline-dl layouts."""

from __future__ import annotations

import pytest

from search_engine_spark.functions.tokenize import term_counts
from search_engine_spark.operators.index_build import (doc_stats,
                                                       explode_blocked,
                                                       merge_blocked_indexes,
                                                       postings_blocked)


def _norm(idx):
    out = set()
    for r in idx.collect():
        postings = tuple(tuple(p) for p in r.postings)
        out.add((r.term, r.block_no, r.df, r.cf, postings,
                 r.first_doc_id, r.last_doc_id, r.block_max_tf, r.salt))
    return out


def test_merge_equals_full_build(spark, tiny_corpus):
    tw, _ = tiny_corpus
    n = tw.count()
    a = tw.where("doc_id % 2 = 0")
    b = tw.where("doc_id % 2 = 1")
    ia = postings_blocked(term_counts(a), a.count())
    ib = postings_blocked(term_counts(b), b.count())
    merged = merge_blocked_indexes(ia, ib, n)
    full = postings_blocked(term_counts(tw), n)
    assert _norm(merged) == _norm(full)


def test_merge_inline_dl_equals_full_build(spark, tiny_corpus):
    tw, _ = tiny_corpus
    n = tw.count()
    a = tw.where("doc_id % 2 = 0")
    b = tw.where("doc_id % 2 = 1")
    tca, tcb, tc = term_counts(a), term_counts(b), term_counts(tw)
    ia = postings_blocked(tca, a.count(), ds=doc_stats(tca))
    ib = postings_blocked(tcb, b.count(), ds=doc_stats(tcb))
    merged = merge_blocked_indexes(ia, ib, n)
    full = postings_blocked(tc, n, ds=doc_stats(tc))
    got = {(r.term, r.block_no, tuple(tuple(p) for p in r.postings),
            r.block_min_dl) for r in merged.collect()}
    want = {(r.term, r.block_no, tuple(tuple(p) for p in r.postings),
             r.block_min_dl) for r in full.collect()}
    assert got == want


def test_merge_layout_mismatch_raises(spark, tiny_corpus):
    tw, _ = tiny_corpus
    a = tw.where("doc_id % 2 = 0")
    b = tw.where("doc_id % 2 = 1")
    tca, tcb = term_counts(a), term_counts(b)
    ia = postings_blocked(tca, a.count(), ds=doc_stats(tca))
    ib = postings_blocked(tcb, b.count())
    with pytest.raises(ValueError, match="layout mismatch"):
        merge_blocked_indexes(ia, ib, tw.count())


def test_explode_blocked_roundtrip(spark, tiny_corpus):
    tw, _ = tiny_corpus
    tc = term_counts(tw)
    idx = postings_blocked(tc, tw.count())
    got = {(r.doc_id, r.term, r.tf) for r in explode_blocked(idx).collect()}
    want = {(r.doc_id, r.term, r.tf) for r in tc.collect()}
    assert got == want


def test_bm25_union_serving_equals_monolithic(spark, tiny_corpus):
    """Main+delta union serving with serve-time global-df recompute is
    rank- and score-identical to one monolithic index (the LSM
    freshness pattern bm25_topk_delta gates against the SQL oracle)."""
    from pyspark.sql import functions as F
    from search_engine_spark.functions.tokenize import term_counts
    from search_engine_spark.operators.index_build import (doc_stats,
                                                           postings_blocked)
    from search_engine_spark.operators.query import (bm25_topk_from_index,
                                                     bm25_topk_union,
                                                     query_terms_df)
    tw, _ = tiny_corpus
    tc = term_counts(tw)
    ds = doc_stats(tc)
    n = tw.count()
    avgdl = float(ds.agg(F.avg("dl")).collect()[0][0])
    q = query_terms_df(spark, [("q1", "a se to"), ("q2", "je na")])
    mono = postings_blocked(tc, n, salt_buckets=4, ds=ds)
    expected = {(r.qid, r.doc_id): (r.rank, r.score)
                for r in bm25_topk_from_index(mono, q, n, avgdl,
                                              k=10).collect()}
    is_delta = F.col("doc_id") % 3 == 0
    seg_a = postings_blocked(tc.where(~is_delta), n, salt_buckets=4,
                             ds=ds.where(~is_delta))
    seg_b = postings_blocked(tc.where(is_delta), n, salt_buckets=4,
                             ds=ds.where(is_delta))
    got = {(r.qid, r.doc_id): (r.rank, r.score)
           for r in bm25_topk_union([seg_a, seg_b], q, n, avgdl,
                                    k=10).collect()}
    assert got == expected and len(got) > 0
