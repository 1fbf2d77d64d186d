"""Index-build tests (north rule "index-stats tests"): Spark stats vs
pure-Python oracle; posting invariants; salted/blocked path identity;
doc_id mint properties."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from search_engine_spark.functions.tokenize import term_counts
from search_engine_spark.operators.docids import mint_doc_ids
from search_engine_spark.operators.index_build import (corpus_stats, doc_stats,
                                                       postings_blocked,
                                                       postings_salted,
                                                       postings_simple,
                                                       term_stats)
from tests.oracle import OracleIndex


@pytest.fixture(scope="module")
def built(spark, tiny_corpus):
    tw, rows = tiny_corpus
    tc = term_counts(tw).cache()
    oracle = OracleIndex(rows)
    return tw, tc, oracle


def test_term_stats_match_oracle(built):
    _, tc, oracle = built
    got = {r.term: (r.df, r.cf) for r in term_stats(tc).collect()}
    exp = {t: (oracle.df[t], oracle.cf[t]) for t in oracle.df}
    assert got == exp


def test_doc_stats_match_oracle(built):
    _, tc, oracle = built
    got = {r.doc_id: r for r in doc_stats(tc).collect()}
    assert set(got) == set(oracle.dl)
    for d in oracle.dl:
        r = got[d]
        assert r.dl == oracle.dl[d]
        assert r.uniq == oracle.uniq[d]
        assert r.max_tf == oracle.max_tf[d]
        assert math.isclose(r.len_l2, oracle.len_l2[d], rel_tol=1e-12)
        assert math.isclose(r.ave_tf, oracle.ave_tf[d], rel_tol=1e-12)


def test_corpus_stats(built, tiny_corpus):
    tw, rows = tiny_corpus
    _, tc, oracle = built
    cs = corpus_stats(tw, doc_stats(tc))
    assert cs["N"] == len(rows)
    assert math.isclose(cs["avgdl"], oracle.avgdl, rel_tol=1e-12)


def test_postings_match_oracle_and_sorted(built):
    _, tc, oracle = built
    got = {r.term: [(p.doc_id, p.tf) for p in r.postings]
           for r in postings_simple(tc).collect()}
    assert got == dict(oracle.postings)
    for plist in got.values():
        ids = [d for d, _ in plist]
        assert ids == sorted(ids) and len(set(ids)) == len(ids)


def test_salted_equals_simple(built, tiny_corpus):
    tw, rows = tiny_corpus
    _, tc, _ = built
    simple = {r.term: ([(p.doc_id, p.tf) for p in r.postings], r.df, r.cf)
              for r in postings_simple(tc).collect()}
    for s in (2, 7, 16):
        salted = {r.term: ([(p.doc_id, p.tf) for p in r.postings], r.df, r.cf)
                  for r in postings_salted(tc, len(rows), salt_buckets=s).collect()}
        assert salted == simple, f"salt_buckets={s}"


def test_blocked_reconstructs_simple(built, tiny_corpus):
    tw, rows = tiny_corpus
    _, tc, _ = built
    simple = {r.term: [(p.doc_id, p.tf) for p in r.postings]
              for r in postings_simple(tc).collect()}
    blocked = postings_blocked(tc, len(rows), salt_buckets=4, block=8).collect()
    rebuilt: dict[str, list] = {}
    for r in sorted(blocked, key=lambda r: (r.term, r.block_no)):
        rebuilt.setdefault(r.term, []).extend((p.doc_id, p.tf) for p in r.postings)
        # block invariants
        assert len(r.postings) <= 8
        assert r.first_doc_id == r.postings[0].doc_id
        assert r.last_doc_id == r.postings[-1].doc_id
        assert r.block_max_tf == max(p.tf for p in r.postings)
    assert rebuilt == simple
    # per-term df/cf ride along correctly; block_nos are unique and
    # strictly increasing in doc order (arithmetic salt·bpr+blk
    # numbering — sparse by design, never re-sorted by a window)
    by_term: dict[str, list] = {}
    for r in blocked:
        by_term.setdefault(r.term, []).append(r)
    for term, rs in by_term.items():
        rs = sorted(rs, key=lambda r: r.block_no)
        assert len({r.block_no for r in rs}) == len(rs)
        firsts = [r.first_doc_id for r in rs]
        assert firsts == sorted(firsts)
        assert all(a.last_doc_id < b.first_doc_id for a, b in zip(rs, rs[1:]))
        assert all(r.df == len(simple[term]) for r in rs)


def test_invariants_sum_df_cf(built):
    """Σ df over terms == #distinct (term,doc); Σ cf == Σ dl."""
    _, tc, oracle = built
    ts = term_stats(tc).agg(F.sum("df").alias("sdf"), F.sum("cf").alias("scf")).collect()[0]
    assert ts.sdf == sum(oracle.df.values()) == tc.count()
    assert ts.scf == sum(oracle.dl.values())


def test_doc_id_mint_dense_and_ordered(spark):
    from search_engine_spark.sources.transcripts import generate_transcripts
    t = generate_transcripts(spark, n_convs=40, seed=7, partitions=8)
    tw = mint_doc_ids(t, n_buckets=5)
    rows = tw.select("conv_id", "turn_idx", "doc_id").collect()
    ids = sorted(r.doc_id for r in rows)
    assert ids == list(range(len(rows)))
    by_key = sorted(rows, key=lambda r: (r.conv_id, r.turn_idx))
    assert [r.doc_id for r in by_key] == list(range(len(rows)))


def test_doc_id_mint_dense_when_splitters_are_sampled(spark):
    """20,000 turns over 8 buckets: the splitters come from a sample,
    not from every key, and the counts and the ranked rows are separate
    actions. The minted ids must be a dense permutation in
    (conv_id, turn_idx) order, and the same when the frame is
    evaluated again."""
    rows = [(f"c{i % 997:04d}", i // 997) for i in range(20000)]
    t = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    tw = mint_doc_ids(t, n_buckets=8)
    got = {(r.conv_id, r.turn_idx): r.doc_id for r in tw.collect()}
    assert [got[k] for k in sorted(rows)] == list(range(len(rows)))
    again = {(r.conv_id, r.turn_idx): r.doc_id for r in tw.collect()}
    assert again == got


def test_doc_id_mint_stable_under_repartition(spark):
    from search_engine_spark.sources.transcripts import generate_transcripts
    t = generate_transcripts(spark, n_convs=30, seed=9)
    a = {(r.conv_id, r.turn_idx): r.doc_id
         for r in mint_doc_ids(t.repartition(3), n_buckets=4).collect()}
    b = {(r.conv_id, r.turn_idx): r.doc_id
         for r in mint_doc_ids(t.repartition(11), n_buckets=4).collect()}
    assert a == b


def test_salt_buckets_for_span_contract():
    """Frozen-span derivation (conf.SALT_DOC_SPAN): per-(term, salt) run
    size is bounded by the span at ANY corpus size, and an explicit
    count stays a pure override."""
    from search_engine_spark.conf import SALT_DOC_SPAN, salt_buckets_for
    # explicit override wins verbatim (floor 1)
    assert salt_buckets_for(10**6, 64) == 64
    assert salt_buckets_for(10**6, 0) == 1
    # derived: ceil(n / span); tiny corpora collapse to one bucket
    assert salt_buckets_for(1) == 1
    assert salt_buckets_for(SALT_DOC_SPAN) == 1
    assert salt_buckets_for(SALT_DOC_SPAN + 1) == 2
    for n in (10**5, 10**9, 10**12):
        b = salt_buckets_for(n)
        span = (n + b - 1) // b  # the span postings_blocked recomputes
        assert span <= SALT_DOC_SPAN          # run size constant in n
        assert b * span >= n                  # covers the whole doc space
        assert (b - 1) * SALT_DOC_SPAN < n    # no empty trailing fan-out


def test_salted_span_default_equals_simple(built, tiny_corpus):
    """postings_salted/postings_blocked with the span-derived DEFAULT
    fan-out (salt_buckets=None) reproduce the unsalted postings."""
    tw, rows = tiny_corpus
    _, tc, _ = built
    simple = {r.term: ([(p.doc_id, p.tf) for p in r.postings], r.df, r.cf)
              for r in postings_simple(tc).collect()}
    salted = {r.term: ([(p.doc_id, p.tf) for p in r.postings], r.df, r.cf)
              for r in postings_salted(tc, len(rows)).collect()}
    assert salted == simple
    rebuilt: dict[str, list] = {}
    for r in sorted(postings_blocked(tc, len(rows)).collect(),
                    key=lambda r: (r.term, r.block_no)):
        rebuilt.setdefault(r.term, []).extend((p.doc_id, p.tf) for p in r.postings)
    assert rebuilt == {t: v[0] for t, v in simple.items()}


def test_reshard_blocked_index_lossless(spark, tiny_corpus):
    """explode → reassemble at a different salt fan-out preserves the
    flat posting relation and the per-term df/cf exactly (the shard-
    split operation for a grown cluster)."""
    from search_engine_spark.functions.tokenize import term_counts
    from search_engine_spark.operators.index_build import (
        explode_blocked, postings_blocked, term_stats)
    tw, _rows = tiny_corpus
    tc = term_counts(tw)
    n_docs = tw.count()
    idx4 = postings_blocked(tc, n_docs, salt_buckets=4)
    idx16 = postings_blocked(explode_blocked(idx4), n_docs, salt_buckets=16)
    orig = {(r.doc_id, r.term, r.tf) for r in tc.collect()}
    resh = {(r.doc_id, r.term, r.tf) for r in explode_blocked(idx16).collect()}
    assert resh == orig
    ts_orig = {(r.term, r.df, r.cf) for r in term_stats(tc).collect()}
    ts_resh = {(r.term, r.df, r.cf) for r in
               idx16.select("term", "df", "cf").distinct().collect()}
    assert ts_resh == ts_orig
