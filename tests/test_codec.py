"""Varbyte/delta-gap codec gates (SURVEY.md §5.2): golden bytes,
round-trip (incl. hypothesis property), and Spark encode/decode
identity over a blocked index."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.functions.codec import (decode_block,
                                                 decoded_postings_long,
                                                 encode_block, encode_index,
                                                 varbyte_decode, varbyte_encode)


def test_varbyte_golden_bytes():
    # LEB128: 0→00, 1→01, 127→7f, 128→80 01, 300→ac 02, 16384→80 80 01
    cases = {0: [0x00], 1: [0x01], 127: [0x7F], 128: [0x80, 0x01],
             300: [0xAC, 0x02], 16384: [0x80, 0x80, 0x01]}
    for v, bs in cases.items():
        assert varbyte_encode(np.array([v], dtype=np.uint64)).tolist() == bs
    stream = varbyte_encode(np.array([0, 1, 300], dtype=np.uint64))
    assert stream.tolist() == [0x00, 0x01, 0xAC, 0x02]


def test_varbyte_64bit_extremes():
    v = np.array([2**63, 2**64 - 1, 2**40, 10**12], dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(v)), v)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varbyte_roundtrip_property(vals):
    v = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varbyte_decode(varbyte_encode(v)), v)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=10**13),
                          st.integers(min_value=1, max_value=70000)),
                max_size=200, unique_by=lambda p: p[0]))
def test_block_roundtrip_property(postings):
    postings.sort()
    d = np.array([p[0] for p in postings], dtype=np.uint64)
    t = np.array([p[1] for p in postings], dtype=np.uint64)
    dd, tt = decode_block(encode_block(d, t))
    assert dd.tolist() == d.astype(np.int64).tolist()
    assert tt.tolist() == t.astype(np.int64).tolist()


def test_block_compression_ratio():
    """Gap+varbyte beats raw 2×int64 for dense ascending doc_ids."""
    d = np.arange(0, 128 * 7, 7, dtype=np.uint64) + 10**9
    t = np.ones(128, dtype=np.uint64)
    enc = encode_block(d, t)
    assert len(enc) < 128 * 16 / 4  # ≥4× smaller than raw pairs


def test_spark_encode_decode_index_identity(spark, tiny_corpus):
    """encode_index → decoded_postings_long restores every (term,
    block, doc_id, tf) posting of the blocked index, in block order."""
    from search_engine_spark.functions.tokenize import term_counts
    from search_engine_spark.operators.index_build import postings_blocked

    tw, _ = tiny_corpus
    tc = term_counts(tw)
    n_docs = tw.count()
    idx = postings_blocked(tc, n_docs, salt_buckets=4, block=16)
    enc = encode_index(idx)
    assert "postings_enc" in enc.columns and "postings" not in enc.columns
    flat = decoded_postings_long(enc)
    got = sorted((r.term, r.block_no, r.df, r.doc_id, r.tf)
                 for r in flat.collect())
    exp = sorted((r.term, r.block_no, r.df, p.doc_id, p.tf)
                 for r in idx.collect() for p in r.postings)
    assert got == exp and got


def test_positions_roundtrip_property(spark):
    """encode→decode over the positional stream is the identity,
    including empty, single, dense-adjacent, and large-gap lists."""
    from search_engine_spark.functions.codec import (decode_positions_udf,
                                                     encode_positions_udf)
    rows = [(1, [1]), (2, [1, 2, 3, 4]), (3, [5, 900, 100000]),
            (4, []), (5, list(range(1, 513)))]
    df = spark.createDataFrame(rows, "doc_id long, positions array<int>")
    got = {r.doc_id: r.back for r in
           df.select("doc_id",
                     decode_positions_udf(encode_positions_udf("positions"))
                     .alias("back")).collect()}
    for doc_id, pos in rows:
        assert got[doc_id] == pos


def test_positions_encoding_is_compact(spark):
    """Dense position lists shrink well below the 4-byte-per-position
    plain layout (the point of gap+varbyte at corpus scale)."""
    from pyspark.sql import functions as F
    from search_engine_spark.functions.codec import encode_positions_udf
    dense = [(1, list(range(1, 1001)))]
    df = spark.createDataFrame(dense, "doc_id long, positions array<int>")
    n = df.select(F.length(encode_positions_udf("positions")).alias("n")) \
          .collect()[0].n
    assert n < 1000 * 2  # gaps of 1 → ~1 byte each (+header)
