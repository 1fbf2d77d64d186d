"""Posting-list compression — delta-gap + varbyte codec (SURVEY.md §2.2
P6).

Reference analogue: the reference packs (docid, tf) into uint64s in
memory (combineInts /root/reference/src/invertedIndex.py:125-139) but
persists postings as PLAIN TEXT lines (writeIndex :703-729). Here
doc_ids are delta-gapped (postings are sorted ascending, O2) then
varbyte(LEB128)-encoded, tfs varbyte-encoded, concatenated as

    [varbyte n] [varbyte gap]*n [varbyte tf]*n

Everything is numpy-vectorized (no per-value Python loop): encode fills
all byte positions with at most 10 masked passes (64-bit ⇒ ≤10 varbyte
groups); decode reconstructs values with one reduceat over the 7-bit
groups. The Spark surface is a pair of Arrow-batched pandas UDFs over
blocked index rows, plus the same pair for position lists.

The committed index does not use this codec: it stores plain Parquet
arrays, which the zstd + v2 writer delta-encodes and Spark's vectorized
reader decodes with no Python task (plans/build_driver.py). The codec
stays as a library for the value gates that prove it lossless
(`bm25_topk_varbyte`, `phrase_match_varbyte`), for the Elias-Fano
codec's header and tf stream (functions/ef_codec.py) and for bench.py's doc-id
reassignment byte count.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

# --- pure numpy codec -------------------------------------------------


def varbyte_encode(values: np.ndarray) -> np.ndarray:
    """LEB128 varbyte encode a uint64 array → uint8 array.

    Little-endian 7-bit groups; high bit set = continuation. Vectorized:
    per-value byte counts via bit length, then one masked fill pass per
    byte position (≤10 for 64-bit values).
    """
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8)
    # bytes needed = ceil(bit_length / 7), minimum 1
    nb = np.ones(v.shape, dtype=np.int64)
    work = v >> np.uint64(7)
    while np.any(work):
        nb += (work > 0)
        work >>= np.uint64(7)
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_nb = int(nb.max())
    for i in range(max_nb):
        mask = nb > i
        byte = ((v[mask] >> np.uint64(7 * i)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 > i).astype(np.uint8) << 7
        out[starts[mask] + i] = byte | cont
    return out


def varbyte_decode(buf: np.ndarray) -> np.ndarray:
    """Inverse of varbyte_encode: uint8 array → uint64 array."""
    b = np.asarray(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_final = (b & 0x80) == 0
    starts = np.flatnonzero(np.r_[True, is_final[:-1]])
    counts = np.diff(np.r_[starts, b.size])
    pos = np.arange(b.size) - np.repeat(starts, counts)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray) -> bytes:
    """One posting block → bytes: varbyte(n) + varbyte(gaps) +
    varbyte(tfs). doc_ids must be strictly ascending (delta-gap
    precondition, O2)."""
    d = np.asarray(doc_ids, dtype=np.uint64)
    t = np.asarray(tfs, dtype=np.uint64)
    gaps = np.diff(d, prepend=np.uint64(0))
    header = varbyte_encode(np.array([d.size], dtype=np.uint64))
    return (header.tobytes() + varbyte_encode(gaps).tobytes()
            + varbyte_encode(t).tobytes())


def decode_block(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """bytes → (doc_ids int64, tfs int64)."""
    vals = varbyte_decode(np.frombuffer(buf, dtype=np.uint8))
    n = int(vals[0])
    gaps = vals[1:1 + n]
    tfs = vals[1 + n:1 + 2 * n].astype(np.int64)
    return np.cumsum(gaps, dtype=np.uint64).astype(np.int64), tfs


# --- Spark surface ----------------------------------------------------

@pandas_udf(T.BinaryType())
def encode_postings_udf(doc_ids: pd.Series, tfs: pd.Series) -> pd.Series:
    """array<long>, array<long> → binary (per index-block row)."""
    out = [encode_block(np.asarray(d, dtype=np.uint64), np.asarray(t, dtype=np.uint64))
           for d, t in zip(doc_ids, tfs)]
    return pd.Series(out)


_DECODED = T.StructType([
    T.StructField("doc_ids", T.ArrayType(T.LongType()), False),
    T.StructField("tfs", T.ArrayType(T.LongType()), False),
])


@pandas_udf(_DECODED)
def decode_postings_udf(enc: pd.Series) -> pd.DataFrame:
    """binary → struct<doc_ids, tfs array<long>>."""
    ids, tfs = [], []
    for buf in enc:
        d, t = decode_block(bytes(buf))
        ids.append(d.tolist())
        tfs.append(t.tolist())
    return pd.DataFrame({"doc_ids": ids, "tfs": tfs})


def encode_index(blocked: DataFrame) -> DataFrame:
    """Blocked index (postings array<struct<doc_id, tf, ...>>) →
    compressed layout with `postings_enc binary` replacing the struct
    array. Keeps term/block metadata columns untouched (they are the
    skip index — readable without decoding)."""
    cols = [c for c in blocked.columns if c != "postings"]
    return blocked.select(
        *cols,
        encode_postings_udf(F.col("postings.doc_id"),
                            F.col("postings.tf")).alias("postings_enc"))


def decoded_postings_long(enc: DataFrame) -> DataFrame:
    """Compressed index rows → exploded (term, doc_id, tf, df) relation
    (query-side scan shape). Decode happens AFTER any term/block
    pruning, so skipped blocks are never decoded."""
    dec = enc.withColumn("_dec", decode_postings_udf("postings_enc"))
    meta = [c for c in enc.columns if c != "postings_enc"]
    return (dec.select(*meta, F.explode(F.arrays_zip(
                F.col("_dec.doc_ids").alias("doc_id"),
                F.col("_dec.tfs").alias("tf"))).alias("p"))
            .select(*meta, F.col("p.doc_id").alias("doc_id"),
                    F.col("p.tf").cast("int").alias("tf")))


# --- positional stream ------------------------------------------------

@pandas_udf(T.BinaryType())
def encode_positions_udf(positions: pd.Series) -> pd.Series:
    """array<int> (strictly ascending 1-based token positions) →
    binary: varbyte(n) + varbyte(position gaps). The positional index
    dominates index bytes at corpus scale, and position gaps within a
    document are small, so the same delta-gap + varbyte treatment the
    doc-id stream gets compresses it hardest."""
    out = []
    for p in positions:
        a = np.asarray(p, dtype=np.uint64)
        gaps = np.diff(a, prepend=np.uint64(0))
        header = varbyte_encode(np.array([a.size], dtype=np.uint64))
        out.append(header.tobytes() + varbyte_encode(gaps).tobytes())
    return pd.Series(out)


@pandas_udf(T.ArrayType(T.IntegerType()))
def decode_positions_udf(enc: pd.Series) -> pd.Series:
    """binary → array<int> positions (exact inverse)."""
    out = []
    for buf in enc:
        vals = varbyte_decode(np.frombuffer(bytes(buf), dtype=np.uint8))
        n = int(vals[0]) if vals.size else 0
        out.append(np.cumsum(vals[1:1 + n], dtype=np.uint64)
                   .astype(np.int64).astype(np.int32).tolist())
    return pd.Series(out)

