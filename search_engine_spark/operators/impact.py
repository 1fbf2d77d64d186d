"""Impact-quantized postings: index-time BM25 impact precompute +
b-bit quantization, integer-sum serving (Anh & Moffat's
impact-ordered index idea, recast relationally).

The per-posting BM25 contribution
    imp(t, d) = idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
is query-INDEPENDENT (qtf multiplies outside), so it can be computed
once at index time and quantized to a small integer — the posting
payload shrinks from (tf:int, dl:long) to one byte, and serving
becomes an integer sum: score_q(q, d) = Σ_t qtf · bucket(t, d).
Integer addition is exactly associative, so quantized serving is
bit-deterministic across any partitioning/merge order — no float
summation-order caveat at all.

Quantization: global max impact M over the corpus (one exact max),
bucket = floor(imp / M · (2^bits − 1)) ∈ [0, 2^bits − 1]. Uniform
(LINEAR) quantization keeps the oracle bit-identical; engines that
want geometric buckets plug a different bucket expression in here.

Scale shape: the impact precompute is the same broadcast-dict +
doc-stat join as one BM25 pass but with NO query side — map-only
after the two broadcasts (term df dict is NOT broadcast — it rides
the postings via the same groupBy the index build already does; only
M, a scalar, crosses the driver). Serving is the usual broadcast term
semi-join + one integer aggregation; the transferred index bytes drop
~8× vs (tf, dl) postings, which is the whole point at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..conf import BM25_B, BM25_K1, TOP_K_DEFAULT
from .query import _bm25_idf, bm25_sat

IMPACT_BITS_DEFAULT = 8


def impact_postings(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                    n_docs: int, avgdl: float,
                    k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """(term, doc_id, imp) — exact per-posting BM25 impact."""
    hits = (tc.join(tstats.select("term", "df"), "term", "inner")
            .join(ds.select("doc_id", "dl"), "doc_id", "inner"))
    sat = bm25_sat(F.col("tf").cast("double"), F.col("dl").cast("double"),
                   F.lit(float(avgdl)), k1, b)
    imp = _bm25_idf(F.col("df").cast("double"), n_docs) * sat
    return hits.select("term", "doc_id", imp.alias("imp"))


def quantize_impacts(imps: DataFrame,
                     bits: int = IMPACT_BITS_DEFAULT) -> tuple[DataFrame, float]:
    """((term, doc_id, bucket:int), max_imp) — linear b-bit buckets.

    The global max is ONE scalar collected to the driver (bounded by
    construction); every posting then maps through the same
    floor(imp / M · (2^bits − 1)) expression. The max posting itself
    lands in the top bucket (floor of exactly 2^bits − 1)."""
    levels = (1 << int(bits)) - 1
    max_imp = float(imps.agg(F.max("imp")).collect()[0][0])
    bucket = F.floor(F.col("imp") / F.lit(max_imp) * F.lit(float(levels)))
    q = imps.select("term", "doc_id", bucket.cast("int").alias("bucket"))
    return q, max_imp


def quantized_topk(qpost: DataFrame, qterms: DataFrame,
                   k: int = TOP_K_DEFAULT) -> DataFrame:
    """(qid, doc_id, rank, score:long) — top-k by integer quantized
    score Σ qtf·bucket; ties (score desc, doc_id asc), the engine's
    pinned order. Rank-approximates BM25 with ≤ 2^-bits relative
    impact error per posting; exactly reproducible by any engine that
    applies the same quantizer."""
    from pyspark.sql.window import Window
    hits = qpost.join(F.broadcast(qterms), "term", "inner")
    scored = (hits.groupBy("qid", "doc_id")
              .agg(F.sum(F.col("qtf").cast("long") * F.col("bucket"))
                   .alias("score")))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= k)
            .select("qid", "doc_id", "rank", "score"))
