"""More-like-this: top-k most similar documents to each seed document
by TF-IDF cosine over the shared term vocabulary.

Reference analogue: the SMART doc-vector machinery — `ltc` weighting
(1 + log10 tf) · log10(N/df) with cosine normalization is exactly the
reference's ltc scheme (src/invertedIndex.py:171-202, 279-280) applied
doc-to-doc instead of query-to-doc; the classic "find related
documents" surface that machinery implies.

Scale shape
-----------
Seed vectors are a driver-bounded set (|seeds| × |seed terms| narrow
rows — broadcast); the corpus side joins on term, so total matched
rows are Σ_t∈seeds df(t). A seed containing an ultra-hot term would
pull the whole corpus through the join; ``max_df`` drops such terms
from MATCHING (they contribute ~0 to cosine anyway at log-idf ≈ 0) —
the same hot-key guard as dedup's `max_shingle_df`. Per-doc norms are
one aggregation over the weighted relation; everything else is
broadcast joins + one (seed_id, doc_id) groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame


def _weights(tc: DataFrame, tstats: DataFrame, n_docs: int) -> DataFrame:
    """(doc_id, term, w) with w = (1 + log10 tf) · log10(N/df) — the
    reference's ltc components; df = N gives idf 0 and drops out of
    every dot product."""
    idf = F.log10(F.lit(float(n_docs)) / F.col("df").cast("double"))
    w = (F.lit(1.0) + F.log10(F.col("tf").cast("double"))) * idf
    return (tc.join(tstats.select("term", "df"), "term")
            .select("doc_id", "term", w.alias("w")))


def more_like_this(tc: DataFrame, tstats: DataFrame, seed_ids: list[int],
                   n_docs: int, k: int = 10,
                   max_df: int | None = None) -> DataFrame:
    """(seed_id, doc_id, rank, score): top-k docs by ltc-cosine to each
    seed (the seed itself excluded). ``max_df`` excludes terms hotter
    than the cap from matching (scale guard; None = exact)."""
    spark = tc.sparkSession
    wd = _weights(tc, tstats, n_docs)
    # norms use the FULL vector (cap or not) so scores stay true
    # cosines of the complete ltc vectors
    norms = wd.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("norm"))
    matched = wd
    if max_df is not None:
        matched = wd.join(
            tstats.select("term", "df").where(F.col("df") <= max_df),
            "term", "leftsemi")
    seeds = local_frame(spark, [(int(s),) for s in seed_ids],
                        "seed_id long")
    sv = (matched.join(F.broadcast(seeds),
                       matched.doc_id == seeds.seed_id, "inner")
          .select("seed_id", "term", F.col("w").alias("sw")))
    snorm = (norms.join(F.broadcast(seeds),
                        norms.doc_id == seeds.seed_id, "inner")
             .select("seed_id", F.col("norm").alias("snorm")))
    dots = (matched.join(F.broadcast(sv), "term")
            .where(F.col("doc_id") != F.col("seed_id"))
            .groupBy("seed_id", "doc_id")
            .agg(F.sum(F.col("w") * F.col("sw")).alias("dot")))
    scored = (dots.join(norms, "doc_id")
              .join(F.broadcast(snorm), "seed_id")
              .select("seed_id", "doc_id",
                      F.round(F.col("dot") / (F.col("norm") * F.col("snorm")),
                              6).alias("score")))
    w_k = Window.partitionBy("seed_id").orderBy(F.desc("score"), "doc_id")
    return (scored.withColumn("rank", F.row_number().over(w_k).cast("int"))
            .where(F.col("rank") <= k)
            .select("seed_id", "doc_id", "rank", "score"))
