"""Doc-id reassignment for index compression — the document
identifier assignment problem (Silvestri, "Sorting out the document
identifier assignment problem", ECIR 2007; Blandford & Blelloch 2002).

Delta-gap codecs pay per-gap bits, so the SAME corpus costs fewer
index bytes when similar documents sit on adjacent doc-ids: a term's
postings then cluster into short-gap runs. Crawl/ingest order rarely
has that property; re-ranking doc-ids by a locality key (URL-sort in
web search; here a text prefix, or conv_id for transcripts) is the
standard build-time fix, worth double-digit percent index shrink at
corpus scale.

The rank itself reuses the mint_doc_ids machinery (operators/
docids.py): repartitionByRange + sortWithinPartitions + per-partition
offsets — ONE shuffle, never a global single-partition sort, per-task
work constant in corpus size via the frozen DOCID_DOC_SPAN. The
mapping is corpus-sized, so re-keying joins it on doc_id (a plain
equi-join — this is a build-time pass, not a query-time one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .docids import docid_buckets_for


def reassign_doc_ids(docs: DataFrame, key: list[str | Column],
                     n_buckets: int | None = None,
                     n_docs: int | None = None) -> DataFrame:
    """(doc_id, new_id) — dense 0-based rank of every doc under ORDER
    BY key (callers append doc_id to the key for a total order; ties
    otherwise fall to range-partitioner placement).

    Same one-shuffle shape as mint_doc_ids, generalized to an
    arbitrary sort key."""
    spark = docs.sparkSession
    # internal aliases so a key column named doc_id (the usual
    # tiebreak) doesn't collide with the carried id column
    key_names = [f"_rk{i}" for i in range(len(key))]
    keyed = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *[(k if isinstance(k, Column) else F.col(k)).alias(n)
          for k, n in zip(key, key_names)])
    if n_buckets is None:
        if n_docs is None:
            n_docs = keyed.count()
        n_buckets = docid_buckets_for(n_docs)
    ranged = (keyed
              .repartitionByRange(max(1, n_buckets), *key_names)
              .sortWithinPartitions(*key_names)
              .withColumn("_pid", F.spark_partition_id())
              .withColumn("_mid", F.monotonically_increasing_id()))
    counts = (ranged.groupBy("_pid")
              .agg(F.count("*").alias("_cnt"), F.min("_mid").alias("_base"))
              .collect())
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r._pid):
        offsets.append((r._pid, acc, r._base))
        acc += r._cnt
    off_df = local_frame(spark, offsets, "_pid int, _off long, _base long")
    return (ranged.join(F.broadcast(off_df), "_pid")
            .select("doc_id",
                    (F.col("_off") + F.col("_mid") - F.col("_base"))
                    .cast("long").alias("new_id")))


def rekey_postings(tc: DataFrame, mapping: DataFrame) -> DataFrame:
    """Re-key the (doc_id, term, tf) relation to the reassigned ids —
    one equi-join on doc_id (build-time; the mapping is corpus-sized,
    deliberately NOT broadcast)."""
    return (tc.join(mapping, "doc_id")
            .select("term", F.col("new_id").alias("doc_id"), "tf"))
