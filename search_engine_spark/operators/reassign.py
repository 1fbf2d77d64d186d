"""Doc-id reassignment for index compression — the document
identifier assignment problem (Silvestri, "Sorting out the document
identifier assignment problem", ECIR 2007; Blandford & Blelloch 2002).

The index stores each block's doc ids as a Parquet DELTA_BINARY_PACKED
array, which pays bits per gap, so the SAME corpus costs fewer index
bytes when similar documents sit on adjacent doc-ids: a term's postings
then cluster into short-gap runs. Crawl/ingest order rarely
has that property; re-ranking doc-ids by a locality key (URL-sort in
web search; here a text prefix, or conv_id for transcripts) is the
standard build-time fix, worth double-digit percent index shrink at
corpus scale.

The rank itself reuses the mint_doc_ids machinery (operators/
docids.py, ``rank_rows``): a range bucket from splitters sampled once,
one shuffle on it + sortWithinPartitions + per-bucket offsets — never a
global single-partition sort, per-task work constant in corpus size via
the frozen DOCID_DOC_SPAN. The
mapping is corpus-sized, so re-keying joins it on doc_id (a plain
equi-join — this is a build-time pass, not a query-time one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .docids import docid_buckets_for, rank_rows


def reassign_doc_ids(docs: DataFrame, key: list[str | Column],
                     n_buckets: int | None = None,
                     n_docs: int | None = None) -> DataFrame:
    """(doc_id, new_id) — dense 0-based rank of every doc under ORDER
    BY key (callers append doc_id to the key for a total order; tied
    rows otherwise get an arbitrary order among themselves).

    The rank is docids.rank_rows, the ranking mint_doc_ids runs,
    over an arbitrary sort key."""
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
    return rank_rows(keyed, key_names, n_buckets, "new_id",
                     n_docs).select("doc_id", "new_id")


def rekey_postings(tc: DataFrame, mapping: DataFrame) -> DataFrame:
    """Re-key the (doc_id, term, tf) relation to the reassigned ids —
    one equi-join on doc_id (build-time; the mapping is corpus-sized,
    deliberately NOT broadcast)."""
    return (tc.join(mapping, "doc_id")
            .select("term", F.col("new_id").alias("doc_id"), "tf"))
