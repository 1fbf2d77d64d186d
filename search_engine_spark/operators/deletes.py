"""Document deletion: tombstone serving + index compaction.

The reference is build-once (src/invertedIndex.py writes the index in
one shot and never mutates it); a production training-data pipeline
additionally needs document REMOVAL (takedowns, dedup kept-set
enforcement, retention windows). Two standard pieces, both expressed
as plain DataFrame plans:

1. ``tombstoned_bm25_topk`` — serving-path tombstones (Lucene
   live-docs semantics): results are filtered against the tombstone
   table BEFORE the top-k cut, while df/idf keep their full-corpus
   values until the next compaction. One anti-join on the (qid,
   doc_id) relation the scoring groupBy just produced — no new
   shuffle partitioning, and the tombstone side may be arbitrarily
   large (it is NOT broadcast-hinted; AQE broadcasts it while small).

2. ``compact_deletes`` — rewrite: explode the blocked index, drop the
   deleted docs, re-run the salted blocked assembly. df/cf and all
   block-max metadata are recomputed exactly (they are pure functions
   of the surviving postings), and the result is IDENTICAL to a
   from-scratch build over the surviving corpus at the same
   (n_docs, salt_buckets, block) geometry — pytest identity gate.
   Surviving doc_ids are NOT re-minted, so committed doc_maps and
   external references stay valid; keeping the original ``n_docs``
   keeps the salt-span geometry aligned with the pre-delete index
   (one shuffle, the same cost class as merge_blocked_indexes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..conf import BM25_B, BM25_K1, POSTING_BLOCK, TOP_K_DEFAULT
from .index_build import explode_blocked, postings_blocked
from .query import _scores, _topk, bm25_partial


def tombstoned_bm25_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                         qterms: DataFrame, tombstones: DataFrame,
                         n_docs: int, avgdl: float, k: int = TOP_K_DEFAULT,
                         k1: float = BM25_K1, b: float = BM25_B) -> DataFrame:
    """Top-k BM25 with deleted docs suppressed at serve time.

    Scoring is byte-identical to bm25_topk (same joins, same idf over
    the FULL corpus — deleted docs still count in df until compaction,
    the documented live-docs convention); the tombstone anti-join runs
    between the aggregate and the top-k window so every returned rank
    is occupied by a live doc."""
    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    hits = tc.join(qdict, "term", "inner").join(ds.select("doc_id", "dl"),
                                                "doc_id")
    scored = _scores(hits, bm25_partial(n_docs, avgdl, k1, b))
    return _topk(scored.join(tombstones.select("doc_id").distinct(), "doc_id",
                             "left_anti"), k)


def compact_deletes(index: DataFrame, tombstones: DataFrame, n_docs: int,
                    salt_buckets: int | None = None,
                    block: int = POSTING_BLOCK) -> DataFrame:
    """Blocked index minus the tombstoned docs → a fresh blocked index,
    identical to building over the surviving corpus (doc_ids are NOT
    re-minted; pass the ORIGINAL n_docs to keep the salt-span geometry
    of the pre-delete index)."""
    flat = explode_blocked(index)
    kept = flat.join(tombstones.select("doc_id").distinct(),
                     "doc_id", "left_anti")
    if "dl" in kept.columns:
        ds_like = (kept.select("doc_id", "dl").groupBy("doc_id")
                   .agg(F.first("dl").alias("dl")))
        return postings_blocked(kept.select("doc_id", "term", "tf"),
                                n_docs, salt_buckets=salt_buckets,
                                block=block, ds=ds_like)
    return postings_blocked(kept, n_docs, salt_buckets=salt_buckets,
                            block=block)
