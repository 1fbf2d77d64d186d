"""Partition-pruning gate: querying the committed term-bucket-
partitioned index with qterms must (a) put a PartitionFilters/bucket
predicate into the scan so non-matching buckets are never read, and
(b) return identical results to the unpruned scan."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F

from search_engine_spark.operators.query import bm25_topk_from_index, query_terms_df
from search_engine_spark.plans.build_driver import (build_index_checkpointed,
                                                    open_index)

QUERIES = [("q1", "a se moc"), ("q2", "jsem ten")]


@pytest.fixture(scope="module")
def opened(spark, tiny_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pp_idx"))
    tw, _ = tiny_corpus
    build_index_checkpointed(spark, tw, out, resume=True,
                             salt_buckets=4, block=16, n_term_buckets=16)
    return open_index(spark, out)


def test_pruned_scan_filters_buckets(spark, opened):
    q = query_terms_df(spark, QUERIES)
    pruned = opened.postings_blocked(q)
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "term_bucket" in plan  # bucket predicate reached the scan side
    # the filter must actually reduce what is read: fewer distinct
    # buckets than the table has
    n_buckets_all = opened.index.select("term_bucket").distinct().count()
    touched = [r.b for r in q.select(
        F.pmod(F.xxhash64("term"), F.lit(opened.n_term_buckets))
        .cast("int").alias("b")).distinct().collect()]
    assert len(touched) < n_buckets_all


def test_pruned_results_identical(spark, opened):
    q = query_terms_df(spark, QUERIES)
    key = lambda df: sorted((r.qid, r.rank, r.doc_id, round(r.score, 6))  # noqa: E731
                            for r in df.collect())
    full = bm25_topk_from_index(opened.postings_blocked(), q,
                                opened.n_docs, opened.avgdl, k=5)
    pruned = bm25_topk_from_index(opened.postings_blocked(q), q,
                                  opened.n_docs, opened.avgdl, k=5)
    assert key(pruned) == key(full)
