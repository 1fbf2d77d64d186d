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
from search_engine_spark.operators.wand import topk_auto
from search_engine_spark.plans.build_driver import (build_index_checkpointed,
                                                    open_index)

QUERIES = [("q1", "a se moc"), ("q2", "jsem ten")]
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "FlatMapGroupsInPandas")


def _jobs_of(sc, group: str, fn) -> list[int]:
    """Spark job ids that `fn()` started, counted by job group."""
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return list(sc.statusTracker().getJobIdsForGroup(group))


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


def test_query_terms_are_a_local_relation(spark):
    """Query terms reach the JVM as a LocalRelation, so every join or
    collect over them runs in the JVM with no Python task; an empty
    query set keeps the declared schema."""
    for qs in (QUERIES, []):
        q = query_terms_df(spark, qs)
        plan = q._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation"
        assert q.schema.simpleString() == "struct<qid:string,term:string,qtf:int>"
    assert query_terms_df(spark, []).collect() == []


def test_served_plan_runs_no_python_above_semi_join(spark, opened):
    """The served plan reads the committed posting arrays with Spark's
    own Parquet reader: the final (post-AQE) plan of topk_auto over the
    pruned fetch holds no Python node, and the broadcast term
    semi-join still narrows the scan."""
    q = query_terms_df(spark, QUERIES)
    res = topk_auto(opened.postings_blocked(q), q, opened.n_docs,
                    opened.avgdl, k=5)
    assert res.collect()
    plan = res._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert not [n for n in PYTHON_NODES if n in plan], plan
    assert "LeftSemi" in plan, plan


def test_served_query_runs_at_most_five_jobs(spark, opened):
    """A served query on the exhaustive branch, collected the way the
    CLI and the benchmark collect it, runs at most 5 Spark jobs: the
    top-k comes back in one partition, so the caller's orderBy adds
    no range-sample job and no sort shuffle."""
    q = query_terms_df(spark, QUERIES)
    rows = []
    jobs = _jobs_of(spark.sparkContext, "pp-served-query", lambda: rows.extend(
        topk_auto(opened.postings_blocked(q), q, opened.n_docs,
                  opened.avgdl, k=5).orderBy("qid", "rank").collect()))
    assert rows and len(jobs) <= 5, jobs


def test_pruned_fetch_runs_no_job(spark, opened):
    """The bucket list and the distinct terms are read off the query's
    LocalRelation on the driver: building the pruned fetch starts no
    Spark job."""
    q = query_terms_df(spark, QUERIES)
    assert _jobs_of(spark.sparkContext, "pp-pruned-fetch",
                    lambda: opened.postings_blocked(q)) == []


def test_topk_auto_plans_lazily_at_any_corpus_size(spark, opened):
    """`topk_auto` is one lazy plan whatever the corpus size: at a
    600k-doc n_docs, calling it runs no Spark job, collecting it the
    served way runs at most 5, and its rows equal the exhaustive
    index scorer's at the same n_docs."""
    q = query_terms_df(spark, QUERIES)
    n_docs = 600_000
    sc = spark.sparkContext
    planned = []
    assert _jobs_of(sc, "pp-auto-plan", lambda: planned.append(
        topk_auto(opened.postings_blocked(q), q, n_docs, opened.avgdl,
                  k=10))) == []
    rows = []
    jobs = _jobs_of(sc, "pp-auto-collect", lambda: rows.extend(
        planned[0].orderBy("qid", "rank").collect()))
    assert rows and len(jobs) <= 5, jobs
    exp = bm25_topk_from_index(opened.postings_blocked(q), q, n_docs,
                               opened.avgdl, k=10)
    key = lambda rs: sorted((r.qid, r.rank, r.doc_id, round(r.score, 6))  # noqa: E731
                            for r in rs)
    assert key(rows) == key(exp.collect())
