"""Winnowing fingerprints, containment pairs, token entropy, Zipf
slope, and CORI shard selection (operators/textstats.py, dedup.py,
shards.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from search_engine_spark.operators.dedup import containment_pairs, jaccard_pairs
from search_engine_spark.operators.index_build import doc_stats
from search_engine_spark.operators.shards import cori_select, shard_stats
from search_engine_spark.operators.textstats import (token_entropy,
                                                     winnow_fingerprints,
                                                     zipf_slope)
from search_engine_spark.functions.tokenize import term_counts_sql


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- winnowing

def test_winnow_shared_run_guarantee(spark):
    # Two docs sharing a run of w + k - 1 = 7 tokens MUST share a
    # fingerprint (the winnowing guarantee); k=4, w=4.
    run = "alpha beta gamma delta epsilon zeta eta"
    a = _docs(spark, [(1, "xx yy " + run + " zz"),
                      (2, run + " pp qq rr ss")])
    fp = winnow_fingerprints(a, k=4, w=4).collect()
    f1 = {r.fp for r in fp if r.doc_id == 1}
    f2 = {r.fp for r in fp if r.doc_id == 2}
    assert f1 & f2, "7-token shared run must yield a shared fingerprint"


def test_winnow_short_doc_and_density(spark):
    # fewer than k + w - 1 tokens -> no full window -> no fingerprints
    short = _docs(spark, [(1, "one two three four five six")])  # 6 < 7
    assert winnow_fingerprints(short, k=4, w=4).count() == 0
    # density: far fewer fingerprints than shingles on a long doc
    long_doc = _docs(spark, [(2, " ".join(f"t{i}" for i in range(100)))])
    n_fp = winnow_fingerprints(long_doc, k=4, w=4).count()
    n_sh = 100 - 3
    assert 0 < n_fp < n_sh / 2  # expectation is ~2/(w+1) = 0.4 of hashes


def test_winnow_disjoint_docs_share_nothing(spark):
    d = _docs(spark, [(1, " ".join(f"a{i}" for i in range(20))),
                      (2, " ".join(f"b{i}" for i in range(20)))])
    fp = winnow_fingerprints(d, k=4, w=4).collect()
    f1 = {r.fp for r in fp if r.doc_id == 1}
    f2 = {r.fp for r in fp if r.doc_id == 2}
    assert not (f1 & f2)


# -------------------------------------------------------------- containment

def test_containment_catches_subset_jaccard_misses(spark):
    base = "w1 w2 w3 w4 w5 w6"
    sup = base + " " + " ".join(f"x{i}" for i in range(30))
    d = _docs(spark, [(1, base), (2, sup)])
    cp = {(r.doc_a, r.doc_b): r.containment
          for r in containment_pairs(d, n=3, threshold=0.6).collect()}
    assert cp[(1, 2)] == 1.0  # doc 1 fully contained in doc 2
    jp = jaccard_pairs(d, n=3, threshold=0.6).collect()
    assert not jp  # Jaccard ~ 4/35 — invisible to the symmetric measure


def test_containment_threshold_filters(spark):
    d = _docs(spark, [(1, "a b c d e f"), (2, "q r s t u v")])
    assert containment_pairs(d, n=3, threshold=0.1).count() == 0


# ------------------------------------------------------------------ entropy

def test_token_entropy_uniform_and_degenerate(spark):
    d = _docs(spark, [(1, "a b c d"),      # uniform over 4 terms
                      (2, "a a a a"),      # one term: zero entropy
                      (3, "a a b")])
    tc = term_counts_sql(d)
    rows = {r.doc_id: r for r in token_entropy(tc, doc_stats(tc)).collect()}
    assert abs(rows[1].entropy - round(math.log(4), 6)) < 1e-9
    assert rows[1].norm_entropy == 1.0
    assert rows[2].entropy == 0.0 and rows[2].norm_entropy == 0.0
    h3 = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert abs(rows[3].entropy - round(h3, 6)) < 1e-9


# --------------------------------------------------------------- zipf slope

def test_zipf_slope_exact_power_law(spark):
    # cf = K / r exactly (K divisible by 1..16) -> perfect log-log fit:
    # slope -1, intercept ln(K).
    k_const = 720720
    ts = spark.createDataFrame(
        [(f"t{r:02d}", 1, k_const // r) for r in range(1, 17)],
        "term string, df long, cf long")
    row = zipf_slope(ts, top_n=16).collect()[0]
    assert row.n_terms == 16
    assert row.slope == -1.0
    assert abs(row.intercept - round(math.log(k_const), 6)) < 1e-9


def test_zipf_slope_caps_at_top_n(spark):
    ts = spark.createDataFrame(
        [(f"t{r:03d}", 1, 1000 - r) for r in range(200)],
        "term string, df long, cf long")
    assert zipf_slope(ts, top_n=50).collect()[0].n_terms == 50


# ------------------------------------------------------------ CORI routing

def test_cori_routes_to_concentrated_shard(spark):
    # 'needle' lives only in docs of shard 3 (doc_id % 8 == 3);
    # every shard has identical background text, so shard 3 must rank
    # first for the needle query.
    rows = []
    for i in range(64):
        txt = "common filler words here"
        if i % 8 == 3:
            txt += " needle"
        rows.append((i, txt))
    tc = term_counts_sql(_docs(spark, rows))
    ds = doc_stats(tc)
    tsh, ssz = shard_stats(tc, ds, n_shards=8)
    q = spark.createDataFrame([("q1", "needle", 1)],
                              "qid string, term string, qtf int")
    sel = cori_select(tsh, ssz, q, n_shards=8, top_m=8).collect()
    best = min(sel, key=lambda r: r.rank)
    assert best.shard_id == 3
    # every other shard sits at the belief floor -> strictly lower
    floor_scores = {r.score for r in sel if r.shard_id != 3}
    assert len(floor_scores) == 1 and best.score > floor_scores.pop()


def test_cori_output_shape(spark):
    rows = [(i, f"tok{i % 5} shared") for i in range(32)]
    tc = term_counts_sql(_docs(spark, rows))
    ds = doc_stats(tc)
    tsh, ssz = shard_stats(tc, ds, n_shards=8)
    q = spark.createDataFrame([("q1", "shared", 1), ("q2", "tok1", 2)],
                              "qid string, term string, qtf int")
    out = cori_select(tsh, ssz, q, n_shards=8, top_m=4)
    rows_out = out.collect()
    assert len(rows_out) == 8  # 2 qids x top 4
    for qid in ("q1", "q2"):
        ranks = sorted(r.rank for r in rows_out if r.qid == qid)
        assert ranks == [1, 2, 3, 4]


def _broadcast_rows(df) -> list[int]:
    """Rows sent by every BroadcastExchange of df's executed plan
    (walking through AQE's final plan and its query stages)."""
    df.collect()
    out: list[int] = []

    def walk(p):
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return walk(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(p.plan())
        if cls == "BroadcastExchangeExec":
            out.append(p.metrics().apply("numOutputRows").value())
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_cori_broadcasts_only_query_term_rows(spark):
    # a 400-term vocabulary against a 2-term query: the per-shard
    # stats cori_select broadcasts must be cut to the query's terms
    # (≤ 2 terms × 4 shards rows), never the vocabulary
    rows = [(i, " ".join(f"v{(i * 7 + j) % 400}" for j in range(12))
             + " needle") for i in range(200)]
    tc = term_counts_sql(_docs(spark, rows))
    ds = doc_stats(tc)
    tsh, ssz = shard_stats(tc, ds, n_shards=4)
    assert tsh.select("term").distinct().count() == 401
    q = spark.createDataFrame([("q1", "needle", 1), ("q1", "v3", 1)],
                              "qid string, term string, qtf int")
    sent = _broadcast_rows(cori_select(tsh, ssz, q, n_shards=4, top_m=2))
    assert sent and max(sent) <= 2 * 4, sent


def test_scatter_gather_identity(spark):
    # global-stats scatter-gather must equal monolithic BM25 exactly
    # (the distributed-serving safety property), including when one
    # shard holds more than k hits and truncates locally.
    from search_engine_spark.operators.query import bm25_topk, query_terms_df
    from search_engine_spark.operators.shards import scatter_gather_topk
    rows = [(i, f"shared tok{i % 7} extra{i % 3}") for i in range(40)]
    tc = term_counts_sql(_docs(spark, rows))
    ds = doc_stats(tc)
    from search_engine_spark.operators.index_build import term_stats
    ts = term_stats(tc)
    avgdl = ds.agg({"dl": "avg"}).collect()[0][0]
    q = query_terms_df(spark, [("q1", "shared tok1"), ("q2", "extra2")])
    sg = scatter_gather_topk(tc, ds, ts, q, 40, avgdl, n_shards=4, k=5)
    mono = bm25_topk(tc, ds, ts, q, 40, avgdl, k=5)
    assert [tuple(r) for r in sg.orderBy("qid", "rank").collect()] == \
           [tuple(r) for r in mono.orderBy("qid", "rank").collect()]


def test_routed_topk_full_recall_on_concentrated_corpus(spark):
    # every 'needle' doc lives in shard 3; routing to top-1 shard must
    # lose nothing for the needle query (recall 1.0), because CORI
    # sends it to exactly that shard.
    from search_engine_spark.operators.index_build import term_stats
    from search_engine_spark.operators.query import bm25_topk
    from search_engine_spark.operators.shards import (routed_topk,
                                                      routing_recall)
    rows = []
    for i in range(64):
        txt = "common filler words here"
        if i % 8 == 3:
            txt += " needle"
        rows.append((i, txt))
    tc = term_counts_sql(_docs(spark, rows))
    ds = doc_stats(tc)
    ts = term_stats(tc)
    avgdl = ds.agg({"dl": "avg"}).collect()[0][0]
    q = spark.createDataFrame([("q1", "needle", 1)],
                              "qid string, term string, qtf int")
    routed = routed_topk(tc, ds, ts, q, 64, avgdl,
                         n_shards=8, top_m=1, k=5)
    full = bm25_topk(tc, ds, ts, q, 64, avgdl, k=5)
    rec = routing_recall(routed, full, k=5).collect()[0]
    assert rec.recall_at_k == 1.0
    assert {r.doc_id % 8 for r in routed.collect()} == {3}
