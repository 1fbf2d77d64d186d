"""Retrieval evaluation — MAP / P@k over a TREC-style run (SURVEY.md
§2.6 O4).

Reference analogue: `trec_eval -M1000 qrels-train.txt output`
(/root/reference/src/run:40) scoring the run file against relevance
judgments; `src/data.csv` records the resulting MAP sweep. The rebuild
computes the same metrics as a DataFrame aggregation so evaluation
runs distributed next to retrieval (no per-query driver loop):

    AP(q)  = (1/R_q) · Σ_{r : rel} P@rank(r)     over ranks ≤ depth
    MAP    = mean over queries WITH ≥1 judged-relevant doc
    P@k(q) = |relevant in top k| / k

Ties/order come from the run's own `rank` column (the engine's pinned
(score DESC, doc_id ASC) order), matching how trec_eval consumes the
run file's ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import local_frame


def per_query_ap(results: DataFrame, qrels: DataFrame,
                 depth: int = 1000) -> DataFrame:
    """(qid, ap, n_rel, n_ret_rel) per query.

    results: (qid, doc_id, rank); qrels: (qid, doc_id) judged-relevant
    pairs. Queries present in qrels only (trec_eval semantics: queries
    without judgments are excluded from MAP).
    """
    r = results.where(F.col("rank") <= depth)
    n_rel = qrels.groupBy("qid").agg(F.count("*").cast("long").alias("n_rel"))
    hit = (r.join(qrels.withColumn("_rel", F.lit(1)), ["qid", "doc_id"], "left")
           .withColumn("_rel", F.coalesce("_rel", F.lit(0))))
    w = Window.partitionBy("qid").orderBy("rank")
    hit = hit.withColumn("_cum_rel", F.sum("_rel").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    ap_terms = hit.withColumn(
        "_p_at_r", F.when(F.col("_rel") == 1,
                          F.col("_cum_rel") / F.col("rank")).otherwise(0.0))
    per_q = ap_terms.groupBy("qid").agg(
        F.sum("_p_at_r").alias("_sum_p"),
        F.sum("_rel").cast("long").alias("n_ret_rel"))
    return (n_rel.join(per_q, "qid", "left")
            .select("qid",
                    F.round(F.coalesce(F.col("_sum_p"), F.lit(0.0))
                            / F.col("n_rel"), 6).alias("ap"),
                    "n_rel",
                    F.coalesce("n_ret_rel", F.lit(0)).cast("long").alias("n_ret_rel")))


def mean_average_precision(results: DataFrame, qrels: DataFrame,
                           depth: int = 1000) -> DataFrame:
    """One-row (map, n_queries) over all judged queries."""
    return per_query_ap(results, qrels, depth).agg(
        F.round(F.avg("ap"), 6).alias("map"),
        F.count("*").cast("long").alias("n_queries"))


def ndcg_at_k(results: DataFrame, qrels: DataFrame, k: int) -> DataFrame:
    """(qid, ndcg, n_rel) — binary-relevance nDCG@k per judged query.

    DCG = Σ_{rank<=k, relevant} 1/log2(rank+1); the ideal DCG packs
    the min(k, n_rel) relevant docs into the top ranks. Queries with
    no judged-relevant docs are excluded (same convention as MAP)."""
    r = results.where(F.col("rank") <= k)
    dcg = (
        r.join(qrels, ["qid", "doc_id"], "leftsemi")
        .groupBy("qid")
        .agg(F.sum(F.lit(1.0) / F.log2(F.col("rank") + 1)).alias("_dcg"))
    )
    n_rel = qrels.groupBy("qid").agg(F.count("*").cast("long").alias("n_rel"))
    # ideal DCG over the sequence 1..min(k, n_rel): a JVM fold in
    # ascending rank order (deterministic), no explode needed
    idcg = F.expr(
        f"aggregate(sequence(1, int(least(n_rel, {int(k)}))), cast(0.0 as double), "
        "(acc, i) -> acc + 1.0 / log2(i + 1))")
    return (
        n_rel.join(dcg, "qid", "left")
        .select("qid",
                F.round(F.coalesce(F.col("_dcg"), F.lit(0.0)) / idcg, 6)
                 .alias("ndcg"),
                "n_rel")
    )


def precision_at_k(results: DataFrame, qrels: DataFrame, k: int) -> DataFrame:
    """(qid, p_at_k) — precision of the top k ranks."""
    r = results.where(F.col("rank") <= k)
    hits = (r.join(qrels, ["qid", "doc_id"], "leftsemi")
            .groupBy("qid").agg(F.count("*").alias("_hits")))
    qids = qrels.select("qid").distinct()
    return (qids.join(hits, "qid", "left")
            .select("qid", F.round(F.coalesce(F.col("_hits"), F.lit(0))
                                   / F.lit(float(k)), 6).alias("p_at_k")))


def reciprocal_rank(results: DataFrame, qrels: DataFrame,
                    depth: int = 1000) -> DataFrame:
    """(qid, rr, first_rel_rank) — reciprocal rank of the FIRST
    judged-relevant doc within `depth`; rr = 0 (rank 0) when none is
    retrieved. Mean over judged queries is trec_eval's `recip_rank`
    (MRR). Judged-query universe and tie order follow per_query_ap.

    Shape: one semi-join (run ⨝ qrels on (qid, doc_id)) then a
    per-qid min — map-side partial, no window needed."""
    r = results.where(F.col("rank") <= depth)
    first = (r.join(qrels, ["qid", "doc_id"], "leftsemi")
             .groupBy("qid").agg(F.min("rank").alias("_fr")))
    qids = qrels.select("qid").distinct()
    return (qids.join(first, "qid", "left")
            .select("qid",
                    F.round(F.when(F.col("_fr").isNull(), F.lit(0.0))
                             .otherwise(F.lit(1.0) / F.col("_fr")), 6)
                     .alias("rr"),
                    F.coalesce("_fr", F.lit(0)).cast("long")
                     .alias("first_rel_rank")))


def recall_at_k(results: DataFrame, qrels: DataFrame, k: int) -> DataFrame:
    """(qid, recall, n_rel, n_ret_rel) — fraction of each query's
    judged-relevant docs retrieved in the top k. Complements
    precision_at_k; same judged-query universe (queries with ≥1
    relevant doc)."""
    r = results.where(F.col("rank") <= k)
    hits = (r.join(qrels, ["qid", "doc_id"], "leftsemi")
            .groupBy("qid").agg(F.count("*").cast("long").alias("n_ret_rel")))
    n_rel = qrels.groupBy("qid").agg(F.count("*").cast("long").alias("n_rel"))
    return (n_rel.join(hits, "qid", "left")
            .select("qid",
                    F.round(F.coalesce(F.col("n_ret_rel"), F.lit(0))
                            / F.col("n_rel").cast("double"), 6).alias("recall"),
                    "n_rel",
                    F.coalesce("n_ret_rel", F.lit(0)).cast("long")
                     .alias("n_ret_rel")))


def iprec_at_recall(results: DataFrame, qrels: DataFrame,
                    depth: int = 1000) -> DataFrame:
    """(qid, level, iprec) — the classic 11-point interpolated
    precision-recall curve (trec_eval's iprec_at_recall_0.00 …
    _1.00): for each recall level L/10,

        iprec(L) = max{ P(j) : recall(j) ≥ L/10 }   (0 if no such j)

    where P(j) = cum_rel/j at rank j. The max at any recall level is
    attained at a rank that just retrieved a relevant doc (precision
    strictly falls between hits while recall is flat), so only
    rel-hit ranks participate — exact, not an approximation. The
    recall comparison uses INTEGER arithmetic (10·cum_rel ≥ L·n_rel),
    so no float-boundary disagreement with the oracle.

    Scale shape: the run×qrels join + one window, then an 11-way
    level explode over only the relevant-hit rows — all bounded by
    the judged query set (reference analogue: the trec_eval output
    block of /root/reference/src/run:40)."""
    r = results.where(F.col("rank") <= depth)
    n_rel = qrels.groupBy("qid").agg(F.count("*").cast("long").alias("n_rel"))
    hit = (r.join(qrels.withColumn("_rel", F.lit(1)), ["qid", "doc_id"],
                  "left")
           .withColumn("_rel", F.coalesce("_rel", F.lit(0))))
    w = Window.partitionBy("qid").orderBy("rank")
    hit = (hit.withColumn("_cum_rel", F.sum("_rel").over(
               w.rowsBetween(Window.unboundedPreceding, 0)))
           .where(F.col("_rel") == 1)
           .join(n_rel, "qid")
           .select("qid", "n_rel",
                   (F.col("_cum_rel") / F.col("rank")).alias("_p"),
                   F.col("_cum_rel")))
    lv = hit.select("qid", "n_rel", "_p", "_cum_rel",
                    F.explode(F.sequence(F.lit(0), F.lit(10))).alias("level"))
    best = (lv.where(F.col("_cum_rel") * 10 >= F.col("level") * F.col("n_rel"))
            .groupBy("qid", "level")
            .agg(F.max("_p").alias("_best")))
    grid = n_rel.select(
        "qid", F.explode(F.sequence(F.lit(0), F.lit(10))).alias("level"))
    return (grid.join(best, ["qid", "level"], "left")
            .select("qid", F.col("level").cast("int").alias("level"),
                    F.round(F.coalesce("_best", F.lit(0.0)), 6)
                    .alias("iprec")))


def err_at_k(results: DataFrame, qrels: DataFrame, k: int) -> DataFrame:
    """(qid, err, n_rel) — Expected Reciprocal Rank @ k (Chapelle et
    al., CIKM 2009) with binary relevance, next to MAP/P@k/nDCG/MRR.

        ERR = Σ_{r≤k} (1/r) · R_r · Π_{i<r} (1 - R_i),
        R   = (2^g - 1) / 2^g_max = 1/2 for a relevant doc, 0 else,

    so with binary grades each relevant doc at rank r contributes
    (1/r) · (1/2) · (1/2)^(relevant docs ranked above it) — the
    cascade stop-probability model. Judged-query universe matches
    per_query_ap (queries with ≥1 relevant doc; err = 0 when none is
    retrieved).

    Shape: one left join run ⨝ qrels, a per-qid cumulative count
    window ordered by the run's own pinned rank, map-side-combinable
    final sum. The window partitions on qid over ≤ k rows per query —
    bounded by the run depth, never by the corpus.
    """
    r = results.where(F.col("rank") <= k)
    hit = (r.join(qrels.withColumn("_rel", F.lit(1)), ["qid", "doc_id"], "left")
           .withColumn("_rel", F.coalesce("_rel", F.lit(0))))
    w = Window.partitionBy("qid").orderBy("rank").rowsBetween(
        Window.unboundedPreceding, -1)
    hit = hit.withColumn("_above", F.coalesce(F.sum("_rel").over(w), F.lit(0)))
    contrib = F.when(
        F.col("_rel") == 1,
        F.lit(0.5) * F.pow(F.lit(0.5), F.col("_above")) / F.col("rank")
    ).otherwise(F.lit(0.0))
    per_q = (hit.select("qid", contrib.alias("_c"))
             .groupBy("qid").agg(F.sum("_c").alias("_err")))
    n_rel = qrels.groupBy("qid").agg(F.count("*").cast("long").alias("n_rel"))
    return (n_rel.join(per_q, "qid", "left")
            .select("qid",
                    F.round(F.coalesce(F.col("_err"), F.lit(0.0)), 6)
                     .alias("err"),
                    "n_rel"))


def rbo_at_depth(run_a: DataFrame, run_b: DataFrame, depth: int = 10,
                 p: float = 0.5) -> DataFrame:
    """(qid, rbo) — truncated Rank-Biased Overlap (Webber, Moffat &
    Zobel, TOIS 2010) between two rankings at the given depth:

        RBO = (1 − p) · Σ_{d=1..depth} p^(d−1) · |A_d ∩ B_d| / d

    where A_d/B_d are each run's top-d prefixes. A doc in both runs at
    ranks (ra, rb) is inside the intersection for every d ≥ max(ra,
    rb), so its total weight is W(m) = Σ_{d=m..depth} p^(d−1)/d — a
    depth-sized lookup computed once on the driver and applied as a
    CASE expression. The whole metric is one (qid, doc_id) inner join
    of two depth-bounded runs plus a per-qid sum: rows ≤ qids × depth,
    corpus-size-invariant. p = 0.5 (vs the classic 0.9) keeps every
    p^(d−1) an exact power of two for cross-engine bit-identity; at
    depth 10 the truncated tail mass is ≤ 2^-10 anyway.

    runs: (qid, doc_id, rank) with rank ≤ depth enforced here."""
    w_tail = rbo_weights(depth, p)
    a = run_a.where(F.col("rank") <= depth).select(
        "qid", "doc_id", F.col("rank").alias("_ra"))
    b = run_b.where(F.col("rank") <= depth).select(
        "qid", "doc_id", F.col("rank").alias("_rb"))
    m = F.greatest("_ra", "_rb")
    w_expr = F.lit(0.0)
    for d in range(depth, 0, -1):
        w_expr = F.when(m == d, F.lit(w_tail[d])).otherwise(w_expr)
    matched = (a.join(b, ["qid", "doc_id"])
               .groupBy("qid").agg(F.sum(w_expr).alias("_s")))
    qids = a.select("qid").distinct()
    return (qids.join(matched, "qid", "left")
            .select("qid",
                    F.round(F.lit(1.0 - p)
                            * F.coalesce("_s", F.lit(0.0)), 6).alias("rbo")))


def rbo_weights(depth: int, p: float) -> dict[int, float]:
    """W(m) = Σ_{d=m..depth} p^(d−1)/d, summed ascending in d — the
    single shared fold both engines consume as literals."""
    out: dict[int, float] = {}
    for m in range(1, depth + 1):
        acc = 0.0
        for d in range(m, depth + 1):
            acc += p ** (d - 1) / d
        out[m] = acc
    return out


# hard ceiling for the EXACT sign-flip enumeration: the 2^n · n sign
# table is built driver-side, so n=20 (~21M tuples) is the last safe
# size; anything larger must use paired_sign_test_mc
SIGN_TEST_MAX_N = 20


def paired_sign_test(ap_a: DataFrame, ap_b: DataFrame) -> DataFrame:
    """One row (n_queries, mean_diff, t_stat, p_value) — EXACT paired
    sign-flip permutation test between two runs' per-query AP columns
    (permutation tests are the recommended significance machinery for
    IR evaluation: Smucker, Allan & Carterette, CIKM 2007).

    All 2^n sign patterns are enumerated — no RNG anywhere, so the
    p-value is exact and bit-reproducible in the DuckDB oracle. The
    2^n · n sign table is built driver-side: n is the EVALUATION query
    set size (bounded by construction; 8 here → 2048 rows). Beyond
    ~20 queries the standard extension is Monte-Carlo pattern
    sampling — out of scope for the bounded driver query set.

    The flip-mean comparison rounds both sides to 9dp: per-pattern
    sums of the same 6dp-grid differences can differ across engines in
    the last ulp (summation order), while genuinely distinct means on
    that grid are ≥ ~6e-8 apart — 9dp separates the two regimes.
    t_stat is the paired t statistic (0 when the variance is 0),
    provided for reference alongside the exact p.
    """
    d = (ap_a.select("qid", F.col("ap").alias("_a"))
         .join(ap_b.select("qid", F.col("ap").alias("_b")), "qid")
         .select("qid", (F.col("_a") - F.col("_b")).alias("d")))
    w = Window.orderBy("qid")
    rows = d.withColumn("idx", F.row_number().over(w) - 1).collect()
    n = len(rows)
    if n > SIGN_TEST_MAX_N:
        raise ValueError(
            f"paired_sign_test enumerates 2^n sign patterns driver-side "
            f"and is capped at n={SIGN_TEST_MAX_N} queries (got {n}); "
            f"use paired_sign_test_mc for larger query sets")
    spark = ap_a.sparkSession
    dd = local_frame(spark, [(r.d, r.idx) for r in rows],
                     "d double, idx int")
    signs = local_frame(
        spark,
        [(p, i, -1 if (p >> i) & 1 else 1)
         for p in range(1 << n) for i in range(n)],
        "p long, idx int, sign int")
    flips = (signs.join(F.broadcast(dd), "idx")
             .groupBy("p")
             .agg((F.sum(F.col("sign") * F.col("d")) / n).alias("mf")))
    agg = dd.agg(F.sum("d").alias("sd"), F.sum(F.col("d") * F.col("d"))
                 .alias("sd2"))
    mean_d = F.col("sd") / n
    var = (F.col("sd2") - F.col("sd") * F.col("sd") / n) / max(n - 1, 1)
    t = F.when(var > 0, mean_d / F.sqrt(var / n)).otherwise(F.lit(0.0))
    obs = agg.select(mean_d.alias("mean_d"), t.alias("t"))
    hits = (flips.crossJoin(F.broadcast(obs))
            .where(F.round(F.abs(F.col("mf")), 9)
                   >= F.round(F.abs(F.col("mean_d")), 9))
            .agg(F.count("*").alias("nh")))
    return (hits.crossJoin(F.broadcast(obs)).select(
        F.lit(n).cast("long").alias("n_queries"),
        F.round("mean_d", 6).alias("mean_diff"),
        F.round("t", 6).alias("t_stat"),
        F.round(F.col("nh").cast("double") / (1 << n), 6).alias("p_value")))


def paired_sign_test_mc(ap_a: DataFrame, ap_b: DataFrame,
                        n_samples: int = 2048,
                        seed: str = "mc1") -> DataFrame:
    """One row (n_queries, n_samples, mean_diff, t_stat, p_value) —
    MONTE-CARLO paired sign-flip permutation test, the standard
    extension of `paired_sign_test` beyond ~20 queries (Smucker, Allan
    & Carterette, CIKM 2007 §3: sample sign patterns instead of
    enumerating all 2^n). Real evaluation sets are 50-250 topics, far
    past the exact path's driver-side 2^n ceiling.

    No host RNG: the sign of query i under sampled pattern p is the
    parity of the first hex digit of md5(seed:p:i), computed IN-ENGINE
    on both sides, so the p-value is bit-reproducible in the DuckDB
    oracle and across cluster re-runs (the same determinism-over-RNG
    rule as minhash/simhash). The sample grid is n_samples × n rows,
    built distributed (spark.range cross join the broadcast diff
    table) — never a driver-side list.

    p_value uses the add-one estimator (1 + hits) / (1 + n_samples),
    the standard positively-biased-but-valid MC permutation p (the
    observed pattern counts as one sample). The flip-mean comparison
    keeps the exact path's 9dp cross-engine summation guard.
    """
    d = (ap_a.select("qid", F.col("ap").alias("_a"))
         .join(ap_b.select("qid", F.col("ap").alias("_b")), "qid")
         .select("qid", (F.col("_a") - F.col("_b")).alias("d")))
    w = Window.orderBy("qid")
    dd = d.select("d", (F.row_number().over(w) - 1).alias("idx"))
    n = dd.count()
    spark = ap_a.sparkSession
    samples = spark.range(int(n_samples)).select(F.col("id").alias("p"))
    odd = list("13579bdf")
    sgn = F.when(
        F.substring(F.md5(F.concat_ws(
            ":", F.lit(seed), F.col("p").cast("string"),
            F.col("idx").cast("string"))), 1, 1).isin(odd),
        F.lit(-1)).otherwise(F.lit(1))
    flips = (samples.crossJoin(F.broadcast(dd))
             .groupBy("p")
             .agg((F.sum(sgn * F.col("d")) / n).alias("mf")))
    agg = dd.agg(F.sum("d").alias("sd"),
                 F.sum(F.col("d") * F.col("d")).alias("sd2"))
    mean_d = F.col("sd") / n
    var = (F.col("sd2") - F.col("sd") * F.col("sd") / n) / max(n - 1, 1)
    t = F.when(var > 0, mean_d / F.sqrt(var / n)).otherwise(F.lit(0.0))
    obs = agg.select(mean_d.alias("mean_d"), t.alias("t"))
    hits = (flips.crossJoin(F.broadcast(obs))
            .where(F.round(F.abs(F.col("mf")), 9)
                   >= F.round(F.abs(F.col("mean_d")), 9))
            .agg(F.count("*").alias("nh")))
    return (hits.crossJoin(F.broadcast(obs)).select(
        F.lit(n).cast("long").alias("n_queries"),
        F.lit(int(n_samples)).cast("long").alias("n_samples"),
        F.round("mean_d", 6).alias("mean_diff"),
        F.round("t", 6).alias("t_stat"),
        F.round((F.col("nh").cast("double") + 1.0)
                / (float(n_samples) + 1.0), 6).alias("p_value")))


def bpref(results: DataFrame, qrels: DataFrame, qnonrels: DataFrame,
          depth: int = 1000) -> DataFrame:
    """(qid, n_rel, n_nonrel, bpref) — trec_eval's binary preference
    measure (Buckley & Voorhees, SIGIR 2004), the judged-only metric
    trec_eval -M1000 reports next to MAP (/root/reference/src/run:40):

        bpref = (1/R) Σ_{r ∈ retrieved relevant}
                (1 − min(|nonrel above r|, min(R,N)) / min(R,N))

    where R/N are the judged relevant/nonrelevant counts and `nonrel
    above r` counts JUDGED nonrelevant docs retrieved ahead of r —
    unjudged docs are invisible, which is the point of the measure.
    When min(R,N) = 0 each retrieved relevant contributes 1 (trec_eval
    convention). Queries come from the qrels universe, bpref = 0 when
    nothing relevant is retrieved.

    Shape: two broadcast-sized judgment joins on the ≤depth run, one
    per-qid cumulative window over judged rows only (≤ depth rows per
    query), one aggregate — no corpus-scale state."""
    r = results.where(F.col("rank") <= depth)
    n_rel = qrels.groupBy("qid").agg(F.count("*").cast("long").alias("n_rel"))
    n_non = qnonrels.groupBy("qid").agg(
        F.count("*").cast("long").alias("n_nonrel"))
    judged = (r.join(qrels.withColumn("_rel", F.lit(1)),
                     ["qid", "doc_id"], "left")
              .join(qnonrels.withColumn("_non", F.lit(1)),
                    ["qid", "doc_id"], "left")
              .where(F.col("_rel").isNotNull() | F.col("_non").isNotNull()))
    w = (Window.partitionBy("qid").orderBy("rank")
         .rowsBetween(Window.unboundedPreceding, -1))
    judged = judged.withColumn(
        "_non_above",
        F.coalesce(F.sum(F.coalesce("_non", F.lit(0))).over(w), F.lit(0)))
    base = (n_rel.join(n_non, "qid", "left")
            .select("qid", "n_rel",
                    F.coalesce("n_nonrel", F.lit(0)).cast("long")
                     .alias("n_nonrel")))
    jj = judged.where(F.col("_rel") == 1).join(base, "qid")
    minrn = F.least(F.col("n_rel"), F.col("n_nonrel"))
    contrib = F.when(
        minrn > 0,
        F.lit(1.0) - F.least(F.col("_non_above").cast("double"),
                             minrn.cast("double")) / minrn
    ).otherwise(F.lit(1.0))
    per_q = jj.groupBy("qid").agg(F.sum(contrib).alias("_s"))
    return (base.join(per_q, "qid", "left")
            .select("qid", "n_rel", "n_nonrel",
                    F.round(F.coalesce("_s", F.lit(0.0))
                            / F.col("n_rel"), 6).alias("bpref")))


def r_precision(results: DataFrame, qrels: DataFrame,
                depth: int = 1000) -> DataFrame:
    """(qid, n_rel, rprec) — trec_eval's R-precision: precision at
    rank R where R is the query's judged-relevant count. With a run
    truncated at `depth` < R the numerator can only count what was
    retrieved, exactly as trec_eval scores a depth-limited run file."""
    r = results.where(F.col("rank") <= depth)
    n_rel = qrels.groupBy("qid").agg(F.count("*").cast("long").alias("n_rel"))
    hits = (r.join(n_rel, "qid")
            .where(F.col("rank") <= F.col("n_rel"))
            .join(qrels, ["qid", "doc_id"], "leftsemi")
            .groupBy("qid").agg(F.count("*").cast("long").alias("_h")))
    return (n_rel.join(hits, "qid", "left")
            .select("qid", "n_rel",
                    F.round(F.coalesce("_h", F.lit(0))
                            / F.col("n_rel").cast("double"), 6)
                     .alias("rprec")))


def gmap(results: DataFrame, qrels: DataFrame, depth: int = 1000,
         eps: float = 1e-5) -> DataFrame:
    """One row (n_queries, gmap) — geometric-mean AP over judged
    queries, trec_eval's gm_map: exp(mean(ln(max(ap, eps)))) with the
    standard eps = 1e-5 floor for zero-AP queries. Rewards consistency
    across queries where arithmetic MAP lets one easy query dominate.
    Per-query AP is the 6dp-rounded per_query_ap both engines share."""
    ap = per_query_ap(results, qrels, depth)
    return ap.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.round(F.exp(F.avg(F.log(F.greatest(F.col("ap"), F.lit(eps))))), 6)
         .alias("gmap"))
