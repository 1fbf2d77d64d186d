"""Sequential Dependence Model ranking (Metzler & Croft, SIGIR 2005).

The capstone term-dependence ranker tying together three channels the
engine already serves separately:

    score = λ_T · f_T  +  λ_O · f_O  +  λ_U · f_U

- f_T: Dirichlet query-likelihood over unigrams (operators/lm.py),
- f_O: Dirichlet LM over EXACT ORDERED adjacent bigrams ("#1(a b)"),
  whose per-doc tf is the bigram index (operators/bigrams.py),
- f_U: Dirichlet LM over UNORDERED co-occurrence pair counts within a
  window of W tokens ("#uw8"), counted with the banded position join
  of operators/proximity.py (never |doc|²).

Each channel uses the sparse rank-equivalent Dirichlet form (Zhai &
Lafferty 2001): matched rows contribute qtf·ln(1 + tf·C/(μ·cf)) and
each candidate doc adds n_ch·ln(μ/(dl+μ)) once per channel, where
n_ch counts the channel's query items WITH nonzero collection
frequency (OOV items drop out — the dictionary-miss convention,
/root/reference/src/invertedIndex.py:260-261).

Frozen contract choices (documented deviations from Indri):
- adjacent pairs with identical terms are dropped from BOTH O and U;
- all three channels share the document length dl and the smoothing
  μ; the bigram/window collection size is C_O = Σ max(dl−1, 0);
- the window feature counts unordered occurrence PAIRS with
  |p_a − p_b| ≤ W−1 (both inside a W-token window), not windows.

Scale shape: the unigram channel is lm_dirichlet_scores (broadcast
dictionary, agg-before-dl-join). The O/U channels touch only postings
of the query's pair terms (broadcast semi-join prune); pair counting
is the banded W-bucket equi-join keyed by (qid, doc_id, band) — work
linear in pruned occurrences × band density. Collection frequencies
for O/U aggregate from those same pruned relations (tiny), never from
a corpus-wide pair enumeration. Every feature join after aggregation
is per-(qid, doc) on the already-collapsed candidate set.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conf import (LM_MU, NEAR_WINDOW, SDM_LAMBDA_O, SDM_LAMBDA_T,
                    SDM_LAMBDA_U, TOP_K_DEFAULT)
from ..functions.tokenize import tokenize_py
from ..session import local_frame
from .lm import lm_dirichlet_scores
from .query import _topk


def sdm_pairs_df(spark: SparkSession,
                 query_set: list[tuple[str, str]]) -> DataFrame:
    """(qid, term_a, term_b, ptf) — adjacent token pairs per query in
    sequence order, multiplicity-counted; identical-term pairs are
    dropped (frozen contract)."""
    rows = []
    for qid, title in query_set:
        toks = tokenize_py(title)
        pairs = Counter((a, b) for a, b in zip(toks, toks[1:]) if a != b)
        for (a, b), ptf in sorted(pairs.items()):
            rows.append((qid, a, b, ptf))
    return local_frame(
        spark, rows, "qid string, term_a string, term_b string, ptf int")


def ordered_pair_counts(bc: DataFrame, pairs: DataFrame) -> DataFrame:
    """(qid, term_a, term_b, ptf, doc_id, otf) — exact ordered
    adjacent-bigram counts per doc, restricted to the query pairs.
    `bc` is bigram_counts output (doc_id, bigram, tf)."""
    p = pairs.select("qid", "term_a", "term_b", "ptf",
                     F.concat_ws(" ", "term_a", "term_b").alias("bigram"))
    return (bc.join(F.broadcast(p), "bigram")
            .select("qid", "term_a", "term_b", "ptf", "doc_id",
                    F.col("tf").alias("otf")))


def window_pair_counts(pos_idx: DataFrame, pairs: DataFrame,
                       window: int = NEAR_WINDOW) -> DataFrame:
    """(qid, term_a, term_b, ptf, doc_id, wtf) — unordered occurrence
    pairs of (term_a, term_b) with |pos_a − pos_b| ≤ window−1 per doc,
    via the banded position join (operators/proximity.py pattern):
    side A keeps its own W-band, side B explodes to {band, band+1};
    both orientations are generated, then pairs canonicalize to
    (pos of term_a, pos of term_b) and count DISTINCT — each
    qualifying pair lands in exactly one band per orientation, and at
    least one orientation matches."""
    terms = (pairs.select("qid", F.col("term_a").alias("term"))
             .unionByName(pairs.select("qid", F.col("term_b").alias("term")))
             .distinct())
    occ = (pos_idx.join(F.broadcast(terms), "term")
           .select("qid", "term", "doc_id", F.explode("positions").alias("pos")))
    w = F.lit(int(window))
    a = occ.select("qid", "doc_id", F.col("term").alias("_ta"),
                   F.col("pos").alias("_pa"),
                   (F.col("pos").cast("long") / w).cast("long").alias("bkt"))
    b = occ.select("qid", "doc_id", F.col("term").alias("_tb"),
                   F.col("pos").alias("_pb"),
                   F.explode(F.array(
                       (F.col("pos").cast("long") / w).cast("long"),
                       (F.col("pos").cast("long") / w).cast("long") + 1,
                   )).alias("bkt"))
    hits = (a.join(b, ["qid", "doc_id", "bkt"])
            .where(F.abs(F.col("_pa") - F.col("_pb")) <= w - 1))
    # orient onto the query pair (term_a, term_b); both (A=ta,B=tb)
    # and (A=tb,B=ta) orientations reach here, so dedup on the
    # canonical (pos of term_a, pos of term_b) tuple
    pq = F.broadcast(pairs)
    matched = (hits.join(pq.withColumnRenamed("qid", "_q"),
                         (F.col("qid") == F.col("_q"))
                         & (((F.col("_ta") == F.col("term_a"))
                             & (F.col("_tb") == F.col("term_b")))
                            | ((F.col("_ta") == F.col("term_b"))
                               & (F.col("_tb") == F.col("term_a")))))
               .select("qid", "doc_id", "term_a", "term_b", "ptf",
                       F.when(F.col("_ta") == F.col("term_a"), F.col("_pa"))
                        .otherwise(F.col("_pb")).alias("pa"),
                       F.when(F.col("_ta") == F.col("term_a"), F.col("_pb"))
                        .otherwise(F.col("_pa")).alias("pb")))
    return (matched.groupBy("qid", "term_a", "term_b", "ptf", "doc_id")
            .agg(F.countDistinct("pa", "pb").cast("int").alias("wtf")))


def _channel_scores(per_doc: DataFrame, tf_col: str, c_total: float,
                    mu: float) -> tuple[DataFrame, DataFrame]:
    """((qid, doc_id, _s) matched sums, (qid, _n) per-query item mass)
    for one O/U channel. cf aggregates from the pruned per-doc
    relation itself; items with cf = 0 never appear, matching the
    OOV-drop convention."""
    c = F.lit(float(c_total))
    m = F.lit(float(mu))
    cf = (per_doc.groupBy("qid", "term_a", "term_b", "ptf")
          .agg(F.sum(tf_col).cast("long").alias("cf")))
    n = cf.groupBy("qid").agg(F.sum("ptf").cast("double").alias("_n"))
    partial = F.col("ptf") * F.log(
        F.lit(1.0)
        + F.col(tf_col).cast("double") * c / (m * F.col("cf").cast("double")))
    matched = (per_doc.join(F.broadcast(cf),
                            ["qid", "term_a", "term_b", "ptf"])
               .select("qid", "doc_id", partial.alias("partial"))
               .groupBy("qid", "doc_id")
               .agg(F.sum("partial").alias("_s")))
    return matched, n


def sdm_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
             qterms: DataFrame, bc: DataFrame, pos_idx: DataFrame,
             pairs: DataFrame, total_tokens: int, total_bigrams: int,
             window: int = NEAR_WINDOW, mu: float = LM_MU,
             lam_t: float = SDM_LAMBDA_T, lam_o: float = SDM_LAMBDA_O,
             lam_u: float = SDM_LAMBDA_U,
             k: int = TOP_K_DEFAULT) -> DataFrame:
    """(qid, doc_id, rank, score) — full SDM ranking. Candidates are
    docs matching ≥1 query unigram (a doc matching a pair necessarily
    matches its unigrams)."""
    m = F.lit(float(mu))
    s_t = lm_dirichlet_scores(tc, ds, tstats, qterms, total_tokens, mu=mu)

    o_doc = ordered_pair_counts(bc, pairs)
    u_doc = window_pair_counts(pos_idx, pairs, window=window)
    o_m, o_n = _channel_scores(o_doc, "otf", float(total_bigrams), mu)
    u_m, u_n = _channel_scores(u_doc, "wtf", float(total_bigrams), mu)

    ln_mu_dl = F.log(m / (F.col("dl").cast("double") + m))
    scored = (
        s_t.withColumnRenamed("score", "_st")
        .join(o_m.withColumnRenamed("_s", "_so"), ["qid", "doc_id"], "left")
        .join(u_m.withColumnRenamed("_s", "_su"), ["qid", "doc_id"], "left")
        .join(ds.select("doc_id", "dl"), "doc_id")
        .join(F.broadcast(o_n.withColumnRenamed("_n", "_no")), "qid", "left")
        .join(F.broadcast(u_n.withColumnRenamed("_n", "_nu")), "qid", "left")
        .select(
            "qid", "doc_id",
            (F.lit(float(lam_t)) * F.col("_st")
             + F.lit(float(lam_o))
             * (F.coalesce("_so", F.lit(0.0))
                + F.coalesce("_no", F.lit(0.0)) * ln_mu_dl)
             + F.lit(float(lam_u))
             * (F.coalesce("_su", F.lit(0.0))
                + F.coalesce("_nu", F.lit(0.0)) * ln_mu_dl))
            .alias("score")))
    return _topk(scored, k)
