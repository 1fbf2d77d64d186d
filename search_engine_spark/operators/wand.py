"""Block-max WAND-style top-k pruning (SURVEY.md §2.5 R8).

The reference only *hints* at this ("need to pre-compute the upper/max
threshold", /root/reference/src/invertedIndex.py:308-311 — the DAAT
path :305-492 is unfinished). The north rule requires posting-list
intersection with block-max pruning "expressed as broadcast
term-dictionary lookup plus mapInPandas scoring". This module
implements it as a **block-max score-at-a-time** scorer (the BMM
family): provably the same top-k as exhaustive TAAT, with whole
doc-ranges skipped using per-block score upper bounds.

Distributed shape
-----------------
Doc space is partitioned into the same salt ranges the index build
used (blocks never straddle a salt boundary — postings_blocked cuts
blocks inside per-salt runs), so **every document's complete score for
a query lives in exactly one (qid, range) group**:

    index blocks ⨝ broadcast(query terms)          [semi-join prune]
      → champion-block pass (JVM)                  [θ floor from top-ub blocks]
      → block-bound elimination (JVM)              [ub(β)+Σ_{t'≠t}max ub < θ ⇒ drop β]
      → groupBy(qid, range).applyInPandas(scorer)  [numpy block-max walk, θ-seeded]
      → union of local top-k → global window top-k [exact merge]

The JVM elimination is per BLOCK (a whole range dies when all its
blocks die, so range-level elimination is subsumed): postings of a
dropped block never pay the array projection or the Arrow transfer.

Inside a group the scorer:
1. computes per-block score upper bounds  ub = qtf·idf·sat(block_max_tf,
   block_min_dl)  (sat is monotone ↑ in tf, ↓ in dl, so this bounds
   every posting in the block);
2. cuts the group's doc range into fixed segments; segment bound =
   Σ_terms max{ub of blocks intersecting the segment};
3. visits segments in descending bound, exact-scoring all postings in
   the segment (vectorized numpy; docs are whole within a segment);
4. stops as soon as the next segment's bound < θ − 1e-6, where θ is
   the current k-th best raw score (the 1e-6 margin covers the 6-dp
   score rounding of the rank contract, so rounded ties are never
   pruned).

Correctness: every pruned unit (block pre-transfer, segment in the
scorer) carries a bound ≥ the true score of every doc it could serve,
so any doc that can reach the top-k keeps all of its postings and is
scored exactly — identical ranks and scores to the exhaustive path
(property-tested in tests/test_wand.py; the block-subset argument is
spelled out on _pruned_hits).

At 10^12 turns: block metadata is ~1/POSTING_BLOCK of the index and
rides in the same rows; stopword-hot terms have low idf → tiny ubs →
their long tails prune first, which is exactly the skew the north rule
calls out.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conf import BM25_B, BM25_K1, TOP_K_DEFAULT
from ..session import local_frame
from .query import _bm25_hits_topk, _topk, bm25_idf_py, bm25_partial, bm25_sat

_OUT_SCHEMA = "qid string, doc_id long, score double"
_STATS_SCHEMA = ("qid string, range int, n_segments int, n_scored_segments int, "
                 "n_postings long, n_postings_scored long")
_PRUNE_MARGIN = 2e-6  # > 1e-6 rounding quantum of the rank contract


def _score_group(pdf: pd.DataFrame, n_docs: int, avgdl: float, k: int,
                 k1: float, b: float, n_segments: int,
                 collect_stats: bool = False) -> pd.DataFrame:
    """Exact local top-k for one (qid, doc-range) group with block-max
    segment pruning. Returns ≤ k rows (qid, doc_id, raw score); with
    ``collect_stats`` returns instead ONE row of pruning evidence
    (segments visited vs total, postings exact-scored vs present)."""
    qid = pdf["qid"].iloc[0]

    # per-term flattening: postings arrive block-ordered by first_doc_id
    terms = []
    for term, g in pdf.groupby("term", sort=False):
        g = g.sort_values("first_doc_id", kind="mergesort")
        doc_ids = np.concatenate([np.asarray(x, dtype=np.int64) for x in g["doc_ids"]])
        tfs = np.concatenate([np.asarray(x, dtype=np.float64) for x in g["tfs"]])
        dls = np.concatenate([np.asarray(x, dtype=np.float64) for x in g["dls"]])
        df = float(g["df"].iloc[0])
        qtf = float(g["qtf"].iloc[0])
        w = qtf * bm25_idf_py(df, n_docs)
        ub = w * bm25_sat(g["block_max_tf"].to_numpy(dtype=np.float64),
                          g["block_min_dl"].to_numpy(dtype=np.float64),
                          avgdl, k1, b)
        terms.append({
            "doc_ids": doc_ids, "tfs": tfs, "dls": dls, "w": w,
            "b_first": g["first_doc_id"].to_numpy(dtype=np.int64),
            "b_last": g["last_doc_id"].to_numpy(dtype=np.int64),
            "b_ub": ub,
        })

    lo = min(int(t["b_first"].min()) for t in terms)
    hi = max(int(t["b_last"].max()) for t in terms)
    width = max(1, (hi - lo + 1 + n_segments - 1) // n_segments)
    n_seg = (hi - lo) // width + 1

    # segment bound = Σ_terms max block-ub intersecting the segment
    seg_ub = np.zeros(n_seg, dtype=np.float64)
    for t in terms:
        tm = np.zeros(n_seg, dtype=np.float64)
        s0 = (t["b_first"] - lo) // width
        s1 = (t["b_last"] - lo) // width
        for i in range(len(s0)):          # per-block; blocks ≪ postings
            a, z = int(s0[i]), int(s1[i])
            u = t["b_ub"][i]
            seg = tm[a:z + 1]
            np.maximum(seg, u, out=seg)
        seg_ub += tm

    order = np.argsort(-seg_ub, kind="mergesort")

    # running local top-k under the FINAL total order:
    # (round(score, 6) DESC, doc_id ASC)
    top_scores = np.empty(0, dtype=np.float64)
    top_docs = np.empty(0, dtype=np.int64)
    # θ seed: the champion-pass global lower bound (column `_theta0`,
    # see wand_topk) — at least k docs are known to reach it, so any
    # segment bounded below it prunes IMMEDIATELY, before this group
    # has scored anything locally.
    theta0 = -np.inf
    if "_theta0" in pdf.columns:
        v = pdf["_theta0"].iloc[0]
        if v is not None and not pd.isna(v):
            theta0 = float(v)
    theta = theta0
    n_scored_segments = 0
    n_postings_scored = 0
    for si in order:
        if seg_ub[si] <= 0.0:
            break
        if seg_ub[si] < theta - _PRUNE_MARGIN:
            break  # segments are in descending bound: all the rest prune
        n_scored_segments += 1
        d_lo = lo + si * width
        d_hi = d_lo + width  # exclusive
        seg_docs = []
        seg_partials = []
        for t in terms:
            a = np.searchsorted(t["doc_ids"], d_lo, side="left")
            z = np.searchsorted(t["doc_ids"], d_hi, side="left")
            if a == z:
                continue
            n_postings_scored += int(z - a)
            seg_docs.append(t["doc_ids"][a:z])
            seg_partials.append(
                t["w"] * bm25_sat(t["tfs"][a:z], t["dls"][a:z], avgdl, k1, b))
        if not seg_docs:
            continue
        docs = np.concatenate(seg_docs)
        partials = np.concatenate(seg_partials)
        u_docs, inv = np.unique(docs, return_inverse=True)
        scores = np.zeros(u_docs.size, dtype=np.float64)
        np.add.at(scores, inv, partials)
        # merge into running top-k
        all_docs = np.concatenate([top_docs, u_docs])
        all_scores = np.concatenate([top_scores, scores])
        r = np.round(all_scores, 6)
        sel = np.lexsort((all_docs, -r))[:k]
        top_docs, top_scores = all_docs[sel], all_scores[sel]
        if top_docs.size >= k:
            # local k-th best can be below the global seed — θ never drops
            theta = max(theta0, top_scores.min())

    if collect_stats:
        return pd.DataFrame({
            "qid": [qid],
            "range": [int(pdf["_range"].iloc[0])],
            "n_segments": [int(n_seg)],
            "n_scored_segments": [int(n_scored_segments)],
            "n_postings": [int(sum(t["doc_ids"].size for t in terms))],
            "n_postings_scored": [int(n_postings_scored)],
        })
    return pd.DataFrame({
        "qid": np.repeat(qid, top_docs.size),
        "doc_id": top_docs,
        "score": top_scores,
    })


def wand_topk(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
              avgdl: float, k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
              b: float = BM25_B, salt_buckets: int | None = None,
              n_segments: int = 64,
              champion_blocks: int | None = None) -> DataFrame:
    """Top-k BM25 over the blocked index WITH inline dl
    (postings_blocked(..., ds=doc_stats)) using block-max pruning.
    Rank- and score-identical to bm25_topk (property-gated).

    Pruning happens at two granularities, coarsest first: JVM-side
    per-BLOCK bound elimination + θ seeding from a champion-block pass
    (_pruned_hits — dropped blocks are never projected to arrays or
    transferred to Python), then per-segment bound pruning inside the
    Arrow scorer, with exact scoring only for surviving segments.

    The doc-range grouping key comes from the index's own ``salt``
    column when present (postings_blocked stamps each block with the
    range it was built in), so correctness cannot depend on the caller
    passing the same ``salt_buckets``/``n_docs`` the build used; the
    parameter-derived span is only a fallback for legacy indexes
    without the column."""
    if champion_blocks is None:
        champion_blocks = _default_champions(k)
    hits = _pruned_hits(index_dl, qterms, n_docs, avgdl, k, k1, b,
                        salt_buckets, champion_blocks)

    def scorer(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_group(pdf, n_docs, avgdl, k, k1, b, n_segments)

    local = hits.groupBy("qid", "_range").applyInPandas(scorer, schema=_OUT_SCHEMA)
    return _topk(local, k)


def _n_ranges(n_docs: int, salt_buckets: int | None) -> int:
    """Number of salt ranges `_range_col` can produce — the frozen-span
    geometry of conf.salt_buckets_for (explicit bucket counts resolve
    to themselves; None derives from SALT_DOC_SPAN)."""
    from ..conf import salt_buckets_for
    return salt_buckets_for(max(1, n_docs), salt_buckets)


def _range_col(index_dl: DataFrame, n_docs: int, salt_buckets: int | None) -> F.Column:
    if "salt" in index_dl.columns:
        return F.col("salt").cast("int")
    if salt_buckets is None:
        from ..conf import SALT_DOC_SPAN
        span = SALT_DOC_SPAN
    else:
        span = max(1, (n_docs + salt_buckets - 1) // salt_buckets)
    return (F.col("first_doc_id") / span).cast("int")


def _block_ub(n_docs: int, avgdl: float, k1: float, b: float) -> F.Column:
    """Per-block BM25 score upper bound as a column expression:
    qtf · idf · sat(block_max_tf, block_min_dl). sat is monotone ↑ in
    tf and ↓ in dl, and the bound runs the same kernel (bm25_partial)
    that scores each posting: every operation is monotone in dl, and
    integer tf steps dwarf rounding, so it dominates every posting's
    partial in the block."""
    return bm25_partial(n_docs, avgdl, k1, b,
                        tf="block_max_tf", dl="block_min_dl")


def _block_meta(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
                avgdl: float, k1: float, b: float, salt_buckets: int) -> DataFrame:
    """NARROW per-block metadata for query terms — no posting arrays
    touched. `_ub` = per-block score upper bound, pure column math (the
    broadcast term-dict lookup of the north rule, extended with the
    block-max saturation bound)."""
    return (
        index_dl.join(F.broadcast(qterms), "term", "inner")
        .select("qid", "qtf", "term", "df", "first_doc_id",
                _range_col(index_dl, n_docs, salt_buckets).alias("_range"),
                _block_ub(n_docs, avgdl, k1, b).alias("_ub"))
    )


def _default_champions(k: int) -> int:
    """Enough champion blocks that the pass almost surely covers ≥ k
    distinct docs even when high-ub blocks are tiny (a rare term whose
    per-salt runs hold a single posting still yields a θ floor — the
    exact case where pruning pays most). Champion cost is bounded by
    champion_blocks × block postings per qid, all JVM-side."""
    return max(16, 2 * ((k + 127) // 128) + 8)


def _champion_keys(meta: DataFrame, champion_blocks: int,
                   n_ranges: int) -> DataFrame:
    """Champion block keys (qid, qtf, term, first_doc_id), selected with
    state bounded CONSTANT in corpus size. A naive
    ``Window.partitionBy("qid")`` over the raw block metadata funnels
    every (query term × block) row of a qid — ~10^8 rows for a stopword
    at 10^12 docs — through one reducer. With span-derived salting even
    the per-(term, range) run maxima grow linearly with the corpus
    (#salt-ranges = ceil(n_docs / span)), so a two-level scheme still
    leaves an unbounded window. Instead:

    level 1: best block per (qid, term, COARSE range span) via a plain
             aggregation (map-side partial max; no window, no skew).
             The coarse span groups G = ceil(n_ranges /
             champion_blocks) consecutive salt ranges, so each (qid,
             term) contributes ≤ champion_blocks rows REGARDLESS of
             corpus size;
    level 2: global top-C per qid over those maxima — the only
             qid-partitioned window, over ≤ #query-terms ×
             champion_blocks NARROW rows per qid, constant in corpus
             size.

    Restricting champions to ≤ 1 block per (term, coarse span) is
    sound: the champion pass derives a score LOWER bound from whatever
    block subset it scores, so ANY champion choice yields a valid θ
    floor — subsetting can only (marginally) weaken pruning, never
    correctness (property-gated: salted ≡ unsalted ≡ exhaustive). When
    n_ranges ≤ champion_blocks the coarse span is a single range and
    the selection is identical to the former per-run scheme."""
    coarse_span = max(1, -(-n_ranges // max(1, champion_blocks)))
    run_best = (meta.groupBy("qid", "qtf", "term",
                             (F.col("_range") / coarse_span).cast("long")
                             .alias("_cspan"))
                .agg(F.max(F.struct("_ub", "first_doc_id")).alias("m"))
                .select("qid", "qtf", "term",
                        F.col("m._ub").alias("_ub"),
                        F.col("m.first_doc_id").alias("first_doc_id")))
    w_c = Window.partitionBy("qid").orderBy(F.desc("_ub"), "term", "first_doc_id")
    return (run_best.withColumn("_cr", F.row_number().over(w_c))
            .where(F.col("_cr") <= champion_blocks)
            .select("qid", "qtf", "term", "first_doc_id"))


def _theta_floor(index_dl: DataFrame, meta: DataFrame, n_docs: int,
                 avgdl: float, k: int, k1: float, b: float,
                 champion_blocks: int,
                 salt_buckets: int | None = None) -> DataFrame:
    """Champion-block pass: exact-score only the ``champion_blocks``
    highest-ub blocks per qid (a few hundred postings — plain explode +
    groupBy, JVM-side). A doc's partial sum over a block subset is a
    LOWER bound of its true score, so the k-th best such bound
    ``_theta0`` is ≤ the true k-th best score: a sound global θ floor
    with ≥ k docs known to reach it. Empty (no row for a qid) when the
    pass covers < k docs — callers treat that as 'no pruning'."""
    champ = index_dl.join(
        F.broadcast(_champion_keys(meta, champion_blocks,
                                   _n_ranges(n_docs, salt_buckets))),
        ["term", "first_doc_id"])
    pe = champ.select("qid", "qtf", "df", F.explode("postings").alias("p"))
    partial = bm25_partial(n_docs, avgdl, k1, b, tf="p.tf", dl="p.dl")
    lb = (pe.select("qid", F.col("p.doc_id").alias("doc_id"),
                    partial.alias("partial"))
          .groupBy("qid", "doc_id").agg(F.sum("partial").alias("_lb")))
    w_k = Window.partitionBy("qid").orderBy(F.desc("_lb"), "doc_id")
    return (lb.withColumn("_rk", F.row_number().over(w_k))
            .where(F.col("_rk") == k).select("qid", F.col("_lb").alias("_theta0")))


def _bound_tables(meta: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(tmax, rub): per-(qid, range, term) best block ub and per-(qid,
    range) summed range bound — #queries × #ranges-touched ×
    #query-terms NARROW rows.

    Deliberately NOT hint-broadcast: with span-derived salting a hot
    term touches every range, so at 10^12 docs tmax holds ~10^8 rows
    per hot query term and a forced broadcast OOMs the executors
    exactly where pruning matters most. The joins are left to AQE,
    which sees the post-aggregation sizes: at bench/test scale (≤ a
    few 10^4 rows) it broadcast-converts and the plan is identical to
    a hinted one; at web scale it falls back to a shuffled join on
    (qid, _range[, term]) — skew-splittable, and the block rows it
    re-shuffles are the ones about to be grouped by (qid, _range)
    anyway. Only θ (one scalar row per qid) keeps a broadcast hint."""
    tmax = meta.groupBy("qid", "_range", "term").agg(F.max("_ub").alias("_tu"))
    rub = tmax.groupBy("qid", "_range").agg(F.sum("_tu").alias("_rub"))
    return tmax, rub


def _pruned_hits(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
                 avgdl: float, k: int, k1: float, b: float,
                 salt_buckets: int | None,
                 champion_blocks: int | None) -> DataFrame:
    """BLOCK-level transfer pruning + θ seeding for the mapInPandas
    scorer, all JVM-side, BEFORE any posting array crosses into Python.

    1. champion θ floor (_theta_floor);
    2. drop every block β whose sound score bound
           bound(β of term t in range r) = ub(β) + Σ_{t'≠t} max_ub(t', r)
       falls below _theta0 − margin. Blocks never straddle a salt
       range, so every doc in β is inside r and its t'-contribution is
       bounded by the best t'-block ub of r: bound(β) ≥ the true score
       of every doc in β. A whole range dies when all its blocks die
       (every block bound ≤ the range bound Σ_t max_ub), so this
       SUBSUMES range-level elimination — and additionally drops cold
       blocks inside surviving ranges. Postings of a dropped block
       never pay the array projection or the Arrow transfer. For the
       canonical hot∧rare query this strips both the ranges the rare
       term doesn't touch and the hot term's low-tf blocks elsewhere;
    3. seed the surviving groups' scorers with _theta0 so segment
       pruning is active from the first segment.

    Scoring a block SUBSET stays exact for everything that matters: a
    dropped block bounds every one of its docs below θ0 − margin, and
    the champion pass guarantees ≥ k docs reach θ0 globally, so
    neither a fully- nor a partially-dropped doc can reach the global
    top-k; a doc that CAN keeps all of its blocks (each bounds that
    doc's score ≥ θ ≥ θ0) and is scored exactly. Partially-scored
    also-rans sit > 2 rounding quanta below θ0 and cannot flip a rank
    even at the 6-dp tie boundary. Segment bounds computed from the
    surviving blocks still dominate every surviving doc's score for the
    same reason (property-gated in tests/test_wand.py)."""
    meta = _block_meta(index_dl, qterms, n_docs, avgdl, k1, b, salt_buckets)
    arrays = (
        index_dl.join(F.broadcast(qterms), "term", "inner")
        .select(
            "qid", "qtf", "term", "df",
            "first_doc_id", "last_doc_id", "block_max_tf", "block_min_dl",
            "postings",
            _range_col(index_dl, n_docs, salt_buckets).alias("_range"),
            _block_ub(n_docs, avgdl, k1, b).alias("_ub"),
        )
    )
    if not champion_blocks:
        hits = arrays.withColumn("_theta0", F.lit(None).cast("double"))
    else:
        theta = _theta_floor(index_dl, meta, n_docs, avgdl, k, k1, b,
                             champion_blocks, salt_buckets)
        tmax, rub = _bound_tables(meta)
        hits = (arrays
                .join(tmax, ["qid", "_range", "term"])
                .join(rub, ["qid", "_range"])
                .join(F.broadcast(theta), "qid", "left")
                .where(F.col("_theta0").isNull()
                       | (F.col("_ub") - F.col("_tu") + F.col("_rub")
                          >= F.col("_theta0") - _PRUNE_MARGIN)))
    return hits.select(
        "qid", "qtf", "term", "df",
        "first_doc_id", "last_doc_id", "block_max_tf", "block_min_dl", "_range",
        F.transform("postings", lambda p: p["doc_id"]).alias("doc_ids"),
        F.transform("postings", lambda p: p["tf"]).alias("tfs"),
        F.transform("postings", lambda p: p["dl"]).alias("dls"),
        "_theta0")


def wand_topk_maxscore(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
                       avgdl: float, k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
                       b: float = BM25_B, salt_buckets: int | None = None,
                       champion_blocks: int | None = None,
                       probe_max_candidates: int = 100_000,
                       block_skip_min_df: int = 50_000) -> DataFrame:
    """MaxScore-strategy top-k BM25, all JVM-side. Rank/score-identical
    to bm25_topk (property- and oracle-gated).

    Per qid, query terms split by whole-term upper bound U_t = max block
    ub against the champion θ floor: the NON-ESSENTIAL set is the
    largest ascending-U prefix with Σ U_t < θ0 − margin. A doc touching
    only non-essential terms is bounded by that sum, so it cannot reach
    the top-k; every candidate therefore appears in some ESSENTIAL
    term's postings. Essential lists are scored exhaustively; the
    non-essential (typically hot, low-idf) lists contribute only via a
    candidate semi-join — their tails are never aggregated. The
    canonical hot∧rare query thus reduces to: score the rare list, then
    probe the hot list for just those docs. All-hot queries degrade
    gracefully to the exhaustive plan (every term essential, no join).

    Driver-side work is one U_t row per (qid, query term) and one θ row
    per qid — bounded by the query set, never by the corpus."""
    spark = index_dl.sparkSession
    if champion_blocks is None:
        champion_blocks = _default_champions(k)
    meta = _block_meta(index_dl, qterms, n_docs, avgdl, k1, b, salt_buckets)
    # per-(qid, term) whole-term upper bound U_t: a plain aggregation
    # with map-side partials — never a per-qid window over the raw
    # block rows. Driver rows bounded by the query set.
    stats = (meta.groupBy("qid", "term", "qtf")
             .agg(F.max("_ub").alias("u"), F.first("df").alias("df"))
             .collect())
    theta: dict[str, float] = {}
    if champion_blocks and stats:
        # champion selection + θ floor share the bounded-window path of
        # the other strategies (_champion_keys / _theta_floor); θ rows
        # collected are ≤ one per qid.
        theta = {r.qid: r._theta0 for r in
                 _theta_floor(index_dl, meta, n_docs, avgdl, k, k1, b,
                              champion_blocks, salt_buckets).collect()}
    by_qid: dict[str, list] = {}
    for r in stats:
        by_qid.setdefault(r.qid, []).append(r)
    ess_rows, non_rows = [], []
    for qid, rows in by_qid.items():
        th = theta.get(qid)
        ess_q, non_q = [], []
        if th is None:
            ess_q = rows
        else:
            run = 0.0
            for r in sorted(rows, key=lambda r: (r.u, r.term)):
                if run + r.u < th - _PRUNE_MARGIN:
                    run += r.u
                    non_q.append(r)
                else:
                    ess_q.append(r)
        # adaptive strategy per qid: the probe's candidate set is bounded
        # by Σ df(essential) — KNOWN driver-side. A stopword∧stopword
        # query would make the candidate side as big as the corpus and
        # turn the semi-join into a full shuffle join, so such qids run
        # exhaustively instead (probe only where it provably pays).
        cand_bound = sum(r.df for r in ess_q)
        if non_q and cand_bound > probe_max_candidates:
            ess_q, non_q = rows, []
        ess_rows += [(r.qid, r.term, r.qtf) for r in ess_q]
        non_rows += [(r.qid, r.term, r.qtf, r.df, cand_bound) for r in non_q]

    def _flat(q: DataFrame) -> DataFrame:
        h = (index_dl.join(F.broadcast(q), "term", "inner")
             .select("qid", "qtf", "df", F.explode("postings").alias("p")))
        return h.select("qid", "qtf", "df",
                        F.col("p.doc_id").alias("doc_id"),
                        F.col("p.tf").alias("tf"), F.col("p.dl").alias("dl"))

    schema = "qid string, term string, qtf int"
    he = _flat(local_frame(spark, ess_rows, schema))
    parts = [he]
    # Probes: a non-essential list contributes only for candidate docs.
    # Candidate sets are ≤ probe_max_candidates per qid; the probe is a
    # candidate semi-join (hot lists are never aggregated). Broadcast
    # is decided DRIVER-SIDE from the known per-qid candidate bounds:
    # Σ cand_bound over the probing qids is an upper bound on the
    # candidate rows, so the hint is forced exactly when the whole set
    # provably fits a broadcast budget (the per-qid cap alone does not
    # bound a many-thousand-qid batch, where a blind hint would OOM and
    # AQE's 10 MB default would mis-route the normal regime to a
    # shuffled semi-join). For a long hot list probed by FEW
    # candidates, even the scan is skipped at BLOCK granularity
    # (block_skip branch) — the Spark analogue of the reference's
    # offsets.gz byte-seek into a posting list
    # (src/invertedIndex.py:240-241).
    plain = [(q, t, f) for q, t, f, df, cb in non_rows
             if df < max(block_skip_min_df, 10 * max(cb, 1))]
    skip = [(q, t, f) for q, t, f, df, cb in non_rows
            if df >= max(block_skip_min_df, 10 * max(cb, 1))]
    probe_qids = {q for q, _, _ in plain} | {q for q, _, _ in skip}
    total_cand = sum({q: cb for q, _, _, _, cb in non_rows
                      if q in probe_qids}.values())
    # ~24 B per (qid string, doc_id long) broadcast row; 256 MB budget
    bc_cand = (F.broadcast if total_cand * 24 < 256 * 1024 * 1024
               else (lambda df: df))
    if plain:
        qids = sorted({q for q, _, _ in plain})
        cand = bc_cand(he.where(F.col("qid").isin(qids))
                       .select("qid", "doc_id"))
        parts.append(_flat(local_frame(spark, plain, schema))
                     .join(cand, ["qid", "doc_id"], "leftsemi"))
    if skip:
        qids = sorted({q for q, _, _ in skip})
        cand_df = he.where(F.col("qid").isin(qids)).select("qid", "doc_id")
        cand = bc_cand(cand_df)
        # block-containment made equi-joinable: bucket doc space at
        # width W; a block spans ≤ span/W+1 buckets (pathologically wide
        # blocks, > 64 buckets, are kept unconditionally rather than
        # truncating coverage). The key subplan is NARROW — no posting
        # arrays are scanned to decide which blocks survive.
        W = 1024
        cbuck = bc_cand(
            cand_df.select("qid", (F.col("doc_id") / W).cast("long").alias("_bk"))
            .distinct())
        qn = local_frame(spark, skip, schema)
        nbk = (index_dl.join(F.broadcast(qn), "term", "inner")
               .select("qid", "term", "first_doc_id", "last_doc_id"))
        b0 = (F.col("first_doc_id") / W).cast("long")
        b1 = (F.col("last_doc_id") / W).cast("long")
        keys = bc_cand(
            nbk.where(b1 - b0 <= 64)
            .select("qid", "term", "first_doc_id",
                    F.explode(F.sequence(b0, b1)).alias("_bk"))
            .join(cbuck, ["qid", "_bk"], "leftsemi")
            .select("qid", "term", "first_doc_id").distinct()
            .unionByName(nbk.where(b1 - b0 > 64)
                         .select("qid", "term", "first_doc_id")))
        touched = (index_dl.join(F.broadcast(qn), "term", "inner")
                   .join(keys, ["qid", "term", "first_doc_id"], "leftsemi")
                   .select("qid", "qtf", "df", F.explode("postings").alias("p"))
                   .select("qid", "qtf", "df",
                           F.col("p.doc_id").alias("doc_id"),
                           F.col("p.tf").alias("tf"), F.col("p.dl").alias("dl")))
        parts.append(touched.join(cand, ["qid", "doc_id"], "leftsemi"))
    hits = parts[0]
    for p_ in parts[1:]:
        hits = hits.unionByName(p_)
    return _bm25_hits_topk(hits, n_docs, avgdl, k, k1, b)


def wand_prune_stats(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
                     avgdl: float, k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
                     b: float = BM25_B, salt_buckets: int | None = None,
                     n_segments: int = 64,
                     champion_blocks: int | None = None) -> DataFrame:
    """Pruning evidence for the same pipeline wand_topk runs: one row
    per SURVIVING (qid, range) with segments visited vs total and
    postings exact-scored vs present; ranges the JVM pass dropped never
    appear (bench.py derives the transfer savings by comparing against
    the index's total query-term postings). On a degenerate
    flat-vocabulary corpus every term is hot and nothing can prune."""
    if champion_blocks is None:
        champion_blocks = _default_champions(k)
    hits = _pruned_hits(index_dl, qterms, n_docs, avgdl, k, k1, b,
                        salt_buckets, champion_blocks)

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_group(pdf, n_docs, avgdl, k, k1, b, n_segments,
                            collect_stats=True)

    return hits.groupBy("qid", "_range").applyInPandas(stats, schema=_STATS_SCHEMA)


def topk_auto(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
              avgdl: float, k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
              b: float = BM25_B, salt_buckets: int | None = None,
              prune_max_k: int | None = None,
              prune_min_docs: int | None = None) -> DataFrame:
    """Cost-based retrieval strategy pick — what the engine actually
    serves with when the caller doesn't name a strategy.

    Block-max pruning is an optimization with a TWO-AXIS regime
    (measured both ways on the Zipf bench — BASELINE.md "Deep-k
    honesty" and "Pruning crossover"):
    - depth: it wins when the θ floor converges quickly (shallow k)
      and loses at TREC depth, where θ stays low, few blocks die, and
      the candidate-probe machinery is pure overhead;
    - corpus volume: the probe machinery costs a per-batch FIXED
      number of extra Spark stages, so below ~0.5M docs (this
      hardware) the postings-scan savings never repay it at any k.
    Both branches are rank/score-identical to bm25_topk (each is
    independently oracle-gated), so the pick is cost-only:
    k ≤ prune_max_k AND n_docs ≥ min_docs → all-JVM MaxScore;
    otherwise exhaustive serving from the same blocked inline-dl
    index. Both inputs (k, n_docs) are the driver's own scalars, so
    the decision costs nothing at plan time.

    The result is one partition (`coalesce(1)` over at most k ×
    #queries rows), so the final window stage runs as one task and a
    caller's `orderBy("qid", "rank")` adds no range-sample job and no
    sort shuffle.
    """
    from ..conf import AUTO_PRUNE_MAX_K, AUTO_PRUNE_MIN_DOCS
    from .query import bm25_topk_from_index
    if prune_max_k is None:
        prune_max_k = AUTO_PRUNE_MAX_K
    if prune_min_docs is None:
        prune_min_docs = AUTO_PRUNE_MIN_DOCS
    if k <= prune_max_k and n_docs >= prune_min_docs:
        res = wand_topk_maxscore(index_dl, qterms, n_docs, avgdl, k=k,
                                 k1=k1, b=b, salt_buckets=salt_buckets)
    else:
        res = bm25_topk_from_index(index_dl, qterms, n_docs, avgdl,
                                   k=k, k1=k1, b=b)
    return res.coalesce(1)
