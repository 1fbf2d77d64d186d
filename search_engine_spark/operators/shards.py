"""CORI resource selection: rank index shards per query, route the
query to the top-m shards instead of broadcasting it to all of them.

At 10^12 documents the index lives in O(1000) shards; answering every
query against every shard costs 1000 posting-fetch fan-outs. CORI
(Callan, Lu & Croft, "Searching distributed collections with
inference networks", SIGIR 1995) scores each shard from per-shard
term statistics only — a relation of size O(shards × vocab) that is
tiny next to the index and broadcastable — so the router prunes the
fan-out to the shards that can actually contribute top-k hits.

    T(t, s) = df_s / (df_s + DF_BASE + DF_FACTOR * cw_s / avg_cw)
    I(t)    = ln((NS + 0.5) / sf_t) / ln(NS + 1.0)
    belief(t, s) = B_DEFAULT + (1 - B_DEFAULT) * T * I
    score(q, s)  = SUM_t qtf(t) * belief(t, s)

where df_s = shard document frequency, cw_s = shard token count,
avg_cw = mean shard token count, sf_t = number of shards containing
t, NS = shard count. A term absent from a shard contributes the
B_DEFAULT floor (T = 0), exactly as in the paper.

Reference analogue: /root/reference/src/invertedIndex.py keeps one
monolithic df table; this is the per-shard factoring of the same
statistics that a sharded deployment of it would need.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

CORI_DF_BASE = 50.0
CORI_DF_FACTOR = 150.0
CORI_B_DEFAULT = 0.4

# topical-sharding knobs (doc_topic_features / topical_shard_map)
TOPIC_DIM = 16          # hashed-signature dimensionality
TOPIC_IDF_SCALE = 1000  # idf quantization: round(ln(N/df) * SCALE)
TOPIC_KMEANS_ITERS = 2  # fixed Lloyd iterations (deterministic)


def _shard_cols(df: DataFrame, n_shards: int,
                shard_of) -> DataFrame:
    """Attach shard_id: doc_id % n_shards by default; a (doc_id,
    shard_id) DataFrame mapping (build-time topical sharding); or a
    Column EXPRESSION (serving-time topical layout — e.g.
    shard_id_from_ranges over a reassigned id, zero joins)."""
    if shard_of is None:
        return df.withColumn(
            "shard_id", (F.col("doc_id") % n_shards).cast("int"))
    if isinstance(shard_of, Column):
        return df.withColumn("shard_id", shard_of.cast("int"))
    return df.join(shard_of.select("doc_id", "shard_id"), "doc_id")


def shard_stats(tc: DataFrame, ds: DataFrame, n_shards: int = 8,
                shard_of: DataFrame | Column | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """Per-shard term stats (shard_id = doc_id % n_shards, or the
    explicit `shard_of` mapping for topically-partitioned shards).

    Returns (term_shard, shard_size):
      term_shard: (shard_id, term, df_s)
      shard_size: (shard_id, cw_s)   — total tokens per shard

    One groupBy each over the posting relation; output is
    O(shards × vocab) and O(shards) — the broadcastable routing table.
    """
    term_shard = (_shard_cols(tc, n_shards, shard_of)
                  .select("shard_id", "term")
                  .groupBy("shard_id", "term")
                  .agg(F.count("*").cast("long").alias("df_s")))
    shard_size = (_shard_cols(ds, n_shards, shard_of)
                  .select("shard_id", "dl")
                  .groupBy("shard_id")
                  .agg(F.sum("dl").cast("long").alias("cw_s")))
    return term_shard, shard_size


def cori_select(term_shard: DataFrame, shard_size: DataFrame,
                qterms: DataFrame, n_shards: int,
                top_m: int = 4) -> DataFrame:
    """(qid, shard_id, rank, score) — top-m shards per query.

    The full qterm × shard grid is built first (both sides bounded:
    query set × shard count) so absent terms hit the B_DEFAULT floor;
    shard stats join in broadcast. term_shard is semi-joined to the
    query terms BEFORE sf and the broadcast, so both broadcast sides
    hold query-term rows only (≤ query terms × shards), never the
    vocabulary; sf is per term, so its values are unchanged. Score
    rounded 6dp before ranking, shard_id tiebreak — the repo's
    cross-engine ranking contract."""
    avg_cw = shard_size.agg(F.avg("cw_s")).collect()[0][0]
    term_shard = term_shard.join(
        F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
    sf = term_shard.groupBy("term").agg(
        F.count("*").cast("long").alias("sf_t"))
    shards = shard_size.select("shard_id", "cw_s")
    grid = (qterms.crossJoin(F.broadcast(shards))
            .join(F.broadcast(term_shard), ["shard_id", "term"], "left")
            .join(F.broadcast(sf), "term", "left"))
    t_part = (F.coalesce(F.col("df_s"), F.lit(0)).cast("double")
              / (F.coalesce(F.col("df_s"), F.lit(0))
                 + CORI_DF_BASE
                 + CORI_DF_FACTOR * F.col("cw_s") / F.lit(float(avg_cw))))
    i_part = (F.log((float(n_shards) + 0.5)
                    / F.coalesce(F.col("sf_t"), F.lit(1)).cast("double"))
              / F.log(F.lit(float(n_shards) + 1.0)))
    belief = CORI_B_DEFAULT + (1.0 - CORI_B_DEFAULT) * t_part * i_part
    scored = (grid.groupBy("qid", "shard_id")
              .agg(F.round(F.sum(F.col("qtf") * belief), 6).alias("score")))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("shard_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= top_m)
            .select("qid", "shard_id", "rank", "score"))


def scatter_gather_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                        qterms: DataFrame, n_docs: int, avgdl: float,
                        n_shards: int = 8, k: int = 10,
                        shard_of: DataFrame | Column | None = None
                        ) -> DataFrame:
    """Scatter-gather serving: per-shard BM25 top-k with GLOBAL
    statistics, merged and re-cut to k — and by the standard safety
    property (every shard returns its full local top-k, scores use
    corpus-global df/avgdl) the result is IDENTICAL to the monolithic
    ranking, which is exactly what the oracle gate pins.

    This is the gather half of distributed serving (cori_select is the
    scatter half that prunes which shards to ask). The per-shard top-k
    is one window partitioned by (qid, shard) — parallelism grows with
    shard count; the merge re-ranks only shards × k rows per query.

    The global-stats subtlety is the point: shard-LOCAL df would skew
    idf per shard and break the identity; the broadcast term dict
    carries the global df to every shard, the same way a real
    deployment ships the global dictionary with each index shard.
    `shard_of` swaps the hash layout for a topical map / id-range
    column — the identity holds for ANY layout (the property the
    oracle gate and tests pin).
    """
    from .query import _topk, bm25_partial

    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    hits = (_shard_cols(tc, n_shards, shard_of)
            .join(qdict, "term", "inner")
            .join(ds.select("doc_id", "dl"), "doc_id"))
    scored = (hits.select("qid", "doc_id", "shard_id",
                          bm25_partial(n_docs, avgdl).alias("partial"))
              .groupBy("qid", "shard_id", "doc_id")
              .agg(F.round(F.sum("partial"), 6).alias("score")))
    w_local = Window.partitionBy("qid", "shard_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    local_topk = (scored.withColumn("lrk", F.row_number().over(w_local))
                  .where(F.col("lrk") <= k)
                  .select("qid", "doc_id", "score"))
    return _topk(local_topk, k)


def routed_topk(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                qterms: DataFrame, n_docs: int, avgdl: float,
                n_shards: int = 8, top_m: int = 4,
                k: int = 10,
                shard_of: DataFrame | Column | None = None) -> DataFrame:
    """Route-then-score: CORI-select top_m shards per query, score
    ONLY those shards' documents (global df/avgdl), top-k. The
    end-to-end selective-search serving path (route → scatter →
    gather): query fan-out drops from n_shards to top_m, trading tail
    recall — measured, not assumed, by routing_recall.

    The (qid, shard_id) routing table is queries × top_m rows —
    broadcast; the shard filter runs map-side on the hit stream before
    the score shuffle, exactly like taat_bounded_topk's admission.
    """
    from ..conf import BM25_B, BM25_K1
    from .query import _bm25_hits_topk

    tsh, ssz = shard_stats(tc, ds, n_shards=n_shards, shard_of=shard_of)
    routes = (cori_select(tsh, ssz, qterms, n_shards=n_shards, top_m=top_m)
              .select("qid", "shard_id"))
    qdict = F.broadcast(qterms.join(tstats, "term", "inner"))
    hits = (_shard_cols(tc, n_shards, shard_of)
            .join(qdict, "term", "inner")
            .join(F.broadcast(routes), ["qid", "shard_id"], "leftsemi")
            .join(ds.select("doc_id", "dl"), "doc_id"))
    return _bm25_hits_topk(hits, n_docs, avgdl, k, BM25_K1, BM25_B)


def doc_topic_features(tc: DataFrame, tstats: DataFrame, n_docs: int,
                       dim: int = TOPIC_DIM) -> DataFrame:
    """(doc_id, v: array<double>) — dense hashed tf·idf topic
    signatures, the document featurization behind topical sharding
    (Kulkarni & Callan, "Shard ranking and cutoff estimation" /
    topic-based partitioning for selective search, CIKM 2010).

    Feature bucket = portable md5 hash of the term mod `dim` (the
    repo's engine-portable coin); weight = tf × round(ln(N/df) ×
    TOPIC_IDF_SCALE). The quantized idf makes every per-bucket sum an
    INTEGER, so summation order cannot perturb the value — the DuckDB
    oracle reproduces the vectors bit-identically. Stopword-grade
    terms (df ≈ N) quantize to weight 0 and drop out of the signature
    naturally; rare topical terms dominate it, which is exactly the
    mass BM25 ranks by, so clustering these signatures co-locates the
    docs a query's top-k comes from.

    Scale shape: one equi-join tc⋈df (term dictionary — NOT broadcast,
    same rule as nb_classify) and one (doc_id, bucket) groupBy; the
    dense dim-vector assembly is a per-doc map transform. Output is
    corpus-sized but dim-bounded per row."""
    bucket = (F.conv(F.substring(F.md5("term"), 1, 15), 16, 10)
              .cast("long") % dim).cast("int")
    idf_i = F.round(F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
                    * TOPIC_IDF_SCALE, 0).cast("long")
    w = (tc.join(tstats.select("term", idf_i.alias("_idf")), "term")
         .select("doc_id", bucket.alias("b"),
                 (F.col("tf").cast("long") * F.col("_idf")).alias("w"))
         .groupBy("doc_id", "b")
         .agg(F.sum("w").alias("w")))
    m = (w.groupBy("doc_id")
         .agg(F.map_from_entries(
             F.collect_list(F.struct("b", "w"))).alias("_m")))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("int")),
                             F.lit(0).cast("long")).cast("double"))
    return m.select("doc_id", vec.alias("v"))


def topical_shard_map(tc: DataFrame, ds: DataFrame, tstats: DataFrame,
                      n_docs: int, n_shards: int = 8, dim: int = TOPIC_DIM,
                      n_iters: int = TOPIC_KMEANS_ITERS,
                      group_of: DataFrame | None = None) -> DataFrame:
    """(doc_id, shard_id) — topical shard assignment: deterministic
    fixed-iteration Lloyd k-means over the hashed tf·idf signatures,
    one cell per shard. This is the selective-search partitioner: CORI
    routing over TOPICAL shards reaches the full ranking's top-k with
    a small top_m because each query's mass concentrates in few shards
    — the production answer to the honest-but-low recall that CORI
    gives over hash-partitioned (doc_id % n) shards.

    Same deterministic recipe as similarity.kmeans_train (init: the
    n_shards lowest-doc_id nonzero signatures; assignment: argmax
    round(cos, 4), ties → lower cell; update: per-component mean
    rounded 6dp) so the DuckDB oracle replays it. Zero-signature docs
    (empty text, or all-stopword text whose idf quantizes to 0) take
    shard 0 — they can't match a content query anyway.

    group_of — optional (doc_id, gid) mapping: signatures are pooled
    and clustered PER GROUP (e.g. conversation), every member doc
    inheriting its group's shard. For multi-turn transcripts this is
    the right granularity twice over: the topic lives at the
    conversation level (pooling kills short-turn signature noise —
    measured: conv-level lifts mean routing recall@10 from ~0.75 to
    ~0.99 at 8 shards, top_m=2 on the topical fixture), and it
    co-locates whole conversations in one shard, which conversation-
    level operators (conv_dedup, sessionize) also want.

    Scale shape per iteration: broadcast K×dim centroid nested-loop +
    per-doc argmax + K×dim mean agg; the corpus is never shuffled.
    The output map is corpus-sized — production builds feed it to
    topical_reassign so serving derives the shard from the doc-id
    RANGE (zero-join); the map itself is a build-time artifact."""
    from .similarity import COS_DECIMALS, cosine

    if group_of is not None:
        base = (tc.join(group_of.select("doc_id", "gid"), "doc_id")
                .groupBy(F.col("gid").alias("doc_id"), "term")
                .agg(F.sum("tf").alias("tf")))
    else:
        base = tc
    feats = doc_topic_features(base, tstats, n_docs, dim)
    nonzero = F.aggregate("v", F.lit(0.0), lambda a, x: a + x) > 0
    v = feats.where(nonzero).select("doc_id", "v")
    w0 = Window.orderBy("doc_id")
    cent = (v.orderBy("doc_id").limit(n_shards)
            .withColumn("cell", (F.row_number().over(w0) - 1).cast("int"))
            .select("cell", F.col("v").alias("centv"))
            .localCheckpoint(eager=True))
    assign = None
    for it in range(n_iters):
        scored = (v.crossJoin(F.broadcast(cent))
                  .select("doc_id", "v", "cell",
                          F.round(cosine(F.col("v"), F.col("centv")),
                                  COS_DECIMALS).alias("cos")))
        wa = Window.partitionBy("doc_id").orderBy(F.desc("cos"), F.asc("cell"))
        assign = (scored.withColumn("_rn", F.row_number().over(wa))
                  .where(F.col("_rn") == 1).select("doc_id", "v", "cell"))
        if it == n_iters - 1:
            break  # the final assignment is the output; a further
            # centroid update would be a dead corpus-scale aggregation
        comp = assign.select("cell", F.posexplode("v").alias("pos", "x"))
        cent = (comp.groupBy("cell", "pos")
                .agg(F.round(F.avg("x"), 6).alias("cval"))
                .groupBy("cell")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "cval")))
                     .alias("_pc"))
                .select("cell", F.transform("_pc", lambda s: s["cval"])
                        .alias("centv"))
                .localCheckpoint(eager=True))
    cells = assign.select("doc_id", "cell")
    if group_of is not None:
        cells = (group_of.select("doc_id", F.col("gid").alias("_g"))
                 .join(cells.withColumnRenamed("doc_id", "_g"), "_g", "left")
                 .select("doc_id", "cell"))
    return (ds.select("doc_id")
            .join(cells, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cell", F.lit(0)).cast("int")
                    .alias("shard_id")))


def topical_reassign(shard_map: DataFrame,
                     n_shards: int) -> tuple[DataFrame, list[int]]:
    """(mapping, bounds) — mint contiguous doc-ids grouped by shard.

    mapping: (doc_id, new_id) via reassign_doc_ids under ORDER BY
    (shard_id, doc_id) — one range shuffle, the operators/docids.py
    machinery. bounds: per-shard start offsets in new-id space
    (n_shards ints, driver-side), so serving computes
    shard_id_from_ranges(new_id) with ZERO joins — the corpus-sized
    shard map exists only at build time, exactly like the % n
    arithmetic it replaces. This is the "wire the topical key through
    reassignment" production path: delta-gap compression also wins
    because topically-adjacent docs now sit on adjacent ids
    (Silvestri ECIR 2007)."""
    from .reassign import reassign_doc_ids

    mapping = reassign_doc_ids(
        shard_map, key=[F.col("shard_id"), F.col("doc_id")])
    counts = {r.shard_id: r.n for r in
              shard_map.groupBy("shard_id")
              .agg(F.count("*").alias("n")).collect()}
    bounds, acc = [], 0
    for s in range(n_shards):
        bounds.append(acc)
        acc += counts.get(s, 0)
    return mapping, bounds


def shard_id_from_ranges(id_col, bounds: list[int]):
    """shard_id of a reassigned doc-id, from the per-shard start
    offsets — a pure column expression (no join, no shuffle): the
    serving-time twin of `doc_id % n_shards` for topical layouts."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    e = F.lit(0)
    for b in bounds[1:]:
        e = e + F.when(c >= F.lit(b), 1).otherwise(0)
    return e.cast("int")


def routing_recall(routed: DataFrame, full: DataFrame,
                   k: int = 10) -> DataFrame:
    """(qid, n_routed, n_overlap, recall_at_k) — overlap@k of the
    routed ranking against the full (all-shards) ranking: the measured
    fan-out-vs-quality dial of selective search, the sharded twin of
    pruned_recall / ann_recall."""
    r = routed.where(F.col("rank") <= k).select("qid", "doc_id")
    f = full.where(F.col("rank") <= k).select("qid", "doc_id")
    ov = (r.join(f, ["qid", "doc_id"], "inner")
          .groupBy("qid").agg(F.count("*").cast("long").alias("n_overlap")))
    nr = r.groupBy("qid").agg(F.count("*").cast("long").alias("n_routed"))
    nf = f.groupBy("qid").agg(F.count("*").cast("long").alias("n_full"))
    return (nf.join(nr, "qid", "left").join(ov, "qid", "left")
            .select("qid",
                    F.coalesce("n_routed", F.lit(0)).cast("long")
                    .alias("n_routed"),
                    F.coalesce("n_overlap", F.lit(0)).cast("long")
                    .alias("n_overlap"),
                    F.round(F.coalesce("n_overlap", F.lit(0))
                            / F.col("n_full"), 6).alias("recall_at_k")))
