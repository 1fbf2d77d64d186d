"""Text analysis for the training-data pipeline tier: language ID,
quality scoring, token counting, document fingerprinting.

All pure JVM column expressions (no UDFs) built on the frozen tokenizer
contract; every metric is reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conf import load_stopwords
from ..functions.tokenize import tokens_col
from ..session import local_frame

# Tiny frozen English function-word list for the lang-ID heuristic.
EN_STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "that", "for")


def text_quality(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-doc quality metrics:
    n_chars, n_tokens, n_uniq, avg_tok_len, stopword_ratio (reference
    37-word list), digit_ratio, and a composite quality score in [0,1]
    (length-normalized, penalizing digit noise and low lexical
    diversity). All ratios rounded to 6dp for oracle parity."""
    toks = tokens_col(text_col)
    stop = sorted(load_stopwords())
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*stop)))
    tok_chars = F.aggregate(F.transform(toks, lambda t: F.length(t)),
                            F.lit(0), lambda a, v: a + v)
    n_chars = F.coalesce(F.length(text_col), F.lit(0))
    n_digits = n_chars - F.coalesce(
        F.length(F.regexp_replace(text_col, "[0-9]", "")), F.lit(0))
    uniq = F.size(F.array_distinct(toks))
    has = n_tok > 0
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        n_tok.cast("long").alias("n_tokens"),
        uniq.cast("long").alias("n_uniq"),
        F.round(F.when(has, tok_chars.cast("double") / n_tok).otherwise(0.0), 6).alias("avg_tok_len"),
        F.round(F.when(has, n_stop.cast("double") / n_tok).otherwise(0.0), 6).alias("stopword_ratio"),
        F.round(F.when(n_chars > 0, n_digits.cast("double") / n_chars).otherwise(0.0), 6).alias("digit_ratio"),
        F.round(
            F.when(has,
                   F.least(F.lit(1.0), n_tok.cast("double") / 64.0)
                   * (1.0 - F.when(n_chars > 0, n_digits.cast("double") / n_chars).otherwise(0.0))
                   * (uniq.cast("double") / n_tok)
                   ).otherwise(0.0), 6).alias("quality"),
    )


def lang_id(docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Heuristic n-gram/function-word language ID: 'cs' if the Czech
    stopword hit-ratio dominates, 'en' if the English one does, else
    'unk'. (The real corpus is synthetic English; the Czech list is
    the reference's 37-word fixture — the point is the operator shape:
    a broadcast-free pure-column classifier.)"""
    toks = tokens_col(text_col)
    cs = sorted(load_stopwords())
    n_tok = F.size(toks)
    cs_r = F.when(n_tok > 0,
                  F.size(F.filter(toks, lambda t: t.isin(*cs))).cast("double") / n_tok
                  ).otherwise(0.0)
    en_r = F.when(n_tok > 0,
                  F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))).cast("double") / n_tok
                  ).otherwise(0.0)
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.round(cs_r, 6).alias("cs_ratio"),
        F.round(en_r, 6).alias("en_ratio"),
        F.when((cs_r > en_r) & (cs_r > 0.10), "cs")
         .when(en_r > 0.0, "en").otherwise("unk").alias("lang_pred"),
    )


def token_counts_report(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Token counting three ways per doc: whitespace split, the frozen
    regex tokenizer, and a BPE-ish subword proxy (regex splitting on
    character-class transitions — letters / digits / other), plus
    distinct-token count."""
    toks = tokens_col(text_col)
    ws = F.filter(F.split(F.coalesce(F.col(text_col), F.lit("")), r"\s+"),
                  lambda t: F.length(t) > 0)
    bpe = F.coalesce(
        F.regexp_extract_all(F.lower(text_col),
                             F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]+"), 0),
        F.array().cast("array<string>"))
    return docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.size(ws).cast("long").alias("ws_tokens"),
        F.size(toks).cast("long").alias("re_tokens"),
        F.size(bpe).cast("long").alias("subword_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("uniq_tokens"),
    )


def fingerprints(docs: DataFrame, k: int = 4, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Winnowing-style document fingerprint: min and max md5 over token
    k-gram shingles (rolling-hash analogue, md5 for engine
    portability). Identical fp_min ⇒ near-certain shared k-gram;
    (fp_min, fp_max) pairs are cheap join keys for corpus-level
    containment checks."""
    from ..functions.tokenize import tokens_col
    from .dedup import _shingles_from
    base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       tokens_col(text_col).alias("_toks"))
    sh = _shingles_from(F.col("_toks"), k)
    hashed = F.transform(sh, lambda s: F.md5(s))
    return base.select(
        "doc_id",
        F.array_min(hashed).alias("fp_min"),
        F.array_max(hashed).alias("fp_max"),
        F.size(sh).cast("long").alias("n_shingles"),
    )


def gopher_filter(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1),
    thresholds from conf.py scaled to turn-sized documents: token-count
    bounds, mean-word-length bounds, distinct-stopword presence,
    digit-noise cap, and a lexical-diversity floor. Emits per-doc rule
    verdicts plus the conjunctive `keep` — the observable curation
    decision, not just the raw signals (text_quality carries those).

    The stopword-presence rule uses the ENGLISH function-word list
    (EN_STOPWORDS — the same one lang_id scores with): the paper's
    rule is "contains ≥2 of a small set of common English words", and
    the reference's 37-word fixture list is Czech, which would
    degenerate to drop-everything on an English corpus.

    Scale shape: pure JVM column expressions over one scan — no
    shuffle, no UDF; every ratio is rounded to 6dp BEFORE comparison
    so the Spark and oracle engines make the identical call.
    """
    from ..conf import (GOPHER_AWL_MAX, GOPHER_AWL_MIN,
                        GOPHER_MAX_DIGIT_RATIO, GOPHER_MAX_TOK,
                        GOPHER_MIN_STOP_HITS, GOPHER_MIN_TOK,
                        GOPHER_MIN_UNIQ_RATIO)
    toks = tokens_col(text_col)
    stop = sorted(EN_STOPWORDS)
    base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       F.col(text_col).alias("_text"),
                       toks.alias("_toks"))
    n_tok = F.size(F.col("_toks"))
    tok_chars = F.aggregate(
        F.transform(F.col("_toks"), lambda t: F.length(t)),
        F.lit(0), lambda a, v: a + v)
    n_chars = F.coalesce(F.length("_text"), F.lit(0))
    n_digits = n_chars - F.coalesce(
        F.length(F.regexp_replace("_text", "[0-9]", "")), F.lit(0))
    n_uniq = F.size(F.array_distinct(F.col("_toks")))
    stop_hits = F.size(F.array_distinct(
        F.filter(F.col("_toks"), lambda t: t.isin(*stop))))
    has = n_tok > 0
    awl = F.round(F.when(has, tok_chars.cast("double") / n_tok)
                   .otherwise(0.0), 6)
    digit_r = F.round(F.when(n_chars > 0,
                             n_digits.cast("double") / n_chars)
                       .otherwise(0.0), 6)
    uniq_r = F.round(F.when(has, n_uniq.cast("double") / n_tok)
                      .otherwise(0.0), 6)
    staged = base.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        awl.alias("avg_word_len"),
        digit_r.alias("digit_ratio"),
        uniq_r.alias("uniq_ratio"),
        stop_hits.cast("long").alias("stop_hits"))
    ok_len = ((F.col("n_tokens") >= GOPHER_MIN_TOK)
              & (F.col("n_tokens") <= GOPHER_MAX_TOK))
    ok_awl = ((F.col("avg_word_len") >= GOPHER_AWL_MIN)
              & (F.col("avg_word_len") <= GOPHER_AWL_MAX))
    ok_stop = F.col("stop_hits") >= GOPHER_MIN_STOP_HITS
    ok_digit = F.col("digit_ratio") <= GOPHER_MAX_DIGIT_RATIO
    ok_uniq = F.col("uniq_ratio") >= GOPHER_MIN_UNIQ_RATIO
    return staged.select(
        "doc_id", "n_tokens", "avg_word_len", "digit_ratio",
        "uniq_ratio", "stop_hits",
        ok_len.alias("ok_len"), ok_awl.alias("ok_awl"),
        ok_stop.alias("ok_stop"), ok_digit.alias("ok_digit"),
        ok_uniq.alias("ok_uniq"),
        (ok_len & ok_awl & ok_stop & ok_digit & ok_uniq).alias("keep"))


def filter_funnel(flags: DataFrame) -> DataFrame:
    """Curation-funnel observability over gopher_filter output: one
    global row with the corpus size, per-rule failure counts, the
    surviving-doc count, and the keep rate. One map-side-combined
    global aggregation — the number the pipeline operator actually
    watches at 100 TB (which rule is eating the corpus?)."""
    def fails(c):
        return F.sum(F.when(~F.col(c), 1).otherwise(0)).cast("long")
    return flags.agg(
        F.count("*").cast("long").alias("n_docs"),
        fails("ok_len").alias("fail_len"),
        fails("ok_awl").alias("fail_awl"),
        fails("ok_stop").alias("fail_stop"),
        fails("ok_digit").alias("fail_digit"),
        fails("ok_uniq").alias("fail_uniq"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long")
         .alias("n_keep"),
        F.round(F.sum(F.when(F.col("keep"), 1).otherwise(0))
                 .cast("double") / F.count("*"), 6).alias("keep_rate"))


def _max_run(sorted_arr):
    """Longest run of equal adjacent elements in an already-sorted
    array — i.e. the max multiplicity of any element — as a single
    O(n) aggregate fold. Zero-shuffle alternative to explode+groupBy:
    the repetition profile of a doc never leaves its scan partition."""
    init = F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                    F.lit(0).alias("best"))

    def merge(acc, v):
        run = F.when(v == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(v.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(sorted_arr, init, merge, lambda acc: acc["best"])


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style per-doc repetition signals (Rae et al. 2021 §A1.1):
    top_unigram_frac (fraction of tokens that are the single most
    frequent token), top_bigram_frac (same for bigrams), and
    dup_trigram_frac (fraction of trigram occurrences that are
    duplicates). Heavily templated / looping text — the classic
    model-collapse failure mode in training corpora — spikes all three.

    Scale shape: pure JVM column expressions, no explode, no shuffle —
    max-multiplicity is computed as the longest equal-run of the
    SORTED token/bigram array (`_max_run`), so a 10^12-turn corpus
    pays one codegen'd scan and nothing else. The DuckDB oracle uses
    the equivalent unnest+groupBy formulation."""
    toks = tokens_col(text_col)
    base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       toks.alias("_toks"))
    t = F.col("_toks")
    from .dedup import _shingles_from
    tg = _shingles_from(t, 3)
    # stage the expensive folds once — CollapseProject keeps the two
    # projections separate because these aliases are non-cheap and
    # referenced more than once downstream (otherwise each sort+fold
    # would be re-inlined and computed twice per row)
    staged = base.select(
        "doc_id",
        F.size(t).alias("_n"),
        _max_run(F.array_sort(t)).alias("_top1"),
        _max_run(F.array_sort(_shingles_from(t, 2))).alias("_top2"),
        F.size(tg).alias("_n_tg"),
        F.size(F.array_distinct(tg)).alias("_n_tg_d"),
    )
    n = F.col("_n")
    top1 = F.col("_top1")
    top2 = F.col("_top2")
    return staged.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        F.when(n > 0, top1).otherwise(0).cast("long").alias("top_unigram"),
        F.when(n >= 2, top2).otherwise(0).cast("long").alias("top_bigram"),
        F.round(F.when(n > 0, top1.cast("double") / n).otherwise(0.0), 6)
         .alias("top_unigram_frac"),
        F.round(F.when(n >= 2, top2.cast("double") / (n - 1)).otherwise(0.0), 6)
         .alias("top_bigram_frac"),
        F.round(F.when(n >= 3,
                       1.0 - F.col("_n_tg_d").cast("double") / F.col("_n_tg"))
                 .otherwise(0.0), 6)
         .alias("dup_trigram_frac"),
    )


def vocab_growth(tc: DataFrame, ds: DataFrame, n_docs: int,
                 fractions=(0.125, 0.25, 0.5, 1.0)) -> DataFrame:
    """Heaps-law vocabulary-growth curve: for each corpus prefix
    (doc_id < ceil(f·N) at the given fractions), the prefix's total
    token count and distinct-vocabulary size. V(n) ≈ K·n^β fit off
    these checkpoints is how dictionary/term-bucket sizing is planned
    before a 100 TB build — the curve is the evidence that the term
    dictionary grows sublinearly and the broadcast dict lookup stays
    broadcast-sized.

    Shape: one groupBy(term) for first occurrence (map-side min), one
    broadcast theta-join of the two tiny checkpoint tables — the
    corpus relation is the already-reduced (doc, term, tf) tc, scanned
    twice, never re-tokenized. Checkpoints are per-mille ints so both
    engines materialize identical cut-offs."""
    import math
    spark = tc.sparkSession
    cks = [(int(round(f * 1000)), int(math.ceil(f * n_docs)))
           for f in fractions]
    ckdf = local_frame(spark, cks, "ck_pml int, n_docs_prefix long")
    first = tc.groupBy("term").agg(F.min("doc_id").alias("_fd"))
    vocab = (first.join(F.broadcast(ckdf),
                        F.col("_fd") < F.col("n_docs_prefix"))
             .groupBy("ck_pml", "n_docs_prefix")
             .agg(F.count("*").cast("long").alias("vocab")))
    ntok = (ds.select("doc_id", "dl")
            .join(F.broadcast(ckdf), F.col("doc_id") < F.col("n_docs_prefix"))
            .groupBy("ck_pml")
            .agg(F.sum("dl").cast("long").alias("n_tokens")))
    return (vocab.join(ntok, "ck_pml")
            .select("ck_pml", "n_docs_prefix", "n_tokens", "vocab"))


def doc_perplexity(tc: DataFrame, tstats: DataFrame,
                   collection_len: int) -> DataFrame:
    """(doc_id, dl, avg_nll, ppl) — unigram cross-entropy quality
    score: avg_nll = −(1/dl)·Σ_t tf·ln(cf_t/|C|), ppl = e^avg_nll.

    The CCNet-style perplexity filter computed against the corpus's
    OWN unigram distribution (an honest proxy — a trained KenLM drops
    in by swapping the cf/|C| probability column): documents made of
    globally-rare tokens score high (gibberish, OCR noise), heavily
    templated text scores low; both tails are the filter targets.

    Shape: tc ⨝ term dictionary on term (the dictionary rides the
    same shuffle the index build already does — no broadcast needed
    for a 10^9-term vocab, Spark picks the strategy by size), one
    (doc_id) aggregation, map-side partial. No text re-scan: runs
    entirely off the (doc_id, term, tf) relation."""
    j = tc.join(tstats.select("term", "cf"), "term", "inner")
    nll = -(F.col("tf").cast("double")
            * F.log(F.col("cf").cast("double")
                    / F.lit(float(collection_len))))
    per_doc = (j.select("doc_id", F.col("tf").cast("long").alias("tf"),
                        nll.alias("_nll"))
               .groupBy("doc_id")
               .agg(F.sum("tf").alias("dl"), F.sum("_nll").alias("_s")))
    avg = F.col("_s") / F.col("dl").cast("double")
    return per_doc.select("doc_id", "dl",
                          F.round(avg, 6).alias("avg_nll"),
                          F.round(F.exp(avg), 6).alias("ppl"))


def bigram_perplexity(docs: DataFrame, tstats: DataFrame,
                      collection_len: int, lam: float = 0.75,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """(doc_id, n_bigrams, avg_nll, ppl) — interpolated bigram LM
    cross-entropy per doc, the order-2 upgrade of doc_perplexity:
    p(w|prev) = λ·c₂(prev,w)/c₁(prev) + (1−λ)·c₁(w)/|C|, trained on
    the corpus's own counts (a KenLM-style external model drops in by
    swapping the two count relations). Unigram perplexity can't see
    word-ORDER damage (shuffled text scores identically); this can.

    Scale shape: bigram occurrences come from one zip-pair projection
    (no posexplode self-join), pre-aggregated per (doc, prev, w)
    BEFORE any join so each distinct doc-bigram pays one row; the
    corpus bigram table derives from that same relation (one extra
    agg, no second scan). Joins are plain hash joins on term keys —
    at a 10^9-term vocabulary nothing here needs a broadcast.
    Interpolation is spelled λ·(c₂/c₁) + (1−λ)·(cf/|C|) with explicit
    parentheses; the oracle spells the identical tree so both engines
    produce bit-equal doubles before the 6dp round.
    """
    toks = tokens_col(text_col)
    t = F.col("_toks")
    n = F.size(t)
    m = F.greatest(n - 1, F.lit(0))
    pairs = F.zip_with(F.slice(t, 1, m), F.slice(t, 2, m),
                       lambda a, b: F.struct(a.alias("prev"),
                                             b.alias("w")))
    occ = (docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       toks.alias("_toks"))
           .select("doc_id", F.explode(pairs).alias("p"))
           .select("doc_id", "p.prev", "p.w"))
    dp = (occ.groupBy("doc_id", "prev", "w")
          .agg(F.count("*").cast("long").alias("n_occ")))
    c2 = dp.groupBy("prev", "w").agg(F.sum("n_occ").alias("_c2"))
    c1 = tstats.select("term", F.col("cf").alias("_cf"))
    j = (dp.join(c2, ["prev", "w"])
         .join(c1.withColumnRenamed("term", "prev")
                 .withColumnRenamed("_cf", "_c1_prev"), "prev")
         .join(c1.withColumnRenamed("term", "w")
                 .withColumnRenamed("_cf", "_cf_w"), "w"))
    p = (F.lit(lam) * (F.col("_c2").cast("double")
                       / F.col("_c1_prev").cast("double"))
         + F.lit(1.0 - lam) * (F.col("_cf_w").cast("double")
                               / F.lit(float(collection_len))))
    contrib = F.col("n_occ").cast("double") * -F.log(p)
    per_doc = (j.select("doc_id", "n_occ", contrib.alias("_nll"))
               .groupBy("doc_id")
               .agg(F.sum("n_occ").cast("long").alias("n_bigrams"),
                    F.sum("_nll").alias("_s")))
    avg = F.col("_s") / F.col("n_bigrams").cast("double")
    return per_doc.select("doc_id", "n_bigrams",
                          F.round(avg, 6).alias("avg_nll"),
                          F.round(F.exp(avg), 6).alias("ppl"))


def batch_drift(tc: DataFrame, batch_col, tstats: DataFrame,
                collection_len: int) -> DataFrame:
    """(batch, n_docs, n_tokens, kl, top_term, top_contrib) — unigram
    distribution drift per ingest batch: KL(batch ‖ corpus) over the
    batch's observed vocabulary, plus the single term contributing
    most to the divergence. The pipeline-observability dial that
    catches vocabulary drift (a source change, a scraper bug, language
    mix shift) BEFORE it trains into a model — per-batch, comparable
    over time.

    ``tc``: the (doc_id, term, tf) relation; ``batch_col``: a column
    expression assigning each doc to a batch (e.g. arrival bucket).

    KL term: p_b·ln(p_b/p_c) with p_b = tf_b/len_b, p_c = cf/|C|;
    observed-vocab KL is ≥ 0 up to truncation and both engines
    truncate identically (only terms present in the batch contribute).

    Scale shape: one (batch, term) aggregation with map-side combine,
    a hash join against the term dictionary (same key the index build
    shuffles on), one per-batch agg with a max_by for the top term —
    no window, no explode beyond what tc already is."""
    bt = (tc.withColumn("batch", batch_col)
          .groupBy("batch", "term")
          .agg(F.sum("tf").cast("long").alias("tf_b")))
    totals = (tc.withColumn("batch", batch_col)
              .groupBy("batch")
              .agg(F.count_distinct("doc_id").cast("long").alias("n_docs"),
                   F.sum("tf").cast("long").alias("n_tokens")))
    j = (bt.join(totals, "batch")
         .join(tstats.select("term", "cf"), "term"))
    p_b = F.col("tf_b").cast("double") / F.col("n_tokens").cast("double")
    p_c = F.col("cf").cast("double") / F.lit(float(collection_len))
    contrib = p_b * F.log(p_b / p_c)
    per_batch = (j.select("batch", "n_docs", "n_tokens", "term",
                          contrib.alias("_kl"))
                 .groupBy("batch", "n_docs", "n_tokens")
                 .agg(F.round(F.sum("_kl"), 6).alias("kl"),
                      F.max_by("term", F.struct(F.round(F.col("_kl"), 6),
                                                F.col("term"))).alias("top_term"),
                      F.round(F.max(F.round(F.col("_kl"), 6)), 6)
                       .alias("top_contrib")))
    return per_batch.select("batch", "n_docs", "n_tokens", "kl",
                            "top_term", "top_contrib")


def doc_keywords(tc: DataFrame, tstats: DataFrame, n_docs: int,
                 k: int = 3) -> DataFrame:
    """(doc_id, term, tf, score, rank) — top-k characteristic terms per
    document by tf·idf (idf = ln(N/df), round-6): the term-vector /
    per-doc-keyword surface (doc tagging, related-doc linking,
    more-like-this seeds).

    Scale shape: one broadcast dictionary join onto the (doc, term, tf)
    relation and ONE window partitioned by doc_id with rank ≤ k —
    WindowGroupLimit pushes the limit into the shuffle, so per-reducer
    state is a doc's unique terms, never the corpus."""
    from pyspark.sql.window import Window
    scored = (tc.join(tstats.select("term", "df"), "term", "inner")
              .select("doc_id", "term", "tf",
                      F.round(F.col("tf").cast("double")
                              * F.log(F.lit(float(n_docs))
                                      / F.col("df").cast("double")),
                              6).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(),
                                             F.col("term").asc())
    return (scored.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= int(k))
            .select("doc_id", "term", "tf", "score", "rank"))


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """(doc_id, fp) — winnowing document fingerprints (Schleimer,
    Wilkerson & Aiken, "Winnowing: local algorithms for document
    fingerprinting", SIGMOD 2003).

    Hash every k-token shingle in position order (md5 60-bit, the
    repo's engine-portable hash), slide a w-wide window over the hash
    sequence, keep each window's MINIMUM hash, dedup per doc. The
    guarantee: any two documents sharing a run of >= w + k - 1 tokens
    share at least one fingerprint, while only ~2/(w+1) of the shingle
    hashes are stored — the local-fingerprint contract that exact-hash
    dedup lacks and full shingle sets pay |doc| storage for.

    Scale shape: one per-doc window (partitioned by doc_id — never a
    global sort) over the posexploded shingle stream, then a distinct.
    Zero joins; output is the near-dup join key for a downstream
    bucket-groupBy exactly like lsh_candidates.
    """
    from .dedup import _shingles_from
    sh = (docs.select(F.col(id_col).cast("long").alias("doc_id"),
                      tokens_col(text_col).alias("_toks"))
          .select("doc_id",
                  F.posexplode(_shingles_from(F.col("_toks"), k))
                  .alias("pos", "shingle"),
                  (F.greatest(F.size("_toks") - (k - 1), F.lit(0)))
                  .alias("m")))
    h = (F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
         .cast("long").alias("h"))
    win = (Window.partitionBy("doc_id").orderBy("pos")
           .rowsBetween(Window.currentRow, w - 1))
    return (sh.select("doc_id", "pos", "m", h)
            .withColumn("fp", F.min("h").over(win))
            .where(F.col("pos") <= F.col("m") - w)  # 0-based window starts
            .select("doc_id", "fp").distinct())


def token_entropy(tc: DataFrame, ds: DataFrame) -> DataFrame:
    """(doc_id, entropy, norm_entropy) — per-doc Shannon entropy of the
    term distribution, the repetitiveness dial quality filters cut on
    (low entropy = template/spam text; see the Gopher/C4 filter line).

    H(d) = -SUM_t (tf/dl) ln(tf/dl) = ln(dl) - (1/dl) SUM_t tf ln tf
    norm = H / ln(uniq)  (0 when uniq = 1 — a one-term doc has no
    spread to normalize).

    The factored form needs ONE aggregate over tc (sum tf·ln tf) — a
    single map-side-combinable groupBy(doc_id), no per-term division.
    """
    s = (tc.groupBy("doc_id")
         .agg(F.sum(F.col("tf") * F.log(F.col("tf").cast("double")))
              .alias("_s")))
    j = s.join(ds.select("doc_id", "dl", "uniq"), "doc_id")
    ent = F.log(F.col("dl").cast("double")) - F.col("_s") / F.col("dl")
    return j.select(
        "doc_id",
        F.round(ent, 6).alias("entropy"),
        F.when(F.col("uniq") > 1,
               F.round(ent / F.log(F.col("uniq").cast("double")), 6))
        .otherwise(F.lit(0.0)).alias("norm_entropy"))


def zipf_slope(ts: DataFrame, top_n: int = 100) -> DataFrame:
    """One row: (n_terms, slope, intercept) — least-squares fit of
    ln(cf) against ln(rank) over the top_n most frequent terms (rank
    by cf desc, term asc). A healthy natural-language corpus fits
    slope ≈ -1 (Zipf); the fitted slope is the skew dial that sizes
    hot-term salting (conf.salt_buckets_for) and stopword budgets
    before a 100 TB build is launched.

    Both engines spell the same closed form (no regr_slope — its
    internal accumulation order is engine-specific):
      slope = (SUM xy - SUM x · SUM y / n) / (SUM x² - (SUM x)² / n)
    over O(top_n) rows, rounded 6dp.
    """
    # sort+limit compiles to TakeOrderedAndProject (per-partition top-N
    # merged on the driver — distributed at any vocab size); the rank
    # window then runs over only top_n rows, never the full dictionary
    top = (ts.select("term", "cf")
           .orderBy(F.desc("cf"), F.asc("term")).limit(top_n)
           .withColumn("r", F.row_number().over(
               Window.orderBy(F.desc("cf"), F.asc("term")))))
    xy = top.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("cf").cast("double")).alias("y"))
    agg = xy.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    slope = ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
             / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")))
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("sy") / F.col("n")
                - slope * F.col("sx") / F.col("n"), 6).alias("intercept"))
