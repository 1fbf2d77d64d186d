"""Inverted-index build pipeline (SURVEY.md §2.3 A1–A8, §2.6 O1–O3).

Reference dataflow (src/invertedIndex.py buildIndex :577-627):
per-doc Counter → append packed postings to a giant in-memory dict →
sorted write with df. The rebuild is shuffle-native:

    transcripts ── term_counts (Arrow, no shuffle) ──┐
        │                                            ├─⇉ groupBy(term, range_salt)
        └─⇉ groupBy(doc_id) → doc_stats              │     sorted partial runs
                                                     └─⇉ groupBy(term) merge runs
                                                           (concat, NOT re-sort)
                                                           → df/cf + postings

Skew design (north rule): hot stopword-like terms with df ≈ N would
put one term's whole posting list through a single reducer. The salt
is a RANGE over doc_id (salt = floor(doc_id·S/N)) so each partial run
covers a disjoint, ordered doc_id interval; phase 2 concatenates runs
in salt order — already globally sorted, no re-sort (SURVEY §7 hard
part #3). The blocked builder never materializes a full hot-term
posting array at all: one output row per (term, block), which is the
only layout that survives 10^12 docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..conf import POSTING_BLOCK, salt_buckets_for
from ..functions.tokenize import term_counts


def doc_stats(tc: DataFrame) -> DataFrame:
    """Per-doc stats in ONE pass (reference does 4 separate dicts,
    src/invertedIndex.py:602-611,675-701):

    - dl      = Σ tf          (token count — BM25 length; new, §1.3.5)
    - len_l2  = √(Σ tf²)      (reference 'docLength', :675-684)
    - uniq    = #distinct terms (:686-690)
    - max_tf  = max tf         (:692-695)
    - ave_tf  = Σtf / uniq     (:697-701)
    """
    return tc.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("dl"),
        F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("len_l2"),
        F.count("*").cast("long").alias("uniq"),
        F.max("tf").cast("int").alias("max_tf"),
        (F.sum("tf") / F.count("*")).alias("ave_tf"),
    )


def term_stats(tc: DataFrame) -> DataFrame:
    """term → (df, cf). df = #docs containing term (reference
    len(postings), src/invertedIndex.py:718); cf = Σ tf (new — required
    by the north rule's per-stage metrics, absent in the reference)."""
    return tc.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )


def corpus_stats(transcripts_with_ids: DataFrame, ds: DataFrame) -> dict:
    """N (collection size — reference hardcodes 81735,
    src/invertedIndex.py:787) and avgdl for BM25. N counts all turns
    (incl. token-less ones, matching the reference's manifest count);
    avgdl averages over scored docs."""
    n_docs = transcripts_with_ids.count()
    row = ds.agg(F.avg("dl").alias("avgdl"), F.count("*").alias("n_scored")).collect()[0]
    return {"N": n_docs, "avgdl": float(row.avgdl or 0.0), "n_scored": int(row.n_scored)}


def postings_simple(tc: DataFrame) -> DataFrame:
    """Unsalted posting assembly (A6/A7) — baseline used to property-
    test the salted/blocked paths. postings sorted by doc_id asc (O2,
    explicit — required for delta-gap + DAAT)."""
    return tc.groupBy("term").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("postings"),
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )


def postings_salted(tc: DataFrame, n_docs: int,
                    salt_buckets: int | None = None) -> DataFrame:
    """Two-phase salted posting assembly (north rule skew handling).

    Phase 1: groupBy(term, range_salt) → sorted partial run. The salt
    is ordered and disjoint in doc_id, so phase 2 is
    flatten(sort runs by salt) — pure concatenation of sorted runs,
    never a re-sort of the full list.

    ``salt_buckets=None`` derives the fan-out from the frozen
    per-run doc span (conf.SALT_DOC_SPAN), so run size stays constant
    as the corpus grows; an explicit count is a test/layout override.
    """
    salt_buckets = salt_buckets_for(n_docs, salt_buckets)
    span = max(1, (n_docs + salt_buckets - 1) // salt_buckets)
    runs = (
        tc.withColumn("_salt", (F.col("doc_id") / F.lit(span)).cast("int"))
        .groupBy("term", "_salt")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("run"),
            F.count("*").cast("long").alias("run_df"),
            F.sum("tf").cast("long").alias("run_cf"),
        )
    )
    return (
        runs.groupBy("term")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_salt", "run"))),
                    lambda s: s["run"],
                )
            ).alias("postings"),
            F.sum("run_df").alias("df"),
            F.sum("run_cf").alias("cf"),
        )
    )


def postings_blocked(tc: DataFrame, n_docs: int,
                     salt_buckets: int | None = None,
                     block: int = POSTING_BLOCK,
                     ds: DataFrame | None = None) -> DataFrame:
    """Scale-path index layout: one row per (term, block_no) with ≤
    ``block`` postings + block-max skip metadata (R8 prerequisite —
    the reference only *hints* at this, src/invertedIndex.py:308-311).

    ``salt_buckets=None`` (the production default) derives the fan-out
    from the frozen per-run doc span (conf.SALT_DOC_SPAN): per-(term,
    salt) run size is then CONSTANT in corpus size — 10^12 docs means
    ~10^8 bounded runs for a stopword, never one run of 10^11 postings.
    An explicit count is a small-corpus test/layout override.

    No operator ever holds a full hot-term posting list: phase 1 runs
    are bounded by the salt span; blocks are cut inside each run; block
    numbering is pure ARITHMETIC off the frozen span (a run holds ≤
    span postings ⇒ ≤ ceil(span/block) blocks, so
    block_no = salt · blocks_per_run + blk is globally unique and
    strictly increasing in doc order) — no per-term window anywhere, at
    any fan-out. Output columns:

        term, block_no, df, cf, postings array<struct<doc_id,tf>>,
        first_doc_id, last_doc_id, block_max_tf, salt

    df/cf are per-term totals repeated on each block row (they ride
    along to avoid a second dictionary join at query time).

    If ``ds`` (doc_stats) is given, each posting carries the document
    length inline — struct<doc_id,tf,dl> — and block metadata adds
    ``block_min_dl``. Denormalizing dl into the posting (Lucene calls
    this the norms channel) removes the scored-hits ⨝ doc_stats join
    from the BM25 query path entirely and gives block-max WAND an exact
    per-block score upper bound: score(block_max_tf, block_min_dl).
    Cost: one extra stored int per posting — the standard trade.
    """
    salt_buckets = salt_buckets_for(n_docs, salt_buckets)
    span = max(1, (n_docs + salt_buckets - 1) // salt_buckets)
    if ds is not None:
        tc = tc.join(ds.select("doc_id", "dl"), "doc_id")
        posting = F.struct("doc_id", "tf", "dl")
    else:
        posting = F.struct("doc_id", "tf")
    # Block assignment happens at the POSTING level: the window sorts
    # each (term, salt) shuffle partition's postings by doc_id (Spark's
    # sort-based shuffle machinery — spills, never a giant in-memory
    # array) and row_number keys each posting to its ≤`block`-sized
    # chunk. Hot terms (the stopword skew case) thus never materialize
    # a full run array anywhere; the only collect_list below is over
    # ≤`block` rows.
    salted = tc.withColumn("_salt", (F.col("doc_id") / F.lit(span)).cast("int"))
    w_run = Window.partitionBy("term", "_salt").orderBy("doc_id")
    chunks = (
        salted
        .withColumn("_blk", ((F.row_number().over(w_run) - 1) / block).cast("int"))
        .groupBy("term", "_salt", "_blk")
        .agg(
            F.sort_array(F.collect_list(posting)).alias("postings"),
            F.count("*").cast("long").alias("n"),
            F.sum("tf").cast("long").alias("sum_tf"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
            F.max("tf").cast("int").alias("block_max_tf"),
            *([F.min("dl").alias("block_min_dl")] if ds is not None else []),
        )
    )
    # Per-term df/cf come from a RUN DIRECTORY — one NARROW row per
    # (term, salt) — never from a window over the block rows (postings
    # included) themselves. The directory is reduced to per-term totals
    # by a plain two-level aggregation (map-side partials make the
    # term-level reduce safe for stopword-hot terms), and the totals are
    # re-attached to the directory on bare `term` — a join AQE's skew
    # handling can split, over rows of ~30 bytes — then to the heavy
    # block rows on (term, _salt), which keeps a hot term spread across
    # its salt span. Global block numbering is the arithmetic
    # salt · blocks_per_run + blk (see docstring): sparse but unique and
    # doc-ordered, so no cumulative window exists in the plan at all.
    blocks_per_run = (span + block - 1) // block
    dir_ = chunks.groupBy("term", "_salt").agg(
        F.sum("n").alias("_run_df"),
        F.sum("sum_tf").alias("_run_cf"))
    totals = dir_.groupBy("term").agg(
        F.sum("_run_df").cast("long").alias("df"),
        F.sum("_run_cf").cast("long").alias("cf"))
    dir_ = dir_.join(totals, "term").select("term", "_salt", "df", "cf")
    out = (
        chunks.join(dir_, ["term", "_salt"])
        .withColumn("block_no",
                    (F.col("_salt").cast("long") * blocks_per_run
                     + F.col("_blk")).cast("long"))
        .select("term", "block_no", "df", "cf", "postings",
                "first_doc_id", "last_doc_id", "block_max_tf",
                *(["block_min_dl"] if ds is not None else []),
                # the build's own doc-range id rides on every block row so
                # query-time operators (wand_topk) group by the EXACT salt
                # span the index was built with instead of re-deriving it
                # from caller-supplied parameters (silent-mismatch hazard)
                F.col("_salt").cast("int").alias("salt"))
    )
    return out


def explode_blocked(index: DataFrame) -> DataFrame:
    """Blocked index rows → the flat (doc_id, term, tf[, dl]) relation
    they were built from (the inverse of postings_blocked's assembly;
    df/cf/block metadata are derived columns and drop out)."""
    has_dl = "dl" in index.schema["postings"].dataType.elementType.fieldNames()
    return (index.select("term", F.explode("postings").alias("p"))
            .select(F.col("p.doc_id").alias("doc_id"), "term",
                    F.col("p.tf").alias("tf"),
                    *([F.col("p.dl").alias("dl")] if has_dl else [])))


def merge_blocked_indexes(a: DataFrame, b: DataFrame, n_docs: int,
                          salt_buckets: int | None = None,
                          block: int = POSTING_BLOCK,
                          validate: bool = False) -> DataFrame:
    """Batch compaction: two blocked indexes over DISJOINT doc-id sets
    (e.g. two ingest runs) → one blocked index, identical to a single
    build over the union corpus (pytest identity gate).

    ``validate=True`` makes a contract violation LOUD: overlapping
    doc-id sets would otherwise silently yield duplicate (term, doc)
    postings and inflated df/cf. The check is one distinct-intersect
    over the two narrow doc-id projections — cheap next to the merge
    shuffle itself; leave it off only when disjointness is guaranteed
    upstream (e.g. ingest runs partitioned by arrival).

    No retokenization: both sides explode back to flat postings —
    a map-side projection — and the union re-runs the salted blocked
    assembly. df/cf/block metadata are recomputed exactly (they are
    pure functions of the union), and ``n_docs`` is the UNION corpus
    size so the salt-span geometry matches a from-scratch build. The
    reference's analogue is its run-file merge step; here phase-1 runs
    are re-cut because block boundaries must follow the merged doc
    order — still one shuffle, the same cost class as its external
    merge."""
    ea, eb = explode_blocked(a), explode_blocked(b)
    if set(ea.columns) != set(eb.columns):
        raise ValueError(
            f"layout mismatch: {sorted(ea.columns)} vs {sorted(eb.columns)}"
            " (one index has inline dl, the other does not)")
    if validate:
        overlap = (ea.select("doc_id").distinct()
                   .intersect(eb.select("doc_id").distinct()))
        sample = overlap.limit(5).collect()
        if sample:
            raise ValueError(
                "merge_blocked_indexes requires disjoint doc-id sets; "
                f"overlapping ids include {sorted(r.doc_id for r in sample)}")
    flat = ea.unionByName(eb)
    if "dl" in flat.columns:
        ds_like = flat.select("doc_id", "dl").groupBy("doc_id").agg(
            F.first("dl").alias("dl"))
        return postings_blocked(flat.select("doc_id", "term", "tf"),
                                n_docs, salt_buckets=salt_buckets,
                                block=block, ds=ds_like)
    return postings_blocked(flat, n_docs, salt_buckets=salt_buckets,
                            block=block)


def build_all(transcripts_with_ids: DataFrame):
    """Full build: (term_counts, doc_stats, term_stats, blocked
    inline-dl index, n_docs).

    Returns DataFrames (lazy); the checkpointed driver in plans/ adds
    persistence + metrics around each stage boundary.
    """
    tc = term_counts(transcripts_with_ids)
    ds = doc_stats(tc)
    n_docs = transcripts_with_ids.count()
    idx = postings_blocked(tc, n_docs, ds=ds)
    return tc, ds, term_stats(tc), idx, n_docs
