"""Term-dictionary layout: blocked front coding + corpus-derived
stopwords.

The posting streams are compressed (varbyte, Elias-Fano), the impacts
quantized, the doc-ids reassigned — the term DICTIONARY is the last
plain structure. Blocked front coding (Witten, Moffat & Bell,
"Managing Gigabytes" §4.1) stores each block's first term whole and
every other term as (shared-prefix length, suffix): natural-language
dictionaries sort into long shared prefixes, so the dictionary
shrinks ~30-50% while staying block-decodable (the block head is the
binary-search key; only the probed block is reconstructed).

Reference analogue: the reference holds its dictionary as a plain
python dict in memory (/root/reference/src/invertedIndex.py df/idf
tables); this is the persisted, compressed form of the same relation.

Lexicographic ranking never uses a global single-partition window:
terms are range-partitioned and sorted within partitions (the
reassign/mint machinery's shape), so per-task work is constant in
vocabulary size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..session import local_frame

FC_BLOCK = 8


@pandas_udf(T.IntegerType())
def _lcp_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Character length of the common prefix of a and b (0 where
    either is null) — Arrow-batched; runs once per dictionary term at
    BUILD time only."""
    out = []
    for x, y in zip(a, b):
        if x is None or y is None:
            out.append(0)
            continue
        n = min(len(x), len(y))
        i = 0
        while i < n and x[i] == y[i]:
            i += 1
        out.append(i)
    return pd.Series(out, dtype="int32")


def _rank_terms(ts: DataFrame) -> DataFrame:
    """Attach the dense 0-based lexicographic rank to each (term, df,
    cf) row — the mint_doc_ids one-shuffle shape (repartitionByRange +
    sortWithinPartitions + collected per-partition offsets) applied
    DIRECTLY to the term rows. No synthetic row id ever joins back to
    a relation derived from itself: the rank is computed on the same
    rows it labels, keyed by the term itself, so a stage retry that
    recomputes the ranked relation re-derives every (term, rank) pair
    together and cannot cross-associate a term with another term's
    rank (the monotonically_increasing_id self-join hazard this
    replaces)."""
    from ..operators.docids import docid_buckets_for

    spark = ts.sparkSession
    n_terms = ts.count()
    n_buckets = docid_buckets_for(max(1, n_terms))
    ranged = (ts
              .repartitionByRange(max(1, n_buckets), "term")
              .sortWithinPartitions("term")
              .withColumn("_pid", F.spark_partition_id())
              .withColumn("_mid", F.monotonically_increasing_id()))
    counts = (ranged.groupBy("_pid")
              .agg(F.count("*").alias("_cnt"), F.min("_mid").alias("_base"))
              .collect())
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r._pid):
        offsets.append((r._pid, acc, r._base))
        acc += r._cnt
    off_df = local_frame(spark, offsets, "_pid int, _off long, _base long")
    return (ranged.join(F.broadcast(off_df), "_pid")
            .select((F.col("_off") + F.col("_mid") - F.col("_base"))
                    .cast("long").alias("rank"),
                    "term", "df", "cf"))


def front_code_terms(ts: DataFrame, block: int = FC_BLOCK) -> DataFrame:
    """(rank, block, lcp, suffix, df, cf) — blocked front-coded
    dictionary. rank is the dense lexicographic term rank (0-based);
    block = rank div block; the first term of each block is stored
    whole (lcp 0, suffix = term), every other term as the
    shared-prefix length against its PREDECESSOR plus the remaining
    suffix."""
    ranked = (_rank_terms(ts.select("term", "df", "cf"))
              .withColumn("block", F.expr(f"rank div {int(block)}")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("block").orderBy("rank")
    d = ranked.withColumn("_prev", F.lag("term").over(w))
    lcp = F.when(F.col("_prev").isNull(), F.lit(0)) \
        .otherwise(_lcp_udf(F.col("_prev"), F.col("term")))
    return (d.withColumn("lcp", lcp.cast("int"))
            .select("rank", "block", "lcp",
                    F.expr("substring(term, lcp + 1)").alias("suffix"),
                    "df", "cf"))


def decode_front_coded(fc: DataFrame) -> DataFrame:
    """(term, df, cf) — exact inverse of front_code_terms. Per-block
    reconstruction (collect_list bounded by the block size), the probe
    path a dictionary lookup runs on ONE block after binary search."""
    rows = F.array_sort(F.collect_list(F.struct("rank", "lcp", "suffix",
                                                "df", "cf")))
    blocks = fc.groupBy("block").agg(rows.alias("_r"))

    out_t = T.ArrayType(T.StructType([
        T.StructField("term", T.StringType()),
        T.StructField("df", T.LongType()),
        T.StructField("cf", T.LongType())]))

    @pandas_udf(out_t)
    def _dec(col: pd.Series) -> pd.Series:
        res = []
        for block_rows in col:
            terms, prev = [], ""
            for r in block_rows:
                term = prev[:r["lcp"]] + r["suffix"]
                terms.append({"term": term, "df": r["df"], "cf": r["cf"]})
                prev = term
            res.append(terms)
        return pd.Series(res)

    return (blocks.select(F.explode(_dec("_r")).alias("e"))
            .select(F.col("e.term").alias("term"),
                    F.col("e.df").alias("df"), F.col("e.cf").alias("cf")))


def derive_stopwords(ts: DataFrame, n_docs: int,
                     df_frac: float = 0.5, top_cf: int = 0) -> DataFrame:
    """(term, df, cf, reason) — corpus-derived stopword candidates:
    terms in more than df_frac of all documents, plus optionally the
    top_cf most frequent terms by collection frequency. The reference
    ships a FIXED stopwords file (/root/reference/src/stopwords.txt);
    at 10^12 turns the list must come from the corpus itself — this is
    the one-aggregate derivation, and its output feeds the same
    tokenize(filter_stopwords=...) path."""
    by_df = (ts.where(F.col("df") > float(df_frac) * n_docs)
             .select("term", "df", "cf", F.lit("df_frac").alias("reason")))
    if top_cf <= 0:
        return by_df
    by_cf = (ts.orderBy(F.desc("cf"), F.asc("term")).limit(top_cf)
             .select("term", "df", "cf", F.lit("top_cf").alias("reason")))
    return (by_df.unionByName(by_cf)
            .groupBy("term", "df", "cf")
            .agg(F.min("reason").alias("reason")))
