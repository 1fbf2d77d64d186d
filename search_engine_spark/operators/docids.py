"""DocID minting (P5 of SURVEY.md §2.2).

Reference analogue: string docids compressed to ints by prefix
substitution (truncateDocid/expandDocid,
src/invertedIndex.py:141-161). The rebuild mints a dense int64
surrogate ``doc_id`` = rank over ORDER BY (conv_id, turn_idx), plus a
``doc_map`` table to expand back.

Scale design: a naive ``row_number() OVER (ORDER BY ...)`` is a
single-partition global sort — a non-starter at 10^12 turns. Instead:

1. range bucket per row: ``n_buckets - 1`` splitters are drawn ONCE
   from a sample of the key (≤ 100 rows per bucket, ≤ 10^6 in total,
   collected on the driver, as Spark's own range exchange does) and
   enter the plan as a literal; each row finds its bucket by an
   O(log B) binary search over them, so the per-row cost is
   independent of the bucket count;
2. ``repartition(n_buckets, bucket)`` + ``sortWithinPartitions(key)``
   — one hash shuffle and a per-task external sort; a partition holds
   whole buckets (a few at most, by hash placement), never a global
   sort;
3. ``monotonically_increasing_id()`` over the sorted partitions —
   local rank computed map-side in the same stage, zero extra
   shuffle (a bucket's rows are contiguous in its sorted partition, so
   its ids are consecutive from the bucket's min);
4. per-bucket row counts → cumulative offsets (≤ n_buckets rows on
   the driver) → broadcast-joined back; doc_id = offset + local rank.

``n_buckets`` derives from a FROZEN per-bucket doc span
(``DOCID_DOC_SPAN``), mirroring conf.salt_buckets_for: at 10^12 turns
the fan-out grows to ~2.5×10^5 buckets instead of one bucket growing
to ~1.6×10^10 rows — per-task sort work stays constant in corpus
size. Total: ONE shuffle + one broadcast join.

The counts (step 4) and the ranked rows are two actions that each run
steps 1–3, so those steps must place every row the same way each
time. Spark's ``repartitionByRange`` does not: its RangePartitioner
re-samples with a seed drawn from the RDD id on every action, rows
near a splitter change partition between the two actions, and ids
collide. Literal splitters and a hash shuffle on the bucket make
steps 1–3 a pure function of the input, so a task retried from
lineage also lands every row where it did before. The result does not
depend on where the splitters land; they only shape partition balance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

# Frozen per-bucket doc span for the range shuffle: each bucket's
# within-partition sort handles ~4M narrow rows (conv_id, turn_idx,
# text references) — comfortably in-memory per task, spill-safe
# beyond. 10^12 turns → ~2.5×10^5 buckets, each constant-sized.
DOCID_DOC_SPAN = 4_000_000

# Splitter sample: rows per bucket and total cap (the defaults of
# spark.sql.execution.rangeExchange.sampleSizePerPartition and of
# RangePartitioner's total).
_SAMPLE_PER_BUCKET = 100
_SAMPLE_CAP = 1_000_000


def docid_buckets_for(n_docs: int, n_buckets: int | None = None) -> int:
    """Resolve an explicit bucket-count override (tests pin small
    counts) or derive the fan-out from the frozen span."""
    if n_buckets is not None:
        return max(1, n_buckets)
    return max(1, -(-int(max(1, n_docs)) // DOCID_DOC_SPAN))


def mint_doc_ids(transcripts: DataFrame, n_buckets: int | None = None,
                 n_docs: int | None = None) -> DataFrame:
    """Return transcripts + dense int64 ``doc_id`` ordered by
    (conv_id, turn_idx), without a global single-partition sort and
    without any unbounded driver-side collect.

    ``n_docs`` skips the sizing count when the caller already knows
    the corpus size; ``n_buckets`` pins the range fan-out explicitly
    (layout determinism in tests) — by default it is span-derived so
    per-task work is constant in corpus size."""
    if n_buckets is None:
        if n_docs is None:
            # parquet-metadata-cheap sizing pass; callers on derived
            # inputs pass n_docs to skip it
            n_docs = transcripts.count()
        n_buckets = docid_buckets_for(n_docs)
    return rank_rows(transcripts, ["conv_id", "turn_idx"], n_buckets,
                     "doc_id", n_docs)


def rank_rows(df: DataFrame, key: list[str], n_buckets: int, id_col: str,
              n_docs: int | None = None) -> DataFrame:
    """``df`` plus ``id_col``: the dense 0-based rank of each row under
    ORDER BY ``key`` (column names), which must be a total order (steps
    1–4 of the module docstring). ``n_docs`` sizes the splitter sample;
    without it a count runs when ``n_buckets`` > 1."""
    n_buckets = max(1, n_buckets)
    ranged = (df.withColumn("_bkt", _range_bucket(df, key, n_buckets, n_docs))
              .repartition(n_buckets, "_bkt")
              .sortWithinPartitions(*key)
              .withColumn("_mid", F.monotonically_increasing_id()))
    # ≤ n_buckets narrow rows on the driver
    counts = (ranged.groupBy("_bkt")
              .agg(F.count("*").alias("_cnt"), F.min("_mid").alias("_base"))
              .collect())
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r._bkt):
        offsets.append((r._bkt, acc, r._base))
        acc += r._cnt
    off_df = local_frame(df.sparkSession, offsets,
                         "_bkt int, _off long, _base long")
    return (ranged.join(F.broadcast(off_df), "_bkt")
            .withColumn(id_col, (F.col("_off") + F.col("_mid") - F.col("_base"))
                        .cast("long"))
            .drop("_bkt", "_mid", "_off", "_base"))


def _range_bucket(df: DataFrame, key: list[str], n_buckets: int,
                  n_docs: int | None = None) -> Column:
    """The range bucket (0 … n_buckets-1) of each row's ``key`` as a
    deterministic int expression: splitters sampled once on the driver
    become a literal array, searched per row (step 1 of the module
    docstring). One bucket needs no splitters and runs no job."""
    if n_buckets <= 1:
        return F.lit(0)
    keys = df.select(*key)
    if n_docs is None:
        n_docs = keys.count()
    frac = min(1.0, min(_SAMPLE_PER_BUCKET * n_buckets, _SAMPLE_CAP)
               / max(1, n_docs))
    # Spark renders and parses the key values, so any key type
    # round-trips and sorts exactly as the shuffle's sort does
    sample = [r[0] for r in keys.sample(fraction=frac, seed=0)
              .orderBy(*key).select(F.to_json(F.struct(*key))).collect()]
    if not sample:
        return F.lit(0)
    picks = [sample[i * len(sample) // n_buckets] for i in range(1, n_buckets)]
    splitters = F.from_json(F.lit("[" + ",".join(picks) + "]"),
                            T.ArrayType(keys.schema))
    row = F.struct(*key)

    def halve(acc: Column, _: Column) -> Column:
        # bisect_right: the bucket is the number of splitters <= row
        mid = ((acc["lo"] + acc["hi"]) / 2).cast("int")
        return (F.when(acc["lo"] >= acc["hi"], acc)
                .when(F.element_at(splitters, mid + 1) <= row,
                      F.struct((mid + 1).alias("lo"), acc["hi"].alias("hi")))
                .otherwise(F.struct(acc["lo"].alias("lo"), mid.alias("hi"))))

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(len(picks).bit_length())),
        F.struct(F.lit(0).alias("lo"), F.lit(len(picks)).alias("hi")),
        halve)["lo"]


def doc_map(with_ids: DataFrame) -> DataFrame:
    """doc_map(doc_id, conv_id, turn_idx) — the expand-back table
    (reference expandDocid, src/invertedIndex.py:152-161)."""
    return with_ids.select("doc_id", "conv_id", "turn_idx")
