"""DocID minting (P5 of SURVEY.md §2.2).

Reference analogue: string docids compressed to ints by prefix
substitution (truncateDocid/expandDocid,
src/invertedIndex.py:141-161). The rebuild mints a dense int64
surrogate ``doc_id`` = rank over ORDER BY (conv_id, turn_idx), plus a
``doc_map`` table to expand back.

Scale design: a naive ``row_number() OVER (ORDER BY ...)`` is a
single-partition global sort — a non-starter at 10^12 turns. Instead:

1. ``repartitionByRange(n_buckets, conv_id, turn_idx)`` — Spark's
   RangePartitioner: reservoir-sampled splitters (bounded, JVM-side)
   and O(log B) binary-search bucket assignment per row, so the
   per-row cost is independent of the bucket count (the former
   hand-rolled splitter scan was O(B) per row — quadratic-ish work
   once B itself scales with the corpus);
2. ``sortWithinPartitions(conv_id, turn_idx)`` — per-task external
   sort of ≤ ~span rows, spills to disk, never a global sort;
3. ``monotonically_increasing_id()`` over the sorted partitions —
   local rank computed map-side in the same stage, zero extra
   shuffle (ids are (partition << 33) + row-position; only the
   within-partition ordering is used, via min-per-partition);
4. per-partition row counts → cumulative offsets (≤ n_buckets rows on
   the driver) → broadcast-joined back; doc_id = offset + local rank.

``n_buckets`` derives from a FROZEN per-bucket doc span
(``DOCID_DOC_SPAN``), mirroring conf.salt_buckets_for: at 10^12 turns
the fan-out grows to ~2.5×10^5 buckets instead of one bucket growing
to ~1.6×10^10 rows — per-task sort work stays constant in corpus
size. Total: ONE shuffle (the range exchange; the counts pass reuses
its map output) + one broadcast join. The final doc_id does NOT
depend on where the range splitters land (any order-consistent
bucketing yields the same global rank), so sampling cannot change
results — splitter quality only shapes partition balance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# Frozen per-bucket doc span for the range shuffle: each bucket's
# within-partition sort handles ~4M narrow rows (conv_id, turn_idx,
# text references) — comfortably in-memory per task, spill-safe
# beyond. 10^12 turns → ~2.5×10^5 buckets, each constant-sized.
DOCID_DOC_SPAN = 4_000_000


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
    spark = transcripts.sparkSession
    if n_buckets is None:
        if n_docs is None:
            # parquet-metadata-cheap sizing pass; callers on derived
            # inputs pass n_docs to skip it
            n_docs = transcripts.count()
        n_buckets = docid_buckets_for(n_docs)
    n_buckets = max(1, n_buckets)

    ranged = (transcripts
              .repartitionByRange(n_buckets, "conv_id", "turn_idx")
              .sortWithinPartitions("conv_id", "turn_idx")
              .withColumn("_pid", F.spark_partition_id())
              .withColumn("_mid", F.monotonically_increasing_id()))

    # ≤ n_buckets narrow rows on the driver; the range-shuffle map
    # output is reused by the main job (same lineage → same stage)
    counts = (ranged.groupBy("_pid")
              .agg(F.count("*").alias("_cnt"), F.min("_mid").alias("_base"))
              .collect())
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r._pid):
        offsets.append((r._pid, acc, r._base))
        acc += r._cnt
    off_df = local_frame(spark, offsets, "_pid int, _off long, _base long")
    return (
        ranged.join(F.broadcast(off_df), "_pid")
        .withColumn("doc_id",
                    (F.col("_off") + F.col("_mid") - F.col("_base"))
                    .cast("long"))
        .drop("_pid", "_mid", "_off", "_base")
    )


def doc_map(with_ids: DataFrame) -> DataFrame:
    """doc_map(doc_id, conv_id, turn_idx) — the expand-back table
    (reference expandDocid, src/invertedIndex.py:152-161)."""
    return with_ids.select("doc_id", "conv_id", "turn_idx")
