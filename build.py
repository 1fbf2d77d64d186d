#!/usr/bin/env python3
"""Index-build entrypoint (E1 of SURVEY.md §3; reference analogue
`python3 invertedIndex.py <runId> -b[t]`, /root/reference/src/run).

Local:        python3 build.py --input <transcripts.parquet> --out /tmp/idx
Cluster:      spark-submit --py-files search_engine_spark.zip build.py \
                  --input <iceberg-or-parquet path> --format iceberg \
                  --out <warehouse path>

Resumable: re-running with the same --out skips committed stages
(drop --resume to force a clean rebuild). Per-stage metrics land in
<out>/_metrics/metrics.jsonl.

The input must have the transcripts shape (conv_id, turn_idx, role,
text, tool, ts); --synthetic N generates a seeded corpus instead (for
smoke runs without data).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser(description="Build the inverted index")
    ap.add_argument("--input", help="transcripts table path")
    ap.add_argument("--format", default="parquet", help="parquet|iceberg")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N seeded conversations instead of --input")
    ap.add_argument("--out", required=True, help="index output directory")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--salt-buckets", type=int, default=None)
    ap.add_argument("--block", type=int, default=None)
    ap.add_argument("--topical-shards", type=int, default=0, metavar="N",
                    help="topical index layout: cluster conversations "
                         "into N topical shards (k-means over hashed "
                         "tf-idf signatures), reassign doc-ids so each "
                         "shard is a contiguous id range, and build "
                         "over the reassigned corpus; per-shard id "
                         "bounds land in <out>/topical_bounds.json "
                         "(serving derives shard from id arithmetic)")
    ap.add_argument("--positional", action="store_true",
                    help="also commit the positional index stage "
                         "(enables phrase/NEAR query modes)")
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] threads (ignored under spark-submit --master)")
    args = ap.parse_args()

    from search_engine_spark.conf import POSTING_BLOCK
    from search_engine_spark.operators.docids import mint_doc_ids
    from search_engine_spark.plans.build_driver import build_index_checkpointed
    from search_engine_spark.session import get_spark
    from search_engine_spark.sources.transcripts import (generate_transcripts,
                                                         read_transcripts)

    spark = get_spark(app="index-build", cpus=args.cpus)
    spark.sparkContext.setLogLevel("WARN")
    if args.synthetic:
        t = generate_transcripts(spark, n_convs=args.synthetic,
                                 partitions=spark.sparkContext.defaultParallelism)
    elif args.input:
        t = read_transcripts(spark, args.input, fmt=args.format)
    else:
        ap.error("need --input or --synthetic")
    tw = mint_doc_ids(t)
    if args.topical_shards:
        # Topical layout pass (BASELINE.md "Selective search"): one
        # extra tokenize of the corpus buys a build where every topical
        # shard is a contiguous doc-id range — selective-search routing
        # (CORI top-m) then reaches ≥0.9 recall at m=2, and delta-gap
        # compression improves (topically-adjacent docs share terms).
        from pyspark.sql import functions as F

        from search_engine_spark.functions.tokenize import term_counts
        from search_engine_spark.operators.index_build import (doc_stats,
                                                               term_stats)
        from search_engine_spark.operators.shards import (topical_reassign,
                                                          topical_shard_map)
        tc0 = term_counts(tw.select("doc_id", "text")).persist()
        ds0 = doc_stats(tc0)
        ts0 = term_stats(tc0)
        n0 = tw.count()
        conv = tw.select("doc_id", F.col("conv_id").alias("gid"))
        smap = topical_shard_map(tc0, ds0, ts0, n0,
                                 n_shards=args.topical_shards,
                                 dim=32, n_iters=4, group_of=conv)
        mapping, bounds = topical_reassign(smap, args.topical_shards)
        # Materialize the mapping ONCE: several downstream build stages
        # consume tw, and without this every stage would re-derive the
        # whole k-means featurization + range shuffle from lineage.
        mapping = mapping.localCheckpoint(eager=True)
        # Docs with no terms (empty turns) get id = n_assigned + old_id:
        # unique by construction, past every shard range, zero shuffle.
        # They index nothing — the id only anchors doc_map expand-back,
        # so density beyond the indexed range is irrelevant.
        n_assigned = mapping.count()
        tw = (tw.join(mapping, "doc_id", "left")
              .withColumn("_new", F.coalesce(
                  "new_id", F.lit(n_assigned) + F.col("doc_id")))
              .drop("doc_id", "new_id")
              .withColumnRenamed("_new", "doc_id"))
        tc0.unpersist()
        os.makedirs(args.out, exist_ok=True)
        with open(os.path.join(args.out, "topical_bounds.json"), "w") as f:
            # n_docs fingerprints the corpus so open_index can reject a
            # bounds file left behind by a DIFFERENT build in this dir
            json.dump({"n_shards": args.topical_shards,
                       "bounds": bounds,
                       "n_docs": n0}, f)
    else:
        # a rebuild WITHOUT the topical layout must invalidate any
        # bounds a previous topical build committed here — stale bounds
        # would silently drive wrong id-range shard routing at serve
        # time
        stale = os.path.join(args.out, "topical_bounds.json")
        if os.path.exists(stale):
            os.remove(stale)
    res = build_index_checkpointed(
        spark, tw, args.out, resume=not args.no_resume,
        # None → span-derived fan-out (conf.SALT_DOC_SPAN) in the driver
        salt_buckets=args.salt_buckets,
        block=args.block or POSTING_BLOCK,
        positional=args.positional)
    keep = {"stage", "status", "rows", "duration_s"}
    print(json.dumps({"out": res.out_dir,
                      "stages": [{k: v for k, v in m.items() if k in keep}
                                 for m in res.metrics]}))
    spark.stop()


if __name__ == "__main__":
    main()
