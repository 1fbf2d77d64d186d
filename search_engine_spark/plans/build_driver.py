"""Checkpointed, resumable index build (north rule: "resumable from
checkpoint with per-partition lineage + metrics"; SURVEY.md §4
'Resumability' and §7 M5).

The reference rebuilds from scratch every run (no checkpoints —
/root/reference/src/invertedIndex.py builds the whole in-memory dict
per invocation). Here every shuffle-stage boundary of the build DAG is
a durable parquet commit:

    stage 1  doc_map      (doc_id ↔ conv_id/turn_idx expand-back table)
    stage 2  term_counts  (doc_id, term, tf)      — Arrow tokenize pass
    stage 3  doc_stats    (dl, len_l2, uniq, max_tf, ave_tf)
    stage 4  term_stats   (term, df, cf)          — the term dictionary
    stage 5  index        (blocked, inline dl, varbyte), partitioned
                          by term_bucket = pmod(xxhash64(term), B) so
                          query-term lookups prune partitions
    stage 6  meta         (n_docs, avgdl, config fingerprint)
    optional positional   (term, doc_id, tf, positions), term_bucket-
                          partitioned like the index — committed only
                          for `positional=True` builds; serves the
                          phrase/NEAR/snippet query paths

Every stage marker also records the doc-id layout: the contents of
<out>/topical_bounds.json, or null when the build is not topical. A
stage is reused only when its recorded layout matches, so switching to
or from a topical layout rebuilds every stage keyed by doc id.

A stage directory is committed atomically: parquet write (Spark's own
job-commit protocol gives all-or-nothing per directory), then a
`_DONE.json` marker carrying that stage's metrics — row count,
duration, input lineage (upstream stage names + their row counts),
df/cf totals, and the per-partition file manifest. A re-run with
resume=True probes markers and SKIPS completed stages, reading their
parquet instead of recomputing (the probe is the analogue of Iceberg
snapshot inspection; plain parquet + marker keeps the sandbox
dependency-free while the layout maps 1:1 onto Iceberg table commits).

Metrics land in <out>/_metrics/metrics.jsonl — one line per stage per
run, including skipped ones — which is the north rule's "row-count /
df / cf metrics written per shuffle stage" artifact.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conf import N_TERM_BUCKETS, POSTING_BLOCK, salt_buckets_for
from ..functions.codec import (decode_index, decode_positions_udf,
                               encode_index, encode_positions_udf)
from ..functions.tokenize import term_counts
from ..operators.docids import doc_map as doc_map_of
from ..operators.index_build import doc_stats, postings_blocked, term_stats
from ..operators.positional import positional_postings

STAGES = ("doc_map", "term_counts", "doc_stats", "term_stats", "index", "meta")
# Optional stages: committed only when requested at build time; their
# absence never blocks open_index (queries needing them probe the
# handle's attribute).
OPTIONAL_STAGES = ("positional",)


def _marker(out_dir: str, stage: str) -> str:
    return os.path.join(out_dir, stage, "_DONE.json")


def _is_done(out_dir: str, stage: str) -> bool:
    return os.path.exists(_marker(out_dir, stage))


def _read_marker(out_dir: str, stage: str) -> dict | None:
    """Marker contents, or None if absent/corrupt. A truncated marker
    (crash mid-write before markers became atomic) must read as NOT
    committed, never as a skippable stage with garbage metrics."""
    try:
        with open(_marker(out_dir, stage)) as f:
            return json.load(f)
    except (OSError, json.JSONDecodeError):
        return None


def _write_marker_atomic(out_dir: str, stage: str, rec: dict) -> None:
    """Temp-file + os.rename in the same directory: POSIX rename is
    atomic, so a crash leaves either the old marker or the complete new
    one — never a half-written file that resume would trust."""
    final = _marker(out_dir, stage)
    tmp = final + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.rename(tmp, final)


# Stages whose committed LAYOUT depends on build parameters. Upstream
# stages (doc_map/term_counts/doc_stats/term_stats) are pure functions
# of the input corpus and stay reusable across config changes.
_CONFIG_STAGES = frozenset({"index", "meta", "positional"})


def term_bucket(n_term_buckets: int):
    """The index partition of a term: pmod(xxhash64(term), B)."""
    return F.pmod(F.xxhash64("term"), F.lit(n_term_buckets)).cast("int")


def _read_layout(out_dir: str) -> dict | None:
    """The doc-id layout a build runs under: the topical bounds the
    build entrypoint wrote (or removed) before the build, else None."""
    try:
        with open(os.path.join(out_dir, "topical_bounds.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _file_manifest(path: str) -> list[dict]:
    """Per-partition lineage: the parquet part files a stage committed."""
    out = []
    for root, _, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out.append({"file": os.path.relpath(p, path),
                            "bytes": os.path.getsize(p)})
    return out


@dataclass
class BuildResult:
    out_dir: str
    metrics: list[dict] = field(default_factory=list)

    def table(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.out_dir, stage))

    @property
    def meta(self) -> dict:
        with open(_marker(self.out_dir, "meta")) as f:
            return json.load(f)["extra"]


class CheckpointedBuild:
    """Drives the staged build; each stage = (inputs) -> DataFrame,
    committed to parquet with metrics, skippable on resume."""

    def __init__(self, spark: SparkSession, out_dir: str, resume: bool = True,
                 salt_buckets: int | None = None, block: int = POSTING_BLOCK,
                 n_term_buckets: int = N_TERM_BUCKETS,
                 positional: bool = False):
        self.spark = spark
        self.out_dir = out_dir
        self.resume = resume
        self.salt_buckets = salt_buckets
        self.block = block
        self.n_term_buckets = n_term_buckets
        self.positional = positional
        self.layout = _read_layout(out_dir)
        self.metrics: list[dict] = []
        os.makedirs(os.path.join(out_dir, "_metrics"), exist_ok=True)

    # -- plumbing ------------------------------------------------------

    @property
    def config(self) -> dict:
        """The layout-defining build parameters; stamped into every
        stage marker so resume can detect a config change (the docstring
        contract the round-1 code promised but never checked)."""
        return {"salt_buckets": self.salt_buckets, "block": self.block,
                "n_term_buckets": self.n_term_buckets}

    def _log(self, rec: dict) -> None:
        self.metrics.append(rec)
        with open(os.path.join(self.out_dir, "_metrics", "metrics.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")

    def _read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, stage))

    def _reusable(self, stage: str) -> bool:
        """Committed AND (for layout-dependent stages) built with THIS
        run's config. A marker with different salt/block/bucket
        params describes a different physical layout — reusing it would
        let open_index misreport the layout and silently split wand
        scores across mismatched salt spans. Every stage must also carry
        this run's doc-id layout: a stage built over other doc ids would
        route serving through the wrong shard ranges."""
        rec = _read_marker(self.out_dir, stage)
        if rec is None:
            return False
        if rec.get("layout") != self.layout:
            self._log({"stage": stage, "status": "rebuild_layout_mismatch",
                       "marker_layout": rec.get("layout"),
                       "run_layout": self.layout})
            return False
        if stage in _CONFIG_STAGES and rec.get("config") != self.config:
            self._log({"stage": stage, "status": "rebuild_config_mismatch",
                       "marker_config": rec.get("config"),
                       "run_config": self.config})
            return False
        return True

    def _commit(self, stage: str, df: DataFrame, lineage: list[str],
                extra: dict | None = None,
                partition_by: list[str] | None = None) -> DataFrame:
        path = os.path.join(self.out_dir, stage)
        if self.resume and self._reusable(stage):
            self._log({"stage": stage, "status": "skipped_resume",
                       "lineage": lineage})
            return self._read(stage)
        t0 = time.time()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        committed = self._read(stage)
        rows = committed.count()
        rec = {"stage": stage, "status": "built", "rows": rows,
               "duration_s": round(time.time() - t0, 3), "lineage": lineage,
               "config": self.config, "layout": self.layout,
               "partitions": _file_manifest(path), **(extra or {})}
        _write_marker_atomic(self.out_dir, stage, rec)
        self._log(rec)
        return committed

    # -- the build DAG -------------------------------------------------

    def run(self, transcripts_with_ids: DataFrame) -> BuildResult:
        dm = self._commit("doc_map", doc_map_of(transcripts_with_ids),
                          lineage=["transcripts"])
        tc = self._commit(
            "term_counts",
            term_counts(transcripts_with_ids),
            lineage=["transcripts"])
        ds = self._commit("doc_stats", doc_stats(tc), lineage=["term_counts"])
        ts_ = self._commit("term_stats", term_stats(tc), lineage=["term_counts"])

        n_docs = dm.count()
        # salt fan-out resolves from the frozen per-run doc span unless
        # the caller pinned a count; the RESOLVED value is what the meta
        # stage records (open_index needs the physical layout, not the
        # configuration intent)
        salt_resolved = salt_buckets_for(n_docs, self.salt_buckets)
        idx = encode_index(postings_blocked(
            tc, n_docs, salt_buckets=salt_resolved, block=self.block, ds=ds))
        idx = idx.withColumn("term_bucket", term_bucket(self.n_term_buckets))
        # df/cf totals = the north rule's per-stage index metrics
        stats_row = ts_.agg(F.sum("df").alias("sum_df"),
                            F.sum("cf").alias("sum_cf"),
                            F.count("*").alias("vocab")).collect()[0]
        idx_df = self._commit(
            "index", idx,
            lineage=["term_counts", "doc_stats"],
            extra={"sum_df": int(stats_row.sum_df or 0),
                   "sum_cf": int(stats_row.sum_cf or 0),
                   "vocab": int(stats_row.vocab)},
            partition_by=["term_bucket"])

        if self.positional:
            # the positional stream persists delta-gap varbyte encoded
            # (pos_enc binary) — it dominates index bytes at corpus
            # scale; serving decodes AFTER the partition + term prune
            pos = (positional_postings(transcripts_with_ids)
                   .withColumn("term_bucket", term_bucket(self.n_term_buckets))
                   .withColumn("pos_enc", encode_positions_udf("positions"))
                   .drop("positions"))
            self._commit("positional", pos, lineage=["transcripts"],
                         partition_by=["term_bucket"])
        elif _is_done(self.out_dir, "positional"):
            # a non-positional (re)build must never leave a previous
            # corpus's positional stage loadable: open_index gates on
            # the marker, so drop it — otherwise phrase/NEAR queries
            # would silently serve stale positions while meta claims
            # positional=False
            os.remove(_marker(self.out_dir, "positional"))
            self._log({"stage": "positional", "status": "invalidated_stale",
                       "lineage": ["transcripts"]})

        avgdl = float(ds.agg(F.avg("dl")).collect()[0][0] or 0.0)
        meta = {"n_docs": n_docs, "avgdl": avgdl,
                "salt_buckets": salt_resolved, "block": self.block,
                "n_term_buckets": self.n_term_buckets,
                "positional": self.positional}
        meta_stage = os.path.join(self.out_dir, "meta")
        if not (self.resume and self._reusable("meta")):
            os.makedirs(meta_stage, exist_ok=True)
            _write_marker_atomic(self.out_dir, "meta",
                                 {"stage": "meta", "status": "built",
                                  "lineage": ["doc_map", "doc_stats"],
                                  "config": self.config,
                                  "layout": self.layout, "extra": meta})
        self._log({"stage": "meta", "status": "built", "extra": meta,
                   "lineage": ["doc_map", "doc_stats"]})
        _ = idx_df
        return BuildResult(self.out_dir, self.metrics)


def build_index_checkpointed(spark: SparkSession, transcripts_with_ids: DataFrame,
                             out_dir: str, resume: bool = True,
                             **kw) -> BuildResult:
    return CheckpointedBuild(spark, out_dir, resume=resume, **kw).run(
        transcripts_with_ids)


@dataclass
class OpenedIndex:
    """Query-time handle over a committed build directory."""
    index: DataFrame
    doc_stats: DataFrame
    term_stats: DataFrame
    doc_map: DataFrame
    term_counts: DataFrame
    n_docs: int
    avgdl: float
    salt_buckets: int
    n_term_buckets: int
    # committed only for positional builds (build --positional); None
    # otherwise — phrase/NEAR serving probes this
    positional: DataFrame | None = None
    # committed only for topical-layout builds (build --topical-shards):
    # per-shard doc-id range starts, so serving derives shard_id from
    # id arithmetic (shards.shard_id_from_ranges) with ZERO joins —
    # (n_shards, bounds) or None
    topical: tuple[int, list[int]] | None = None

    def topical_shard_col(self, id_col: str = "doc_id"):
        """shard_id column expression for a topical-layout index
        (raises if the build wasn't topical)."""
        if self.topical is None:
            raise ValueError("index was not built with --topical-shards")
        from ..operators.shards import shard_id_from_ranges
        return shard_id_from_ranges(id_col, self.topical[1])

    def _pruned(self, stage: DataFrame, qterms: DataFrame) -> DataFrame:
        """A term_bucket-partitioned stage narrowed to the query's
        terms in two steps. The bucket list (≤ #query terms) becomes a
        partition filter the parquet source evaluates against directory
        names, so non-matching buckets are never scanned (on Iceberg the
        same predicate prunes via partition stats). It is read off the
        query relation without a Spark job: `qterms` from
        query_terms_df is a LocalRelation, and a projection over one
        folds on the driver. The broadcast term semi-join then narrows
        what gets DECODED: without it every non-query term sharing a
        surviving bucket would run through the pandas decode UDF. That
        holds only because the decode UDFs are nondeterministic to
        Catalyst (functions/codec.py), so no filter inferred above the
        decode copies it below the join."""
        buckets = sorted({r.b for r in qterms.select(
            term_bucket(self.n_term_buckets).alias("b")).collect()})
        return (stage.where(F.col("term_bucket").isin(buckets))
                .join(F.broadcast(qterms.select("term").distinct()),
                      "term", "leftsemi"))

    def postings_blocked(self, qterms: DataFrame | None = None) -> DataFrame:
        """Index with struct<doc_id, tf, dl> postings decoded.

        Passing the query's `qterms` DataFrame prunes the scan to the
        term-hash partitions the query can touch before anything is
        read, and decodes only the query terms' rows, once — the Spark
        analogue of the reference's offsets.gz byte-seek
        (src/invertedIndex.py:240-241). A filter written on the result
        is not pushed below the decode; prune through `qterms`."""
        idx = self.index if qterms is None else self._pruned(self.index,
                                                             qterms)
        return decode_index(idx.drop("term_bucket"))

    def positional_pruned(self, qterms: DataFrame) -> DataFrame:
        """Positional postings narrowed by the same prune as
        postings_blocked, decoded after it so only query-term rows run
        the pandas UDF — the phrase/NEAR serving path. Raises if the
        build was not positional."""
        if self.positional is None:
            raise FileNotFoundError(
                "index was built without --positional; rebuild with "
                "positional=True to serve phrase/NEAR queries")
        return (self._pruned(self.positional, qterms).drop("term_bucket")
                .withColumn("positions", decode_positions_udf("pos_enc"))
                .drop("pos_enc"))


def open_index(spark: SparkSession, out_dir: str) -> OpenedIndex:
    for stage in STAGES:
        if not _is_done(out_dir, stage):
            raise FileNotFoundError(f"stage {stage!r} not committed in {out_dir}")
    with open(_marker(out_dir, "meta")) as f:
        meta = json.load(f)["extra"]
    if meta.get("compressed") is False or meta.get("inline_dl") is False:
        # builds before the single committed layout could opt out of
        # varbyte or inline dl; no serving path reads those any more
        raise ValueError(
            f"{out_dir} holds a legacy index layout (compressed="
            f"{meta.get('compressed')}, inline_dl={meta.get('inline_dl')}); "
            "rebuild it")
    rd = lambda s: spark.read.parquet(os.path.join(out_dir, s))  # noqa: E731
    return OpenedIndex(
        index=rd("index"), doc_stats=rd("doc_stats"),
        term_stats=rd("term_stats"), doc_map=rd("doc_map"),
        term_counts=rd("term_counts"),
        n_docs=int(meta["n_docs"]), avgdl=float(meta["avgdl"]),
        salt_buckets=int(meta["salt_buckets"]),
        n_term_buckets=int(meta["n_term_buckets"]),
        # positional loads only when BOTH meta says the build was
        # positional AND the stage marker exists — a stale marker from
        # a previous build under the same out_dir (or a positional dir
        # whose build was later re-run non-positionally) never serves
        # positions for the wrong corpus. Pre-gating metas that lack
        # the key default to trusting the marker.
        positional=rd("positional")
        if bool(meta.get("positional", True)) and _is_done(out_dir, "positional")
        else None,
        topical=_load_topical_bounds(out_dir, int(meta["n_docs"])))


def _load_topical_bounds(out_dir: str,
                         n_docs: int) -> tuple[int, list[int]] | None:
    """(n_shards, bounds) from a --topical-shards build, else None.

    The bounds file carries the corpus row count it was minted for;
    a file whose fingerprint disagrees with the committed meta (a
    leftover from a different build in the same directory, or a
    resume that changed the corpus) is REJECTED rather than silently
    driving wrong id-range shard routing. Legacy files without the
    fingerprint are also rejected — rebuild to re-mint them. Bounds are
    per-shard start offsets, so a file whose bound count is not its
    shard count is rejected too."""
    path = os.path.join(out_dir, "topical_bounds.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        tb = json.load(f)
    if int(tb.get("n_docs", -1)) != int(n_docs):
        return None
    bounds = [int(b) for b in tb["bounds"]]
    n_shards = int(tb["n_shards"])
    if len(bounds) != n_shards or not bounds or bounds[0] != 0 \
            or sorted(bounds) != bounds or bounds[-1] > n_docs:
        return None
    return n_shards, bounds
