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
    stage 5  index        (blocked, inline dl: per block row the
                          doc_ids, tfs and dls bigint arrays),
                          partitioned by term_bucket =
                          pmod(xxhash64(term), B) so query-term lookups
                          prune partitions
    stage 6  meta         (n_docs, avgdl, config fingerprint)
    optional positional   (term, doc_id, tf, positions array<int>),
                          term_bucket-partitioned like the index —
                          committed only for `positional=True` builds;
                          serves the phrase/NEAR/snippet query paths

Posting compression belongs to Parquet, not to the engine: the index
and positional stages are written zstd with the v2 page writer, which
stores int arrays DELTA_BINARY_PACKED (doc ids ascend within a block,
so their deltas are small), and serving reads the arrays with Spark's
vectorized reader — no Python UDF encodes or decodes a posting.

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
from ..functions.tokenize import term_counts
from ..operators.docids import doc_map as doc_map_of
from ..operators.index_build import doc_stats, postings_blocked, term_stats
from ..operators.positional import positional_postings
from ..session import local_frame

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

# The committed posting layout: plain Parquet arrays. Recorded in every
# config fingerprint and in the meta, so a directory written under an
# earlier layout (varbyte `postings_enc`) is rebuilt on resume and
# refused by open_index.
POSTINGS_LAYOUT = "arrays"
_POSTING_ARRAYS = (("doc_ids", "doc_id"), ("tfs", "tf"), ("dls", "dl"))
# Writer options of the index and positional stages. zstd + the v2 page
# writer make Parquet store int arrays DELTA_BINARY_PACKED; without the
# v2 writer the arrays are larger than the varbyte blobs they replace.
_ARRAY_WRITE = {"compression": "zstd", "parquet.writer.version": "v2"}
# Parquet picks dictionary encoding for doc_ids once a file holds enough
# repeats (measured at 64k turns: +37% index bytes); ascending ids
# compress best as deltas, so their dictionary is switched off.
_INDEX_WRITE = {**_ARRAY_WRITE,
                "parquet.enable.dictionary#doc_ids.list.element": "false"}


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
                "n_term_buckets": self.n_term_buckets,
                "postings": POSTINGS_LAYOUT}

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
        let open_index misreport the layout (salt span, block size,
        term buckets) the committed rows were built with. Every stage
        must also carry this run's doc-id layout: a stage built over
        other doc ids would route serving through the wrong shard
        ranges."""
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
                partition_by: list[str] | None = None,
                options: dict | None = None) -> DataFrame:
        path = os.path.join(self.out_dir, stage)
        if self.resume and self._reusable(stage):
            self._log({"stage": stage, "status": "skipped_resume",
                       "lineage": lineage})
            return self._read(stage)
        t0 = time.time()
        w = df.write.mode("overwrite").options(**(options or {}))
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
        blocked = postings_blocked(tc, n_docs, salt_buckets=salt_resolved,
                                   block=self.block, ds=ds)
        # one file per term bucket × salt hash slot instead of one per
        # task × bucket (at 4k turns, 64 files instead of 128): each
        # file carries its own footer, and each holds longer runs of
        # ascending doc ids to delta-encode
        idx = (blocked.select(
                   *[c for c in blocked.columns if c != "postings"],
                   *[F.col(f"postings.{f}").cast("array<bigint>").alias(arr)
                     for arr, f in _POSTING_ARRAYS],
                   term_bucket(self.n_term_buckets).alias("term_bucket"))
               .repartition("term_bucket", "salt"))
        # df/cf totals = the north rule's per-stage index metrics
        stats_row = ts_.agg(F.sum("df").alias("sum_df"),
                            F.sum("cf").alias("sum_cf"),
                            F.count("*").alias("vocab")).collect()[0]
        self._commit(
            "index", idx,
            lineage=["term_counts", "doc_stats"],
            extra={"sum_df": int(stats_row.sum_df or 0),
                   "sum_cf": int(stats_row.sum_cf or 0),
                   "vocab": int(stats_row.vocab)},
            partition_by=["term_bucket"], options=_INDEX_WRITE)

        if self.positional:
            pos = (positional_postings(transcripts_with_ids)
                   .withColumn("term_bucket", term_bucket(self.n_term_buckets)))
            self._commit("positional", pos, lineage=["transcripts"],
                         partition_by=["term_bucket"], options=_ARRAY_WRITE)
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
                "positional": self.positional, "postings": POSTINGS_LAYOUT}
        lineage = ["doc_map", "doc_stats"]
        if self.resume and self._reusable("meta"):
            self._log({"stage": "meta", "status": "skipped_resume",
                       "lineage": lineage})
        else:
            os.makedirs(os.path.join(self.out_dir, "meta"), exist_ok=True)
            _write_marker_atomic(self.out_dir, "meta",
                                 {"stage": "meta", "status": "built",
                                  "lineage": lineage, "config": self.config,
                                  "layout": self.layout, "extra": meta})
            self._log({"stage": "meta", "status": "built", "extra": meta,
                       "lineage": lineage})
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
        same predicate prunes via partition stats). The broadcast term
        semi-join then keeps only the query terms' rows of the
        surviving buckets. Both come from one collect of (term, bucket)
        that runs no Spark job: `qterms` from query_terms_df is a
        LocalRelation, and a projection over one folds on the driver;
        the distinct terms go back as a LocalRelation too, so neither
        side of the prune costs a shuffle."""
        rows = qterms.select(
            "term", term_bucket(self.n_term_buckets).alias("b")).collect()
        terms = local_frame(stage.sparkSession,
                            [(t,) for t in sorted({r.term for r in rows})],
                            "term string")
        return (stage.where(F.col("term_bucket").isin(sorted({r.b for r in rows})))
                .join(F.broadcast(terms), "term", "leftsemi"))

    def postings_blocked(self, qterms: DataFrame | None = None) -> DataFrame:
        """Index rows with their postings as array<struct<doc_id, tf,
        dl>>: the committed doc_ids/tfs/dls arrays zipped in the JVM.

        Passing the query's `qterms` DataFrame prunes the scan to the
        term-hash partitions the query can touch before anything is
        read, then to the query terms' rows — the Spark analogue of the
        reference's offsets.gz byte-seek (src/invertedIndex.py:240-241).
        No Python runs: Spark's Parquet reader decodes the arrays."""
        idx = self.index if qterms is None else self._pruned(self.index,
                                                             qterms)
        arrays = [a for a, _ in _POSTING_ARRAYS]
        return idx.select(
            *[c for c in idx.columns if c not in ("term_bucket", *arrays)],
            F.arrays_zip(*[F.col(a).alias(f) for a, f in _POSTING_ARRAYS])
            .alias("postings"))

    def positional_pruned(self, qterms: DataFrame) -> DataFrame:
        """Positional postings (term, doc_id, tf, positions) narrowed by
        the same prune as postings_blocked — the phrase/NEAR serving
        path. Raises if the build was not positional."""
        if self.positional is None:
            raise FileNotFoundError(
                "index was built without --positional; rebuild with "
                "positional=True to serve phrase/NEAR queries")
        return self._pruned(self.positional, qterms).drop("term_bucket")


def open_index(spark: SparkSession, out_dir: str) -> OpenedIndex:
    for stage in STAGES:
        if not _is_done(out_dir, stage):
            raise FileNotFoundError(f"stage {stage!r} not committed in {out_dir}")
    with open(_marker(out_dir, "meta")) as f:
        meta = json.load(f)["extra"]
    if meta.get("postings") != POSTINGS_LAYOUT:
        # earlier builds committed varbyte `postings_enc` blobs (some
        # without inline dl, some uncompressed); no serving path reads
        # those any more
        raise ValueError(
            f"{out_dir} holds a legacy index layout (postings="
            f"{meta.get('postings')}); rebuild it")
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
