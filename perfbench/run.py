#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the Spark transcript search engine.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Each run is one closed loop: one client
thread drives the engine's public functions on a Spark session of half
the host's cores, one op at a time, and checks every op against a numpy
oracle.

Set-up builds the index of a generated transcripts parquet:
`read_transcripts` -> `mint_doc_ids` -> `build_index_checkpointed`, so
every build layer runs once per run. Each timed op then serves new
queries by the calls `query.py --mode auto` makes: `query_terms_df` ->
`OpenedIndex.postings_blocked` -> `topk_auto` -> `collect`.

Workloads:
- `serve_point`: each op is one query of 1-3 terms at k=10; the fixed
  per-query cost (Spark jobs, the bucket collect, Python hand-offs)
  dominates.
- `serve_batch`: each op is one batch of 100 such queries at k=1000;
  posting decode, explode and scoring dominate, and `topk_auto` takes
  its exhaustive branch (k above 100).

`setup_s` runs from the session request until the first timed op can
start: session start, the index build, `open_index` and a fixed number
of untimed warm-up ops. Input generation and oracle preparation come
before it. With `--trace 1` the same run is made with the Spark event
log on, every layer call in its own job group, and the per-layer
medians are reported instead: serving layers over the timed ops, build
layers from the set-up build.

The last line of stdout is the result JSON; the line before it is the
full record (host facts, session sizing, the `topk_auto` branch taken,
raw op times), which is also written under `.perfbench_out/results/`.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import numpy as np
import pandas
import pyarrow
import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench_out")
sys.path.insert(0, ROOT)

# Importing the engine first: a directory without it fails here, before
# anything is generated or printed.
from search_engine_spark.operators.docids import mint_doc_ids  # noqa: E402
from search_engine_spark.operators.query import query_terms_df  # noqa: E402
from search_engine_spark.operators.wand import topk_auto  # noqa: E402
from search_engine_spark.plans.build_driver import (  # noqa: E402
    build_index_checkpointed, open_index)
from search_engine_spark.session import get_spark  # noqa: E402
from search_engine_spark.sources.transcripts import read_transcripts  # noqa: E402

import gen  # noqa: E402
import spans  # noqa: E402
from oracle import Oracle  # noqa: E402

# Sizes follow the run budget, not the paper's scale: a session start
# plus one cold build of 4k turns already take about 30 s on a 4-core
# host, and a warm build about 10 s, too long to time enough of them in
# one run. So the build runs once, in set-up, and the timed ops serve.
CORPUS_TURNS = 4000
# workload -> queries per op, k, untimed warm-up ops
WORKLOADS = {"serve_point": (1, 10, 2), "serve_batch": (100, 1000, 2)}
MAX_OPS = 100  # timed ops a run can hold
STAGES = ("doc_map", "term_counts", "doc_stats", "term_stats", "index")
# Python worker boot is reported for the whole session instead
# (session.py_boot_ms): workers start once and are reused, so per warm
# op it reads 0
FULL = ("wall_ms",) + tuple(c for c in spans.COUNTERS if c != "py_boot_ms")
# span name -> the counters reported for it (medians over the ops)
LAYER_COUNTERS = {
    "transcripts.read_transcripts": ("wall_ms",),
    "docids.mint_doc_ids": ("wall_ms", "jobs"),
    "build_driver.build_index_checkpointed": FULL,
    "query.query_terms_df": ("wall_ms",),
    "build_driver.postings_blocked": ("wall_ms", "jobs"),
    "wand.topk_auto": ("wall_ms", "jobs"),
    "collect": FULL,
}


def unit_of(counter: str) -> str:
    if counter in ("core_util", "child_share"):
        return "ratio"
    if counter.endswith("_ms"):
        return "ms"
    if counter.endswith("_bytes") or counter == "bytes":
        return "bytes"
    if counter.endswith("_s"):
        return "s"
    return "count"


# --- host and session -------------------------------------------------

def host_facts() -> dict:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"nproc": os.cpu_count(), "ram_gib": round(ram / 2**30, 1),
            "spark": pyspark.__version__, "python": platform.python_version(),
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__}


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters (user .. steal) from
    /proc/stat, for the share of time the hypervisor took away."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def session_cores() -> int:
    """Half the host's cores: a task of a Python UDF stage keeps both a
    JVM thread and a Python worker busy, so `local[nproc]` would run
    twice as many busy threads as there are cores and time the
    scheduler as much as the engine."""
    return max(1, (os.cpu_count() or 2) // 2)


def session_env(run_dir: str, traced: bool) -> dict:
    """Host-derived session sizing, plus Spark scratch space and (traced
    runs) the uncompressed event log, all inside the run directory."""
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if traced:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", f"spark.eventLog.dir=file://{log_dir}",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", "spark.eventLog.rolling.enabled=false"]
    env = {"SPARK_GRAFT_CPUS": str(session_cores()),
           "SPARK_DRIVER_MEM": f"{max(1, int(ram_gib // 6))}g",
           "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
           "TMPDIR": tmp,
           # C1 only: a run's JVM lives about a minute, so the C2
           # compiler would still be compiling during the timed ops and
           # its CPU time would land in them at random
           "JAVA_TOOL_OPTIONS": (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                                 " -XX:TieredStopAtLevel=1"),
           "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"])}
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == pid:
                kids.append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by this process, the JVM `root` and
    every process under it, reaped children included. Task CPU time
    excludes the time the hypervisor stole."""
    tot = 0
    for pid in [os.getpid(), root] + _descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                tot += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return tot / os.sysconf("SC_CLK_TCK")


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for it and the Python
    workers it started to exit."""
    proc = spark.sparkContext._gateway.proc
    workers = _descendants(proc.pid)
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


# --- inputs -----------------------------------------------------------

def sample_queries(oracle: Oracle, seed: int, n: int) -> list[str]:
    """Distinct 1-3 term queries. Each term comes from the oracle's df
    ranks: top 1% with p=0.3, 1-10% with p=0.4, the tail with p=0.3."""
    rng = np.random.default_rng([seed, 3])
    ranked = oracle.terms_by_df()
    v = len(ranked)
    bands = [(0, max(1, v // 100)), (max(1, v // 100), max(2, v // 10)), (max(2, v // 10), v)]
    seen, out = set(), []
    while len(out) < n:
        terms = set()
        for _ in range(int(rng.integers(1, 4))):
            lo, hi = bands[int(rng.choice(3, p=[0.3, 0.4, 0.3]))]
            terms.add(ranked[int(rng.integers(lo, hi))])
        key = tuple(sorted(terms))
        if key not in seen:
            seen.add(key)
            out.append(" ".join(key))
    return out


# --- ops --------------------------------------------------------------

def build_op(spark, corpus: str, out_dir: str, tr: spans.Tracer):
    with tr.span("transcripts.read_transcripts"):
        raw = read_transcripts(spark, corpus)
    with tr.span("docids.mint_doc_ids"):
        tw = mint_doc_ids(raw)
    with tr.span("build_driver.build_index_checkpointed"):
        return build_index_checkpointed(spark, tw, out_dir, resume=False)


def serve_op(spark, ix, queries: list[tuple[str, str]], k: int,
             tr: spans.Tracer):
    with tr.span("query.query_terms_df"):
        qterms = query_terms_df(spark, queries)
    with tr.span("build_driver.postings_blocked"):
        blocked = ix.postings_blocked(qterms)
    with tr.span("wand.topk_auto"):
        res = topk_auto(blocked, qterms, ix.n_docs, ix.avgdl, k=k,
                        salt_buckets=ix.salt_buckets)
    with tr.span("collect"):
        return res.orderBy("qid", "rank").collect()


def read_markers(out_dir: str) -> dict:
    def marker(stage):
        with open(os.path.join(out_dir, stage, "_DONE.json")) as f:
            return json.load(f)
    idx, meta = marker("index"), marker("meta")["extra"]
    stages = {}
    for s in STAGES:
        m = marker(s)
        stages[s] = {"duration_s": m["duration_s"], "rows": m["rows"],
                     "bytes": sum(p["bytes"] for p in m["partitions"])}
    return {"n_docs": meta["n_docs"], "avgdl": meta["avgdl"],
            "vocab": idx["vocab"], "sum_df": idx["sum_df"],
            "sum_cf": idx["sum_cf"], "stages": stages}


def check_build(markers: dict, oracle: Oracle) -> list[str]:
    exp = oracle.stats
    bad = [f"{k}: {markers[k]} != {exp[k]}"
           for k in ("n_docs", "vocab", "sum_df", "sum_cf")
           if markers[k] != exp[k]]
    if abs(markers["avgdl"] - exp["avgdl"]) > 1e-9 * max(1.0, exp["avgdl"]):
        bad.append(f"avgdl: {markers['avgdl']} != {exp['avgdl']}")
    return bad


def check_serve(rows, expected: dict[str, list]) -> list[str]:
    got: dict[str, list] = {q: [] for q in expected}
    for r in rows:
        got.setdefault(r.qid, []).append((r.rank, int(r.doc_id), float(r.score)))
    bad = []
    for qid, exp in expected.items():
        hits = [(d, s) for _, d, s in sorted(got[qid])]
        if [d for d, _ in hits] != [d for d, _ in exp] or any(
                abs(s - e) > 5e-7 for (_, s), (_, e) in zip(hits, exp)):
            bad.append(f"{qid}: got {hits[:3]}.. expected {exp[:3]}..")
    return bad


# --- the run ----------------------------------------------------------

class Run:
    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced = traced
        self.per_op, self.k, self.n_warmup = WORKLOADS[workload]
        self.run_dir = os.path.join(
            OUT, f"run-{workload}-{seed}-{int(traced)}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        self.corpus = os.path.join(self.run_dir, "transcripts")
        self.ops: list[dict] = []   # timed ops
        self.errors: list[str] = []
        self.record: dict = {}
        self.spark = None

    # inputs + oracle: before the set-up clock starts
    def prepare(self) -> None:
        gen.generate(self.corpus, CORPUS_TURNS, self.seed)
        self.oracle = Oracle(self.corpus)
        n = self.per_op * (self.n_warmup + MAX_OPS)
        queries = [(f"q{i:05d}", t) for i, t in
                   enumerate(sample_queries(self.oracle, self.seed, n))]
        # op i serves batches[i]; no query repeats within a run
        self.batches = [queries[i:i + self.per_op]
                        for i in range(0, n, self.per_op)]
        self.env = session_env(self.run_dir, self.traced)

    def _op(self, i: int) -> dict:
        """Run op i under its own `op` span; returns its record. The
        oracle check runs after the clock has stopped."""
        rec = {"i": i}
        s = None
        batch = self.batches[i]
        jvm = self.spark.sparkContext._gateway.proc.pid
        c0 = tree_cpu_s(jvm)
        t0 = time.perf_counter()
        try:
            with self.tr.span("op") as s:
                rows = serve_op(self.spark, self.ix, batch, self.k, self.tr)
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(jvm) - c0
            bad = check_serve(rows, {qid: self.oracle.topk(t, self.k)
                                     for qid, t in batch})
        except Exception as e:  # an op that raises counts as failed
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = tree_cpu_s(jvm) - c0
            bad = [f"op {i} raised {type(e).__name__}: {e}"]
        rec["span"] = s["id"] if s else None
        rec["ok"] = not bad
        self.errors += bad
        return rec

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark(app="perfbench")
        self.session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        # set-up carries layer spans in every run, so the traced run can
        # report the build layers and every run can read the topk_auto
        # branch off the warm-up ops' job counts; timed ops carry them
        # only when traced
        self.tr = spans.Tracer(self.sc, active=True)
        out = os.path.join(self.run_dir, "index")
        t = time.perf_counter()
        with self.tr.span("setup.build") as s:
            build_op(self.spark, self.corpus, out, self.tr)
        self.build_s = time.perf_counter() - t
        self.setup_build = s["id"]
        self.index_markers = read_markers(out)
        self.errors += check_build(self.index_markers, self.oracle)
        t = time.perf_counter()
        self.ix = open_index(self.spark, out)
        self.open_index_ms = (time.perf_counter() - t) * 1e3
        self.warmups = [self._op(i) for i in range(self.n_warmup)]
        self.setup_s = time.perf_counter() - t0
        self.tr.active = self.traced

    def measure(self) -> None:
        cpu0 = cpu_times()
        t_end = time.perf_counter() + self.seconds
        i = self.n_warmup
        while time.perf_counter() < t_end and i < len(self.batches):
            self.ops.append(self._op(i))
            i += 1
        self.steal = steal_share(cpu0, cpu_times())

    def stop(self) -> None:
        if self.spark is not None:
            self.tr.finish()
            stop_spark(self.spark)
            self.spark = None

    # --- reporting ----------------------------------------------------

    def _op_jobs(self, sid: str) -> int:
        todo, n = [sid], 0
        byid = {s["id"]: s for s in self.tr.spans}
        while todo:
            s = byid[todo.pop()]
            n += s["status_jobs"]
            todo += [c["id"] for c in self.tr.children(s["id"])]
        return n

    def branch(self) -> str:
        """`maxscore` when the topk_auto call itself ran jobs (MaxScore
        collects its stats and θ eagerly), `exhaustive` when it only
        planned (the exhaustive branch is lazy)."""
        jobs = {s["status_jobs"] for s in self.tr.spans
                if s["name"] == "wand.topk_auto"
                and s["parent"] in {w["span"] for w in self.warmups}}
        return "maxscore" if jobs and min(jobs) > 0 else "exhaustive"

    def end_to_end(self) -> dict:
        """Op cost as CPU time of the whole stack. On a shared host the
        wall time of an op rises with the time the hypervisor steals (on
        a 4-vCPU VM whose steal moved between 0.4% and 26%, op wall time
        moved by up to 2x between runs); task CPU time excludes steal.
        Op wall times stay in the record and in the traced run's
        `op.wall_ms`."""
        cpus = [o["cpu_s"] for o in self.ops]
        mk = self.index_markers
        return {
            "setup_s": (self.setup_s, "s"),
            "op_cpu_ms": (statistics.median(cpus) * 1e3, "ms"),
            "queries_per_cpu_s": (self.per_op * len(cpus) / sum(cpus), "1/s"),
            "index_bytes_per_posting": (
                mk["stages"]["index"]["bytes"] / mk["sum_df"], "bytes"),
        }

    def per_layer(self) -> dict:
        groups = spans.read_event_log(os.path.join(self.run_dir, "eventlog"))
        byid = {s["id"]: s for s in self.tr.spans}
        out: dict[str, tuple[float, str]] = {}

        # serving layers from the timed ops, build layers from the
        # set-up build
        vals: dict[str, list[float]] = {}
        for pid in [o["span"] for o in self.ops] + [self.setup_build]:
            for c in self.tr.children(pid):
                cnt = spans.span_counters(c, groups, self.tr)
                for k in LAYER_COUNTERS.get(c["name"], ()):
                    vals.setdefault(f"{c['name']}.{k}", []).append(cnt[k])
                if c["name"] == "build_driver.build_index_checkpointed":
                    vals.setdefault(f"{c['name']}.core_util", []).append(
                        cnt["executor_run_ms"]
                        / (cnt["wall_ms"] * session_cores()))
        for k, v in vals.items():
            out[k] = (statistics.median(v), unit_of(k.rsplit(".", 1)[1]))
        for s in STAGES:
            for f in ("duration_s", "rows", "bytes"):
                out[f"build_driver.stage.{s}.{f}"] = (
                    self.index_markers["stages"][s][f], unit_of(f))
        out["build_driver.open_index.wall_ms"] = (self.open_index_ms, "ms")
        out["session.get_spark.wall_ms"] = (self.session_s * 1e3, "ms")
        out["session.py_boot_ms"] = (
            sum(g["py_boot_ms"] for g in groups.values()), "ms")
        out["op.first_ms"] = (self.warmups[0]["wall_s"] * 1e3, "ms")
        walls, selfs, shares, jobs, stages = [], [], [], [], []
        for o in self.ops:
            sp = byid[o["span"]]
            cnt = spans.span_counters(sp, groups, self.tr)
            child = sum(c["end"] - c["start"] for c in self.tr.children(sp["id"]))
            wall = sp["end"] - sp["start"]
            walls.append(wall * 1e3)
            selfs.append((wall - child) * 1e3)
            shares.append(child / wall)
            jobs.append(cnt["jobs"])
            stages.append(cnt["stages"])
        out["op.wall_ms"] = (statistics.median(walls), "ms")
        out["op.self_ms"] = (statistics.median(selfs), "ms")
        out["op.child_share"] = (statistics.median(shares), "ratio")
        out["op.jobs"] = (statistics.median(jobs), "count")
        out["op.stages"] = (statistics.median(stages), "count")
        self.record["eventlog_jobs_match_status"] = all(
            groups.get(s["id"], {}).get("jobs", 0) == s["status_jobs"]
            for s in self.tr.spans)
        return out

    def finish(self) -> dict:
        timed_jobs = [self._op_jobs(o["span"]) for o in self.ops if o["span"]]
        failed = sum(not o["ok"] for o in self.ops)
        rec = self.record
        rec.update({
            "workload": self.workload, "seed": self.seed,
            "seconds": self.seconds, "trace": int(self.traced),
            "host": host_facts(), "env": {k: self.env[k] for k in (
                "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM")},
            "corpus_turns": CORPUS_TURNS, "oracle_stats": self.oracle.stats,
            "queries_per_op": self.per_op, "k": self.k,
            "topk_auto_branch": self.branch(),
            "setup_s": self.setup_s, "session_s": self.session_s,
            "setup_build_s": self.build_s,
            "timed_steal_share": self.steal,
            "warmup_s": [w["wall_s"] for w in self.warmups],
            "op_s": [o["wall_s"] for o in self.ops],
            "op_cpu_s": [o["cpu_s"] for o in self.ops],
            "op_wall_p50_ms": statistics.median(
                o["wall_s"] for o in self.ops) * 1e3 if self.ops else None,
            "op_jobs": timed_jobs,
            "op_jobs_constant": len(set(timed_jobs)) == 1 and timed_jobs[0] > 0,
            "errors": self.errors[:20],
        })
        if self.traced:
            metrics = self.per_layer()
            rec["trace_overhead_ms"] = self._overhead(metrics["op.wall_ms"][0])
        else:
            metrics = self.end_to_end()
        rec["metrics"] = {k: v for k, (v, _) in metrics.items()}
        correct = (not self.errors and failed == 0 and len(self.ops) > 0
                   and rec.get("eventlog_jobs_match_status", True))
        rec["correct"] = correct
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        name = f"{self.workload}-s{self.seed}-t{int(self.traced)}-{time.time_ns()}.json"
        with open(os.path.join(OUT, "results", name), "w") as f:
            json.dump(rec, f, indent=1)
        return {"correct": correct, "attempted": len(self.ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}

    def _overhead(self, traced_p50_ms: float) -> dict:
        """Traced op wall p50 minus the median untraced op wall p50 of
        earlier runs of this workload in the same checkout (if any)."""
        base = []
        rdir = os.path.join(OUT, "results")
        for n in sorted(os.listdir(rdir)) if os.path.isdir(rdir) else ():
            if n.startswith(f"{self.workload}-") and "-t0-" in n:
                with open(os.path.join(rdir, n)) as f:
                    r = json.load(f)
                if r.get("correct") and r.get("op_wall_p50_ms"):
                    base.append(r["op_wall_p50_ms"])
        if not base:
            return {"base_runs": 0}
        b = statistics.median(base)
        return {"base_runs": len(base), "untraced_op_p50_ms": b,
                "traced_op_p50_ms": traced_p50_ms,
                "overhead_ms": traced_p50_ms - b}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        run.prepare()
        run.setup()
        run.measure()
        run.stop()
        result = run.finish()
    finally:
        run.stop()
        shutil.rmtree(run.run_dir, ignore_errors=True)
    print(json.dumps(run.record, default=str), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
