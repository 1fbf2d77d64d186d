"""Self-tests of the benchmark: its generator, its CPU accounting, its
event-log reader and its oracle. Run from the checkout root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from oracle import Oracle, tokenize  # noqa: E402


def _digest(path: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(path.iterdir()):
        h.update(p.read_bytes())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        gen.generate(str(tmp_path / name), 3000, seed)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def test_generator_follows_the_corpus_shape(tmp_path):
    gen.generate(str(tmp_path / "t"), 60_000, 3)  # two parquet chunks
    t = pq.read_table(tmp_path / "t").to_pandas()
    assert len(t) == 60_000
    per_conv = t.groupby("conv_id")["turn_idx"].agg(["count", "max"])
    assert per_conv["count"].between(1, 16).all()
    assert (per_conv["max"] == per_conv["count"] - 1).all()
    blank = t["text"].isna() | (t["text"].fillna("").str.strip() == "")
    assert 0.005 < blank.mean() < 0.015
    n_tok = t.loc[~blank, "text"].str.split().str.len()
    # 5-120 Zipf tokens, up to 4 burst repeats and one junk token
    assert n_tok.min() >= 5 and n_tok.max() <= 125
    words = gen.vocabulary(3)
    assert len(words) == len(set(words)) == gen.VOCAB_SIZE
    assert words[:len(gen.STOPWORDS)] == gen.STOPWORDS
    toks = [w for x in t["text"].head(5000) for w in tokenize(x)]
    top = max(set(toks), key=toks.count)
    assert top == gen.STOPWORDS[0]  # the hottest Zipf rank
    assert ((t["role"] == "tool") == t["tool"].notna()).all()


def test_tree_cpu_counts_a_child_after_it_is_reaped():
    # Python workers come and go during an op; the CPU of one that has
    # exited and been reaped must still count, as the parent's
    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass")
    child = subprocess.Popen([sys.executable, "-c", burn])
    c0 = run.tree_cpu_s(child.pid)
    child.wait()
    assert run.tree_cpu_s(child.pid) - c0 >= 0.25


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Two builds, five single queries at k=10 (one with an
    out-of-vocabulary term) and one batch of four queries at k=1000 on
    a tiny corpus in one traced session, every op under its own span."""
    d = tmp_path_factory.mktemp("perfbench")
    corpus = str(d / "transcripts")
    gen.generate(corpus, 400, 5)
    oracle = Oracle(corpus)
    run.session_env(str(d), traced=True)
    spark = run.get_spark(app="perfbench-test")
    spark.sparkContext.setLogLevel("ERROR")
    tr = spans.Tracer(spark.sparkContext, active=True)
    builds, serves, batches = [], [], []
    try:
        for i in range(2):
            out = str(d / f"index-{i}")
            with tr.span("op") as s:
                run.build_op(spark, corpus, out, tr)
            builds.append((s["id"], run.read_markers(out)))
        ix = run.open_index(spark, str(d / "index-1"))
        titles = run.sample_queries(oracle, 5, 4)
        titles.append("zzzmissing " + titles[0])
        for j, title in enumerate(titles):
            with tr.span("op") as s:
                rows = run.serve_op(spark, ix, [(f"q{j}", title)], 10, tr)
            serves.append((s["id"], f"q{j}", title, rows))
        batch = [(f"b{j}", t) for j, t in
                 enumerate(run.sample_queries(oracle, 6, 4))]
        with tr.span("op") as s:
            rows = run.serve_op(spark, ix, batch, 1000, tr)
        batches.append((s["id"], batch, rows))
        tr.finish()
    finally:
        run.stop_spark(spark)
    groups = spans.read_event_log(str(d / "eventlog"))
    return SimpleNamespace(tr=tr, groups=groups, oracle=oracle,
                           builds=builds, serves=serves, batches=batches)


def _op_total(traced, sid: str, key: str) -> float:
    ids = {s["id"] for s in traced.tr.spans
           if s["id"] == sid or s["parent"] == sid}
    return sum(traced.groups.get(i, {}).get(key, 0) for i in ids)


def test_event_log_job_counts_match_status_tracker(traced):
    assert traced.tr.spans
    for s in traced.tr.spans:
        assert traced.groups.get(s["id"], {}).get("jobs", 0) == s["status_jobs"], s["name"]
    build = next(s for s in traced.tr.spans
                 if s["name"] == "build_driver.build_index_checkpointed")
    c = traced.groups[build["id"]]
    assert c["jobs"] > 0 and c["stages"] > 0 and c["tasks"] >= c["stages"]
    # the build tokenizes and encodes in Python workers
    assert c["py_run_ms"] > 0 and c["py_sent_bytes"] > 0


def test_oracle_agrees_with_engine(traced):
    for _, markers in traced.builds:
        assert run.check_build(markers, traced.oracle) == []
    for _, qid, title, rows in traced.serves:
        exp = traced.oracle.topk(title, 10)
        assert exp, title
        assert run.check_serve(rows, {qid: exp}) == []
    for _, batch, rows in traced.batches:
        exp = {qid: traced.oracle.topk(t, 1000) for qid, t in batch}
        assert max(len(v) for v in exp.values()) > 10
        assert run.check_serve(rows, exp) == []


def test_oracle_check_rejects_a_wrong_answer(traced):
    _, qid, title, rows = traced.serves[0]
    exp = traced.oracle.topk(title, 10)
    swapped = [exp[1], exp[0]] + exp[2:]
    assert run.check_serve(rows, {qid: swapped})
    assert run.check_build({**traced.builds[0][1], "sum_df": -1}, traced.oracle)


def test_every_timed_op_runs_the_same_nonzero_jobs(traced):
    ops = [sid for sid, *_ in traced.serves + traced.batches]
    serve_jobs = {_op_total(traced, sid, "jobs") for sid in ops}
    assert len(serve_jobs) == 1 and serve_jobs.pop() > 0
