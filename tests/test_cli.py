"""End-to-end CLI smoke: build.py over a seeded synthetic corpus, then
query.py in the lm and prefix modes against the committed index. Each
subprocess is a fresh JVM, so this also guards the spark-submit-style
entrypoint wiring (E2 of SURVEY.md §3)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


def _run(args: list[str]) -> str:
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    p = subprocess.run([sys.executable] + args, cwd=ROOT, env=env,
                       capture_output=True, text=True, timeout=420)
    assert p.returncode == 0, p.stderr[-2000:]
    return p.stdout


@pytest.fixture(scope="module")
def built_index(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli") / "idx")
    _run(["build.py", "--synthetic", "30", "--out", out, "--cpus", "4"])
    return out


@pytest.fixture(scope="module")
def topical_index(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli_topical") / "idx")
    _run(["build.py", "--synthetic", "30", "--out", out, "--cpus", "4",
          "--topical-shards", "4"])
    return out


@pytest.fixture(scope="module")
def positional_index(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli_pos") / "idx")
    _run(["build.py", "--synthetic", "12", "--out", out, "--cpus", "4",
          "--positional"])
    return out


def test_cli_lm_mode(built_index):
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--mode", "lm", "--query", "a se", "--k", "5"])
    rows = [ln.split("\t") for ln in got.strip().splitlines() if "\t" in ln]
    assert 1 <= len(rows) <= 5
    # rank column is 1..n; scores non-increasing (the sparse QL form is
    # shifted from the raw log-prob, so sign is not meaningful)
    assert [int(r[2]) for r in rows] == list(range(1, len(rows) + 1))
    scores = [float(r[3]) for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_cli_auto_mode(built_index):
    """--mode auto produces a ranked result. A 30-conversation index is
    far below the pruning threshold, so topk_auto takes the exhaustive
    branch here (rank-identity of both branches is gated elsewhere)."""
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--mode", "auto", "--query", "a se", "--k", "5"])
    rows = [ln.split("\t") for ln in got.strip().splitlines() if "\t" in ln]
    assert 1 <= len(rows) <= 5
    assert [int(r[2]) for r in rows] == list(range(1, len(rows) + 1))


def test_cli_prefix_mode(built_index):
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--mode", "prefix", "--query", "s", "--k", "5"])
    rows = [ln.split("\t") for ln in got.strip().splitlines() if "\t" in ln]
    assert 1 <= len(rows) <= 5
    assert [int(r[2]) for r in rows] == list(range(1, len(rows) + 1))
    assert all(float(r[3]) > 0 for r in rows)


def test_cli_suggest_mode(built_index):
    """--mode suggest prints (qid, qterm, suggestion, dist, df) rows;
    an exact vocabulary hit suggests itself at dist 0."""
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--mode", "suggest", "--query", "se"])
    rows = [ln.split("\t") for ln in got.strip().splitlines() if "\t" in ln]
    assert rows, got
    by_term = {r[1]: r for r in rows}
    assert by_term["se"][2] == "se" and int(by_term["se"][3]) == 0


def test_cli_mlt_mode(built_index):
    """--mode mlt treats title tokens as seed doc_ids and prints
    (seed_id, doc_id, rank, score) with dense ranks."""
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--mode", "mlt", "--query", "0", "--k", "3"])
    rows = [ln.split("\t") for ln in got.strip().splitlines() if "\t" in ln]
    assert 1 <= len(rows) <= 3
    assert [int(r[2]) for r in rows] == list(range(1, len(rows) + 1))
    assert all(r[1] != "0" for r in rows)  # seed excluded


def test_cli_count_header(built_index):
    """--count prints COUNT qid n_any n_all before the ranked hits."""
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--count", "--query", "a se", "--k", "3"])
    lines = [ln for ln in got.strip().splitlines() if "\t" in ln]
    counts = [ln.split("\t") for ln in lines if ln.startswith("COUNT")]
    hits = [ln.split("\t") for ln in lines if not ln.startswith("COUNT")]
    assert len(counts) == 1 and counts[0][1] == "q001"
    n_any, n_all = int(counts[0][2]), int(counts[0][3])
    assert n_any >= n_all >= 1
    assert 1 <= len(hits) <= 3


def test_cli_explain_lines(built_index):
    """--explain prints per-term EXPLAIN rows whose partials are
    positive and cover every returned hit."""
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--explain", "--query", "a se", "--k", "3"])
    lines = [ln for ln in got.strip().splitlines() if "\t" in ln]
    hits = {ln.split("\t")[1] for ln in lines if not ln.startswith("EXPLAIN")}
    ex = [ln.split("\t") for ln in lines if ln.startswith("EXPLAIN")]
    assert ex and {e[2] for e in ex} == hits  # every hit explained
    assert all(float(e[8]) > 0 for e in ex)
    assert all(e[3] in ("a", "se") for e in ex)


def test_cli_significant_lines(built_index):
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--query", "a se", "--k", "3", "--significant"])
    sig = [ln.split("\t") for ln in got.splitlines()
           if ln.startswith("SIGTERM\t")]
    assert sig, got
    # columns: SIGTERM qid term fg_df bg_df score rank; ranks 1..n
    assert [int(r[6]) for r in sig] == list(range(1, len(sig) + 1))
    assert all(int(r[3]) >= 1 and int(r[4]) >= int(r[3]) - 0 for r in sig)


def test_cli_rescore_two_phase(positional_index):
    out = positional_index
    plain = _run(["query.py", "--index", out, "--cpus", "4",
                  "--query", "a se", "--k", "5"])
    boosted = _run(["query.py", "--index", out, "--cpus", "4",
                    "--query", "a se", "--k", "5", "--rescore", "20"])
    rows_p = [ln.split("\t") for ln in plain.strip().splitlines()]
    rows_b = [ln.split("\t") for ln in boosted.strip().splitlines()]
    assert len(rows_b) == len(rows_p)
    assert [int(r[2]) for r in rows_b] == list(range(1, len(rows_b) + 1))
    # proximity boost only ever raises a doc's score
    best_p = max(float(r[3]) for r in rows_p)
    best_b = max(float(r[3]) for r in rows_b)
    assert best_b >= best_p - 1e-9


def test_cli_rescore_reads_the_whole_window(spark, positional_index):
    """--rescore 20 --k 5 on the default mode rescores the exact BM25
    top 20, not only the top 5: the output equals rescore_topk over the
    exhaustive top 20 computed in-process on the same index, and a
    document ranked below 5 by BM25 enters the rescored top 5."""
    from search_engine_spark.operators.query import (bm25_topk_from_index,
                                                     query_terms_df)
    from search_engine_spark.operators.rescore import rescore_topk
    from search_engine_spark.plans.build_driver import open_index
    query = "i ja"
    got = _run(["query.py", "--index", positional_index, "--cpus", "4",
                "--query", query, "--k", "5", "--rescore", "20"])
    rows = [ln.split("\t") for ln in got.strip().splitlines()]
    ix = open_index(spark, positional_index)
    q = query_terms_df(spark, [("q001", query)])
    base = bm25_topk_from_index(ix.postings_blocked(q), q, ix.n_docs,
                                ix.avgdl, k=20)
    base_rank = {r.doc_id: r.rank for r in base.collect()}
    exp = rescore_topk(base.select("qid", "doc_id", "score"),
                       ix.positional_pruned(q), q, k=5, window=20)
    exp = exp.orderBy("rank").collect()
    assert [(r[0], int(r[1]), int(r[2]), round(float(r[3]), 6))
            for r in rows] == [(r.qid, r.doc_id, r.rank, round(r.score, 6))
                               for r in exp]
    assert max(base_rank[r.doc_id] for r in exp) > 5


def test_cli_suffix_mode(built_index):
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--mode", "suffix", "--query", "e", "--k", "5"])
    rows = [ln.split("\t") for ln in got.strip().splitlines() if "\t" in ln]
    assert 1 <= len(rows) <= 5
    assert [int(r[2]) for r in rows] == list(range(1, len(rows) + 1))
    assert all(float(r[3]) > 0 for r in rows)


def test_cli_taat_bounded_and_route(built_index):
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--mode", "taat-bounded", "--acc-budget", "50",
                "--route", "2", "--route-shards", "4",
                "--query", "a se", "--k", "5"])
    lines = got.strip().splitlines()
    route = [ln.split("\t") for ln in lines if ln.startswith("ROUTE\t")]
    hits = [ln.split("\t") for ln in lines
            if "\t" in ln and not ln.startswith(("ROUTE", "SIGTERM",
                                                 "COUNT", "EXPLAIN"))]
    assert len(route) == 2  # top-2 shards for the one query
    assert [int(r[3]) for r in route] == [1, 2]
    assert 1 <= len(hits) <= 5
    assert [int(r[2]) for r in hits] == list(range(1, len(hits) + 1))


def test_cli_infix_mode(built_index):
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--mode", "infix", "--query", "e", "--k", "5"])
    rows = [ln.split("\t") for ln in got.strip().splitlines() if "\t" in ln]
    assert 1 <= len(rows) <= 5
    assert [int(r[2]) for r in rows] == list(range(1, len(rows) + 1))
    assert all(float(r[3]) > 0 for r in rows)


def test_cli_route_topical(built_index):
    """--route over topical shards: ROUTE lines with top-m=2 shard ids
    per query, shards derived from the k-means signature map."""
    got = _run(["query.py", "--index", built_index, "--cpus", "4",
                "--query", "a se", "--k", "3",
                "--route", "2", "--route-shards", "4", "--route-topical"])
    routes = [ln for ln in got.splitlines() if ln.startswith("ROUTE\t")]
    assert len(routes) == 2  # top-2 shards for the one query
    for ln in routes:
        _, qid, shard, rank, score = ln.split("\t")
        assert 0 <= int(shard) < 4 and int(rank) in (1, 2)


def test_cli_topical_build_layout(topical_index):
    """build.py --topical-shards: the committed index carries the
    per-shard doc-id bounds, ids are contiguous per shard, and the
    index remains queryable."""
    import json
    out = topical_index
    with open(os.path.join(out, "topical_bounds.json")) as f:
        tb = json.load(f)
    assert tb["n_shards"] == 4
    assert tb["bounds"][0] == 0 and sorted(tb["bounds"]) == tb["bounds"]
    got = _run(["query.py", "--index", out, "--cpus", "4",
                "--query", "a se", "--k", "3"])
    assert any(ln.split("\t")[0] == "a se" or "\t" in ln
               for ln in got.splitlines())


def test_cli_route_serve_on_topical_index(topical_index):
    """Full selective-search serving from the CLI: the index built with
    --topical-shards carries id-range bounds, --route M --route-serve
    routes per query (zero-join shard derivation) and serves the
    route-then-score ranking."""
    got = _run(["query.py", "--index", topical_index, "--cpus", "4",
                "--query", "a se", "--k", "3",
                "--route", "2", "--route-serve"])
    lines = got.splitlines()
    routes = [ln for ln in lines if ln.startswith("ROUTE\t")]
    hits = [ln for ln in lines if ln.startswith("q001\t")]
    assert len(routes) == 2  # top-2 of the build's 4 shards
    assert 1 <= len(hits) <= 3 and hits[0].split("\t")[2] == "1"


def test_cli_route_serve_rejects_rankings_it_would_drop(tmp_path):
    """--route-serve replaces the ranking with routed BM25, so combining
    it with phrase/near or --rescore must exit 2 (argparse error)
    BEFORE a JVM starts: the index path does not even exist."""
    missing = str(tmp_path / "no-index")
    for extra in (["--mode", "phrase"], ["--mode", "near"],
                  ["--rescore", "20"]):
        p = subprocess.run(
            [sys.executable, "query.py", "--index", missing, "--query", "a",
             "--route", "2", "--route-serve", *extra],
            cwd=ROOT, capture_output=True, text=True, timeout=60)
        assert p.returncode == 2, (extra, p.stderr[-2000:])
        assert "--route-serve" in p.stderr


def test_cli_rebuild_invalidates_stale_topical_bounds(tmp_path_factory):
    """A non-topical rebuild into the same directory must remove the
    previous topical build's bounds file — stale bounds would silently
    drive wrong id-range shard routing at serve time."""
    out = str(tmp_path_factory.mktemp("cli_stale") / "idx")
    _run(["build.py", "--synthetic", "20", "--out", out, "--cpus", "4",
          "--topical-shards", "4"])
    assert os.path.exists(os.path.join(out, "topical_bounds.json"))
    _run(["build.py", "--synthetic", "20", "--out", out, "--cpus", "4",
          "--no-resume"])
    assert not os.path.exists(os.path.join(out, "topical_bounds.json"))


def test_cli_serves_bm25_through_auto_only(tmp_path):
    """The rank-identical BM25 strategies are not user choices: taat,
    wand and maxscore exit 2 before a JVM starts, and --help names auto
    as the default mode."""
    missing = str(tmp_path / "no-index")
    for mode in ("taat", "wand", "maxscore"):
        p = subprocess.run(
            [sys.executable, "query.py", "--index", missing, "--query", "a",
             "--mode", mode],
            cwd=ROOT, capture_output=True, text=True, timeout=60)
        assert p.returncode == 2, (mode, p.stderr[-2000:])
        assert "invalid choice" in p.stderr
    p = subprocess.run([sys.executable, "query.py", "--help"], cwd=ROOT,
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0
    assert "auto (default)" in " ".join(p.stdout.split())
