"""Checkpoint-resume gates (SURVEY.md §5.5, M5): staged build commits
per-stage parquet + metrics; resume skips completed stages; a deleted
stage is rebuilt identically; queries over the reopened index match
the direct pipeline."""

from __future__ import annotations

import json
import os

import pytest

from search_engine_spark.functions.tokenize import term_counts
from search_engine_spark.operators.index_build import (corpus_stats, doc_stats,
                                                       term_stats)
from search_engine_spark.operators.query import bm25_topk, query_terms_df
from search_engine_spark.operators.wand import topk_auto
from search_engine_spark.plans.build_driver import (STAGES,
                                                    build_index_checkpointed,
                                                    open_index)

QUERIES = [("q1", "a se moc"), ("q2", "jsem ten")]


@pytest.fixture(scope="module")
def built_dir(spark, tiny_corpus, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx"))
    tw, _ = tiny_corpus
    res = build_index_checkpointed(spark, tw, out, resume=True,
                                   salt_buckets=4, block=16)
    return out, res, tw


def test_all_stages_committed_with_metrics(built_dir):
    out, res, _ = built_dir
    for stage in STAGES:
        assert os.path.exists(os.path.join(out, stage, "_DONE.json")), stage
    lines = open(os.path.join(out, "_metrics", "metrics.jsonl")).read().splitlines()
    recs = [json.loads(ln) for ln in lines]
    by_stage = {r["stage"]: r for r in recs}
    assert by_stage["term_counts"]["rows"] > 0
    assert by_stage["index"]["sum_df"] > 0 and by_stage["index"]["sum_cf"] > 0
    # per-partition lineage manifest present
    assert len(by_stage["index"]["partitions"]) > 0
    assert all("file" in p and "bytes" in p for p in by_stage["index"]["partitions"])


def test_resume_skips_completed_stages(spark, built_dir):
    out, _, tw = built_dir
    mtimes = {s: os.path.getmtime(os.path.join(out, s, "_DONE.json"))
              for s in STAGES if s != "meta"}
    res2 = build_index_checkpointed(spark, tw, out, resume=True,
                                    salt_buckets=4, block=16)
    statuses = {m["stage"]: m["status"] for m in res2.metrics}
    for s in ("doc_map", "term_counts", "doc_stats", "term_stats", "index"):
        assert statuses[s] == "skipped_resume", (s, statuses)
    for s, t in mtimes.items():
        assert os.path.getmtime(os.path.join(out, s, "_DONE.json")) == t, s


def test_deleted_stage_is_rebuilt_identically(spark, built_dir):
    out, _, tw = built_dir
    ix0 = open_index(spark, out)
    before = sorted((r.term, r.df, r.cf) for r in ix0.term_stats.collect())
    import shutil
    shutil.rmtree(os.path.join(out, "term_stats"))
    res = build_index_checkpointed(spark, tw, out, resume=True,
                                   salt_buckets=4, block=16)
    statuses = {m["stage"]: m["status"] for m in res.metrics}
    assert statuses["term_stats"] == "built"
    assert statuses["term_counts"] == "skipped_resume"
    after = sorted((r.term, r.df, r.cf) for r in
                   open_index(spark, out).term_stats.collect())
    assert after == before


def test_resume_with_changed_config_rebuilds_layout_stages(spark, tiny_corpus,
                                                           tmp_path_factory):
    """Re-running with different layout params on the same --out must
    NOT silently reuse the old index/meta (the config-fingerprint
    contract): index + meta rebuild, corpus-derived stages still skip,
    and open_index reports the NEW layout."""
    out = str(tmp_path_factory.mktemp("idx_cfg"))
    tw, _ = tiny_corpus
    build_index_checkpointed(spark, tw, out, resume=True,
                             salt_buckets=4, block=16)
    res = build_index_checkpointed(spark, tw, out, resume=True,
                                   salt_buckets=2, block=8)
    statuses = [(m["stage"], m["status"]) for m in res.metrics]
    by_stage = dict(statuses)
    for s in ("doc_map", "term_counts", "doc_stats", "term_stats"):
        assert by_stage[s] == "skipped_resume", (s, statuses)
    assert ("index", "rebuild_config_mismatch") in statuses
    assert ("index", "built") in statuses
    ix = open_index(spark, out)
    assert ix.salt_buckets == 2
    # and the rebuilt layout serves the same results as a fresh build
    q = query_terms_df(spark, QUERIES)
    key = lambda df: sorted((r.qid, r.rank, r.doc_id, round(r.score, 6))  # noqa: E731
                            for r in df.collect())
    tc = term_counts(tw)
    ds = doc_stats(tc)
    cs = corpus_stats(tw, ds)
    direct = bm25_topk(tc, ds, term_stats(tc), q, cs["N"], cs["avgdl"], k=5)
    served = topk_auto(ix.postings_blocked(), q, ix.n_docs, ix.avgdl, k=5)
    assert key(served) == key(direct)


def test_resume_rebuilds_varbyte_era_layout_stages(spark, tiny_corpus,
                                                  tmp_path_factory):
    """Markers written before the array layout carry no `postings` key
    in their config fingerprint. Resuming over them rebuilds index,
    positional and meta (the varbyte blobs are unreadable by the array
    reader) while corpus-derived stages skip, and the result opens."""
    out = str(tmp_path_factory.mktemp("idx_varbyte_era"))
    tw, _ = tiny_corpus
    build_index_checkpointed(spark, tw, out, resume=True,
                             salt_buckets=4, block=16, positional=True)
    for stage in ("index", "positional", "meta"):
        path = os.path.join(out, stage, "_DONE.json")
        with open(path) as f:
            rec = json.load(f)
        rec["config"].pop("postings")
        rec.get("extra", {}).pop("postings", None)
        with open(path, "w") as f:
            json.dump(rec, f)
    with pytest.raises(ValueError, match="rebuild"):
        open_index(spark, out)
    res = build_index_checkpointed(spark, tw, out, resume=True,
                                   salt_buckets=4, block=16, positional=True)
    statuses = [(m["stage"], m["status"]) for m in res.metrics]
    for s in ("index", "positional", "meta"):
        assert (s, "rebuild_config_mismatch") in statuses, (s, statuses)
    assert ("index", "built") in statuses and ("positional", "built") in statuses
    for s in ("doc_map", "term_counts", "doc_stats", "term_stats"):
        assert (s, "skipped_resume") in statuses, (s, statuses)
    ix = open_index(spark, out)
    assert "doc_ids" in ix.index.columns and ix.positional is not None


def test_corrupt_marker_treated_as_uncommitted(spark, tiny_corpus,
                                               tmp_path_factory):
    """A truncated _DONE.json (crash mid-write before markers became
    atomic) must read as NOT committed — the stage rebuilds instead of
    resume trusting garbage."""
    out = str(tmp_path_factory.mktemp("idx_trunc"))
    tw, _ = tiny_corpus
    build_index_checkpointed(spark, tw, out, resume=True,
                             salt_buckets=4, block=16)
    marker = os.path.join(out, "term_stats", "_DONE.json")
    with open(marker, "w") as f:
        f.write('{"stage": "term_stats", "status": "bu')  # truncated
    res = build_index_checkpointed(spark, tw, out, resume=True,
                                   salt_buckets=4, block=16)
    statuses = {m["stage"]: m["status"] for m in res.metrics}
    assert statuses["term_stats"] == "built"
    assert statuses["term_counts"] == "skipped_resume"
    assert json.load(open(marker))["status"] == "built"


def test_reopened_index_serves_identical_topk(spark, built_dir, tiny_corpus):
    out, _, tw = built_dir
    ix = open_index(spark, out)
    # committed as plain Parquet arrays, no varbyte blob
    assert {"doc_ids", "tfs", "dls"} <= set(ix.index.columns)
    assert "postings_enc" not in ix.index.columns
    q = query_terms_df(spark, QUERIES)
    served = topk_auto(ix.postings_blocked(), q, ix.n_docs, ix.avgdl, k=5)
    tc = term_counts(tw)
    ds = doc_stats(tc)
    cs = corpus_stats(tw, ds)
    direct = bm25_topk(tc, ds, term_stats(tc), q, cs["N"], cs["avgdl"], k=5)
    key = lambda df: sorted((r.qid, r.rank, r.doc_id, round(r.score, 6))  # noqa: E731
                            for r in df.collect())
    assert key(served) == key(direct)
    # TAAT over the same inline-dl index with NO doc_stats join
    from search_engine_spark.operators.query import bm25_topk_from_index
    taat = bm25_topk_from_index(ix.postings_blocked(), q,
                                ix.n_docs, ix.avgdl, k=5)
    assert key(taat) == key(direct)


def test_positional_build_serves_phrase_and_near(spark, tiny_corpus,
                                                 tmp_path_factory):
    """A --positional build commits the optional stage, resume skips
    it, and phrase/NEAR served from the PERSISTED positional index
    equal the on-the-fly positional_postings pipeline."""
    from collections import Counter

    from search_engine_spark.functions.tokenize import tokenize_py
    from search_engine_spark.operators.positional import (
        phrase_bm25_topk, phrase_query_terms_df, phrase_terms_df,
        positional_postings)
    from search_engine_spark.operators.proximity import (near_bm25_topk,
                                                         near_query_terms_df)

    out = str(tmp_path_factory.mktemp("posidx"))
    tw, rows = tiny_corpus
    build_index_checkpointed(spark, tw, out, resume=True,
                             salt_buckets=4, block=16, positional=True)
    assert os.path.exists(os.path.join(out, "positional", "_DONE.json"))
    res2 = build_index_checkpointed(spark, tw, out, resume=True,
                                    salt_buckets=4, block=16,
                                    positional=True)
    statuses = {m["stage"]: m["status"] for m in res2.metrics}
    assert statuses["positional"] == "skipped_resume"

    ix = open_index(spark, out)
    assert ix.positional is not None

    # pick a phrase guaranteed present: hottest bigram of the corpus
    big = Counter()
    for _, text in rows:
        dt = tokenize_py(text)
        for i in range(len(dt) - 1):
            big[(dt[i], dt[i + 1])] += 1
    phrase = " ".join(big.most_common(1)[0][0])
    phrases = [("p1", phrase)]

    tc = term_counts(tw)
    ds = doc_stats(tc)
    ts_ = term_stats(tc)
    cs = corpus_stats(tw, ds)
    fresh_pos = positional_postings(tw)

    ph = phrase_terms_df(spark, phrases)
    qt = phrase_query_terms_df(spark, phrases)
    served = phrase_bm25_topk(ix.term_counts, ix.doc_stats, ix.term_stats,
                              ix.positional_pruned(ph), ph, qt,
                              ix.n_docs, ix.avgdl, k=10)
    direct = phrase_bm25_topk(tc, ds, ts_, fresh_pos, ph, qt,
                              cs["N"], cs["avgdl"], k=10)
    key = lambda df: sorted((r.qid, r.doc_id, r.rank, round(r.score, 6),
                             r.phrase_tf) for r in df.collect())
    assert key(served) == key(direct) and key(served)

    near_qs = [("n1", phrase)]
    nq = near_query_terms_df(spark, near_qs)
    q = query_terms_df(spark, near_qs)
    served_n = near_bm25_topk(ix.term_counts, ix.doc_stats, ix.term_stats,
                              ix.positional_pruned(nq), nq, q,
                              ix.n_docs, ix.avgdl, k=10)
    direct_n = near_bm25_topk(tc, ds, ts_, fresh_pos, nq, q,
                              cs["N"], cs["avgdl"], k=10)
    keyn = lambda df: sorted((r.qid, r.doc_id, r.rank, round(r.score, 6),
                              r.min_gap) for r in df.collect())
    assert keyn(served_n) == keyn(direct_n) and keyn(served_n)


def test_positional_pruned_requires_positional_build(spark, built_dir):
    """Opening a non-positional build and asking for phrase/NEAR
    serving fails loudly, not with a missing-path Spark error."""
    from search_engine_spark.operators.proximity import near_query_terms_df
    out, _, _ = built_dir
    ix = open_index(spark, out)
    assert ix.positional is None
    nq = near_query_terms_df(spark, [("n1", "a se")])
    with pytest.raises(FileNotFoundError):
        ix.positional_pruned(nq)


def test_nonpositional_rebuild_invalidates_stale_positional(
        spark, tiny_corpus, tmp_path_factory):
    """Rebuilding an out_dir WITHOUT positional=True must not leave the
    previous build's positional stage loadable: the stale marker is
    dropped, meta records positional=False, and open_index refuses to
    serve positions (ADVICE r3: stale-positional hazard)."""
    out = str(tmp_path_factory.mktemp("staleidx"))
    tw, _ = tiny_corpus
    build_index_checkpointed(spark, tw, out, resume=True,
                             salt_buckets=4, block=16, positional=True)
    assert os.path.exists(os.path.join(out, "positional", "_DONE.json"))
    # same dir, positional dropped from the config — e.g. corpus changed
    build_index_checkpointed(spark, tw, out, resume=False,
                             salt_buckets=4, block=16, positional=False)
    assert not os.path.exists(os.path.join(out, "positional", "_DONE.json"))
    ix = open_index(spark, out)
    assert ix.positional is None
    with open(os.path.join(out, "meta", "_DONE.json")) as f:
        assert json.load(f)["extra"]["positional"] is False


def test_topical_layout_change_rebuilds_every_stage(spark, tiny_corpus,
                                                    tmp_path_factory):
    """Stage markers record the doc-id layout (topical_bounds.json): a
    resume after a bounds file appears rebuilds every stage keyed by
    doc id instead of reusing stages built over the old ids, and a
    second resume under the same file skips them all."""
    out = str(tmp_path_factory.mktemp("idx_layout"))
    tw, _ = tiny_corpus
    build_index_checkpointed(spark, tw, out, resume=True,
                             salt_buckets=4, block=16)
    with open(os.path.join(out, "topical_bounds.json"), "w") as f:
        json.dump({"n_shards": 2, "bounds": [0, 10],
                   "n_docs": tw.count()}, f)
    built = ("doc_map", "term_counts", "doc_stats", "term_stats", "index")
    res = build_index_checkpointed(spark, tw, out, resume=True,
                                   salt_buckets=4, block=16)
    statuses = [(m["stage"], m["status"]) for m in res.metrics]
    for s in built:
        assert (s, "rebuild_layout_mismatch") in statuses, (s, statuses)
        assert (s, "built") in statuses, (s, statuses)
    res = build_index_checkpointed(spark, tw, out, resume=True,
                                   salt_buckets=4, block=16)
    by_stage = {m["stage"]: m["status"] for m in res.metrics}
    for s in built:
        assert by_stage[s] == "skipped_resume", (s, by_stage)
    with open(os.path.join(out, "meta", "_DONE.json")) as f:
        assert json.load(f)["layout"]["bounds"] == [0, 10]


@pytest.mark.parametrize("legacy", [{"compressed": False},
                                    {"inline_dl": False},
                                    {}])
def test_open_index_rejects_legacy_layout(tmp_path, legacy):
    """Builds committed before the array layout stored varbyte
    `postings_enc` blobs (the last of them with compressed and inline
    dl always on, `{}`; earlier ones could opt out of either); their
    metas carry no `postings` key. open_index refuses them with a
    rebuild hint instead of serving them down a path that no longer
    exists (no Spark needed: the check runs before any table is
    read)."""
    for stage in STAGES:
        os.makedirs(tmp_path / stage)
        with open(tmp_path / stage / "_DONE.json", "w") as f:
            json.dump({"stage": stage, "extra": {
                "n_docs": 1, "avgdl": 1.0, "salt_buckets": 1,
                "n_term_buckets": 1, "compressed": True,
                "inline_dl": True, **legacy}}, f)
    with pytest.raises(ValueError, match="rebuild"):
        open_index(None, str(tmp_path))


@pytest.mark.parametrize("n_shards, bounds, ok", [
    (3, [0, 40, 70], True),
    (4, [0, 40, 70], False),    # fewer bounds than shards
    (2, [0, 40, 70], False),    # more bounds than shards
    (3, [0, 70, 40], False),    # not ascending
    (3, [0, 40, 101], False),   # past the corpus
])
def test_load_topical_bounds_validates_file(tmp_path, n_shards, bounds, ok):
    """topical_bounds.json holds one start offset per shard: a file
    whose bound count disagrees with its n_shards is rejected like any
    other inconsistent bounds file (no Spark needed)."""
    from search_engine_spark.plans.build_driver import _load_topical_bounds
    with open(tmp_path / "topical_bounds.json", "w") as f:
        json.dump({"n_shards": n_shards, "bounds": bounds, "n_docs": 100}, f)
    got = _load_topical_bounds(str(tmp_path), 100)
    assert got == ((n_shards, bounds) if ok else None)
    assert _load_topical_bounds(str(tmp_path), 99) is None  # fingerprint
