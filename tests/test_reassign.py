"""Doc-id reassignment (operators/reassign.py): exact-rank mapping,
permutation property, and the doc-id gap payoff on a locality-scrambled
corpus."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from search_engine_spark.operators.reassign import (reassign_doc_ids,
                                                    rekey_postings)


def test_mapping_is_exact_rank(spark):
    rows = [(i, f"{chr(ord('z') - i % 26)} text body {i}") for i in range(57)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    keyed = docs.select("doc_id",
                        F.substring(F.lower("text"), 1, 16).alias("_k"))
    got = {r.doc_id: r.new_id
           for r in reassign_doc_ids(keyed, ["_k", "doc_id"],
                                     n_buckets=4).collect()}
    expected_order = sorted(rows, key=lambda r: (r[1].lower()[:16], r[0]))
    for rank, (doc_id, _t) in enumerate(expected_order):
        assert got[doc_id] == rank
    # dense permutation
    assert sorted(got.values()) == list(range(57))


def test_rekey_preserves_content(spark):
    rows = [(10, "a b a"), (20, "b c"), (30, "a c c")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from search_engine_spark.functions.tokenize import term_counts_sql
    tc = term_counts_sql(docs)
    keyed = docs.select("doc_id", F.col("text").alias("_k"))
    mapping = reassign_doc_ids(keyed, ["_k", "doc_id"], n_buckets=2)
    re = rekey_postings(tc, mapping)
    # same (term, tf) multiset, ids a permutation of {0, 1, 2}
    assert sorted((r.term, r.tf) for r in re.collect()) == \
           sorted((r.term, r.tf) for r in tc.collect())
    assert {r.doc_id for r in re.collect()} <= {0, 1, 2}


def test_reassignment_shrinks_gaps_on_scrambled_ids(spark):
    # 512 "topic" groups of 8 docs each (4096 docs). Ingest ids are
    # scrambled so a topic term's 8 postings sit at least 512 ids apart;
    # reassigning by text prefix makes each topic's 8 docs adjacent, so
    # the term's doc-id gaps (what the index's delta encoding stores)
    # all become 1.
    rows = []
    for g in range(512):
        for j in range(8):
            ingest_id = (j * 512 + g) * 2654435761 % 4096  # odd mult: bijection
            rows.append((ingest_id, f"topic{g:03d} common words here {j}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from search_engine_spark.functions.tokenize import term_counts_sql
    tc = term_counts_sql(docs)
    keyed = docs.select("doc_id",
                        F.substring(F.lower("text"), 1, 16).alias("_k"))
    re = rekey_postings(tc, reassign_doc_ids(keyed, ["_k", "doc_id"],
                                             n_buckets=4))

    def topic_ids(rel):
        ids: dict[str, list[int]] = {}
        for r in (rel.where(F.col("term").startswith("topic"))
                  .select("term", "doc_id").collect()):
            ids.setdefault(r.term, []).append(r.doc_id)
        return {t: sorted(v) for t, v in ids.items()}

    before = topic_ids(tc)
    after = topic_ids(re)
    assert len(before) == len(after) == 512
    for ids in before.values():
        assert len(ids) == 8 and min(np.diff(ids)) >= 512
    for ids in after.values():
        assert ids == list(range(ids[0], ids[0] + 8))
