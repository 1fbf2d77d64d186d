"""Composite-gate bundle invariants (search_engine_spark/bundles.py).

The bundles exist so the driver's 50-row CORRECTNESS prefix plus the
round-4 artifact covers the whole registry; these tests pin the
partition algebra and the canonical slot schema. Value correctness of
each bundle is gated by the driver oracle (tools/check_oracle.py runs
them at sf0.01), not here.
"""

import json
import os

import pytest

from search_engine_spark.bundles import (ALL_SLOTS, BUNDLE_MEMBERS,
                                         MEMBER_SLOTS, SLOT_FAMILIES,
                                         bundle_oracle_sql, bundle_query_fn)
from search_engine_spark.entry_queries import (QUERIES, QUERIES_ALL,
                                               _R4_COVERED, oracle_sql_map,
                                               oracle_sql_map_all)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bundles_partition_the_non_r4_registry():
    members = [g for ms in BUNDLE_MEMBERS.values() for g in ms]
    assert len(members) == len(set(members)), "a gate is in two bundles"
    # every individual gate is either folded into a bundle or exposed
    # under its own name in the driver registry — nothing is dropped
    exposed = set(QUERIES_ALL) & set(QUERIES)
    assert set(members) | exposed == set(QUERIES_ALL)
    # and never both (a double-verified gate wastes an artifact slot)
    assert not set(members) & exposed
    assert not set(members) & set(_R4_COVERED)


def test_r4_names_match_committed_artifact():
    with open(os.path.join(REPO, "CORRECTNESS_r04.json")) as f:
        rows = json.load(f)
    green = {n for n, rec in rows.items()
             if isinstance(rec, dict) and rec.get("err") in (None, "no_oracle")}
    assert set(_R4_COVERED) == green


def test_every_member_slot_is_valid_and_unique():
    valid = set(ALL_SLOTS)
    for g, slots in MEMBER_SLOTS.items():
        used = [s for _, s in slots]
        assert len(used) == len(set(used)), g
        assert set(used) <= valid, g
        cols = [c for c, _ in slots]
        assert cols == sorted(cols), f"{g}: columns must be name-sorted"


def test_bundle_oracle_sql_projects_all_slots():
    sql = bundle_oracle_sql("bundle_embeddings", oracle_sql_map_all())
    for slot in ALL_SLOTS:
        assert f" AS {slot}" in sql
    assert sql.count("UNION ALL") == len(BUNDLE_MEMBERS["bundle_embeddings"]) - 1


def test_driver_map_exposes_bundles_and_individuals():
    m = oracle_sql_map()
    for b in BUNDLE_MEMBERS:
        assert b in m and b in QUERIES
    for n in _R4_COVERED:
        assert n in QUERIES


def test_bundle_spark_schema_is_canonical(spark):
    df = bundle_query_fn("bundle_embeddings", QUERIES_ALL)(
        spark, "/root/testdata/sf0.001")
    names = [f.name for f in df.schema.fields]
    assert names == ["gate"] + ALL_SLOTS
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert types["gate"] == "string"
    for fam, (n, spark_t, _) in SLOT_FAMILIES.items():
        reprs = {"string": "string", "long": "bigint",
                 "double": "double"}
        for i in range(1, n + 1):
            assert types[f"{fam}{i}"] == reprs[spark_t]
