"""Driver-registry invariants (no Spark session needed).

The driver records a bounded prefix (50 gates in rounds 3-5) of
``__spark_entry__.queries()`` per round, so registry hygiene IS
correctness coverage: every gate must be reachable by the
least-recently-verified rotation within two artifacts. These tests
pin the invariants every registry change this round was checked
against by hand.
"""

from __future__ import annotations

import glob
import json
import os

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
DRIVER_PREFIX = 50  # artifact size in rounds 3-5

ROWS_ONLY = {"media_features", "media_stats"}  # documented rows-only


def _registry():
    import __spark_entry__ as e
    return list(e.queries()), e.oracle_sql()


def _artifact_union():
    seen: set[str] = set()
    for path in glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if isinstance(rows, dict):
            for name, rec in rows.items():
                if isinstance(rec, dict) and rec.get("err") in (None,
                                                                "no_oracle"):
                    seen.add(name)
    return seen


def test_every_gate_has_oracle_or_is_documented_rows_only():
    reg, sql = _registry()
    missing = [n for n in reg if n not in sql and n not in ROWS_ONLY]
    assert not missing, f"gates without oracle SQL: {missing}"


def test_registry_closure_within_two_artifacts():
    """Driver-prefix ∪ past artifacts must cover the whole registry:
    a new gate may only push an ALREADY-RECORDED gate out of the
    prefix. This is the bar the round-4 verdict set ('every gate
    lands in an artifact within two rounds')."""
    reg, _ = _registry()
    assert len(reg) <= 2 * DRIVER_PREFIX
    recorded = _artifact_union()
    prefix = set(reg[:DRIVER_PREFIX])
    uncovered = [n for n in reg if n not in prefix and n not in recorded]
    assert not uncovered, (
        f"gates outside the driver prefix with no recorded artifact row: "
        f"{uncovered} — registry grew past what one round can cover")


def test_never_recorded_gates_sort_first():
    """The least-recently-verified rotation must place gates that have
    never appeared in an artifact at the FRONT, where the driver's
    prefix records them this round."""
    reg, _ = _registry()
    recorded = _artifact_union()
    new = [n for n in reg if n not in recorded]
    assert new == reg[:len(new)], (
        "never-recorded gates are not a prefix of the registry order")


def test_bundles_union_existing_relations():
    from search_engine_spark.bundles import BUNDLE_MEMBERS
    from search_engine_spark.entry_queries import QUERIES_ALL
    for bundle, members in BUNDLE_MEMBERS.items():
        unknown = [m for m in members if m not in QUERIES_ALL]
        assert not unknown, f"{bundle} references unknown gates {unknown}"
