from __future__ import annotations

import sys
import os

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

import pytest

from search_engine_spark.session import get_spark
from search_engine_spark.sources.transcripts import generate_transcripts
from search_engine_spark.operators.docids import mint_doc_ids


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    """Seeded tiny corpus (FIXTURES.md 'tiny') with doc_ids minted,
    cached; plus the oracle's (doc_id, text) rows."""
    t = generate_transcripts(spark, n_convs=50, seed=42, partitions=4)
    tw = mint_doc_ids(t).cache()
    rows = [(r.doc_id, r.text) for r in tw.select("doc_id", "text").collect()]
    return tw, rows
