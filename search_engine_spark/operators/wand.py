"""The engine's exact-BM25 serving entry point (SURVEY.md §2.5 R8).

`topk_auto` is what the CLI and the benchmark serve with: exhaustive
BM25 over the blocked inline-dl index, whose per-block metadata
(`first_doc_id`, `last_doc_id`, `block_max_tf`, `block_min_dl`,
`salt`) stays in the committed layout. Block-max query-time pruning
lived here until it was measured at about 3× the CPU of this scan at
512k turns, the corpus size it was tuned for (BASELINE.md "Block-max
pruning at 512k turns").
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..conf import BM25_B, BM25_K1, TOP_K_DEFAULT
from .query import bm25_topk_from_index


def topk_auto(index_dl: DataFrame, qterms: DataFrame, n_docs: int,
              avgdl: float, k: int = TOP_K_DEFAULT, k1: float = BM25_K1,
              b: float = BM25_B, salt_buckets: int | None = None) -> DataFrame:
    """Exact BM25 top-k served from the blocked inline-dl index — the
    engine's one exact-BM25 scorer, rank- and score-identical to
    bm25_topk. ``salt_buckets`` is accepted for existing callers and
    ignored: scoring does not depend on the salt span.

    The result is one partition (`coalesce(1)` over at most k ×
    #queries rows), so the final window stage runs as one task and a
    caller's `orderBy("qid", "rank")` adds no range-sample job and no
    sort shuffle. Building the plan runs no Spark job.
    """
    return bm25_topk_from_index(index_dl, qterms, n_docs, avgdl,
                                k=k, k1=k1, b=b).coalesce(1)
