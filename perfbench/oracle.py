"""Numpy oracle for the benchmark's correctness checks.

Shares only the frozen contracts of `search_engine_spark.conf` (the
token regex, k1/b) with the engine, as `tests/oracle.py` does; every
computation here is numpy/pyarrow over the input parquet, so the oracle
for a half-million-turn corpus is ready in seconds.

Semantics (SURVEY.md §5.1, FIXTURES.md §4): doc_id is the dense rank
over ORDER BY (conv_id, turn_idx); n_docs counts every turn, avgdl
averages only turns with at least one token; idf is the Lucene-style
ln(1 + (N - df + 0.5)/(df + 0.5)); scores round HALF_UP to 6 dp and
ties order by score DESC, doc_id ASC.
"""

from __future__ import annotations

import re
from collections import Counter
from itertools import chain

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from search_engine_spark.conf import BM25_B, BM25_K1, TOKEN_RE

SCORE_DECIMALS = 6
_TOKEN = re.compile(TOKEN_RE)


def tokenize(text: str | None) -> list[str]:
    return _TOKEN.findall(text.lower()) if text else []


def round_half_up(x: np.ndarray) -> np.ndarray:
    m = 10.0 ** SCORE_DECIMALS
    return np.floor(x * m + 0.5) / m


class Oracle:
    def __init__(self, corpus_path: str):
        t = pq.read_table(corpus_path, columns=["conv_id", "turn_idx", "text"])
        order = np.lexsort((t.column("turn_idx").to_numpy(),
                            np.asarray(t.column("conv_id").to_pylist())))
        texts = t.column("text").take(pa.array(order)).to_pylist()
        self.n_docs = len(texts)
        toks = [tokenize(x) for x in texts]
        dl_all = np.fromiter((len(x) for x in toks), np.int64, self.n_docs)
        enc = pa.array(list(chain.from_iterable(toks)),
                       type=pa.string()).dictionary_encode()
        terms = enc.dictionary.to_pylist()
        tid = enc.indices.to_numpy().astype(np.int64)
        doc = np.repeat(np.arange(self.n_docs, dtype=np.int64), dl_all)
        # one posting per (term, doc), sorted by term then doc
        key, tf = np.unique(tid * self.n_docs + doc, return_counts=True)
        p_tid, self.p_doc = np.divmod(key, self.n_docs)
        self.p_tf = tf.astype(np.float64)
        df = np.bincount(p_tid, minlength=len(terms))
        self.p_start = np.concatenate([[0], np.cumsum(df)])
        self.term_id = {w: i for i, w in enumerate(terms)}
        self.df = df
        self.dl = dl_all.astype(np.float64)
        self.avgdl = float(dl_all[dl_all > 0].mean()) if tid.size else 0.0
        self.stats = {"n_docs": self.n_docs, "vocab": len(terms),
                      "sum_df": int(df.sum()), "sum_cf": int(tid.size),
                      "avgdl": self.avgdl}

    def terms_by_df(self) -> list[str]:
        """Vocabulary, highest df first (ties by term)."""
        inv = {i: w for w, i in self.term_id.items()}
        order = sorted(range(len(inv)), key=lambda i: (-int(self.df[i]), inv[i]))
        return [inv[i] for i in order]

    def topk(self, title: str, k: int) -> list[tuple[int, float]]:
        """[(doc_id, score)] in rank order."""
        scores = np.zeros(self.n_docs)
        hit = np.zeros(self.n_docs, dtype=bool)
        norm = BM25_K1 * (1.0 - BM25_B + BM25_B * self.dl / self.avgdl)
        for term, qtf in sorted(Counter(tokenize(title)).items()):
            i = self.term_id.get(term)
            if i is None:
                continue
            lo, hi = self.p_start[i], self.p_start[i + 1]
            d, tf = self.p_doc[lo:hi], self.p_tf[lo:hi]
            df = float(hi - lo)
            idf = np.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            scores[d] += qtf * idf * (tf * (BM25_K1 + 1.0) / (tf + norm[d]))
            hit[d] = True
        docs = np.flatnonzero(hit)
        s = round_half_up(scores[docs])
        top = np.lexsort((docs, -s))[:k]
        return [(int(docs[j]), float(s[j])) for j in top]
