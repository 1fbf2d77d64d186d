"""Boolean query-DSL: parse → one-pass leaf matching → JVM boolean
evaluation → BM25 ranking of the matching docs.

Grammar (Lucene-flavoured, binary NOT):

    expr    := andExpr ('OR' andExpr)*
    andExpr := unit (('AND' | 'NOT') unit)*      # left-associative
    unit    := '(' expr ')' | '"' words '"' | word

`a NOT b` means a ∖ b (match a AND NOT match b). Words fold through
the shared tokenizer; a quoted phrase matches docs with ≥1 exact
positional occurrence (operators/positional.py machinery). The parser
runs driver-side over query strings (bytes, not data).

Reference analogue: the reference's query loop parses whitespace
topics only (/root/reference/src/invertedSimple.py:330-352); a
boolean/phrase DSL is the standard front-end a production engine puts
on the same index.

Execution model (why it scales)
-------------------------------
Boolean retrieval is NOT compiled to per-operator intersect/except
set operations (each a full dedup shuffle). Instead:

1. every leaf (term or phrase) matches in ONE shared pass — term
   leaves are a broadcast join of the tiny (qid, leaf, term) table
   against tc, phrase leaves ride the positional phrase matcher —
   and the union of leaf hits aggregates to one row per
   (qid, doc_id) with the SET OF MATCHED LEAF IDS;
2. each query's boolean tree folds to a single JVM expression over
   `array_contains(hits, leaf_id)`, dispatched by qid in one CASE —
   evaluated scan-side, no joins, no extra shuffle;
3. survivors semi-join the BM25 candidate relation: scores come from
   the query's POSITIVE terms (every leaf not on the right arm of a
   NOT), with standard global collection statistics.

Total cost beyond a plain BM25 query: one extra groupBy over leaf
hits — per-(qid, doc) state is ≤ the leaf count, bounded by the
query, never by the corpus.
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..conf import TOP_K_DEFAULT
from ..functions.tokenize import tokenize_py
from ..session import local_frame
from .query import _topk, bm25_scores

# --- parser -------------------------------------------------------------

_LEX = re.compile(r'"[^"]*"|\(|\)|[^\s()]+')


class DslError(ValueError):
    pass


def _lex(s: str) -> list[str]:
    return _LEX.findall(s)


def parse_dsl(s: str):
    """DSL string → AST of ('term', t) / ('phrase', [t...]) /
    ('and'|'or'|'not', left, right) nodes."""
    toks = _lex(s)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def unit():
        t = peek()
        if t is None:
            raise DslError("unexpected end of query")
        if t == "(":
            take()
            node = expr()
            if peek() != ")":
                raise DslError("missing ')'")
            take()
            return node
        if t.startswith('"'):
            take()
            words = tokenize_py(t.strip('"'))
            if not words:
                raise DslError("empty phrase")
            return ("phrase", words) if len(words) > 1 else ("term", words[0])
        if t in ("AND", "OR", "NOT", ")"):
            raise DslError(f"unexpected {t!r}")
        take()
        words = tokenize_py(t)
        if not words:
            raise DslError(f"empty term {t!r}")
        return ("term", words[0])

    def and_expr():
        node = unit()
        while peek() in ("AND", "NOT"):
            op = take().lower()
            node = (op, node, unit())
        return node

    def expr():
        node = and_expr()
        while peek() == "OR":
            take()
            node = ("or", node, and_expr())
        return node

    ast = expr()
    if pos != len(toks):
        raise DslError(f"trailing input at {toks[pos]!r}")
    return ast


def dsl_leaves(ast) -> list[tuple]:
    """Depth-first leaf list [('term', t) | ('phrase', [t...])];
    leaf_id = position in this list."""
    out: list[tuple] = []

    def walk(n):
        if n[0] in ("term", "phrase"):
            out.append(n)
        else:
            walk(n[1])
            walk(n[2])

    walk(ast)
    return out


def dsl_positive_terms(ast) -> Counter:
    """term → qtf over every leaf NOT on the right arm of a NOT (the
    scoring vocabulary; excluded terms never contribute score)."""
    c: Counter = Counter()

    def walk(n, positive):
        if n[0] == "term":
            if positive:
                c[n[1]] += 1
        elif n[0] == "phrase":
            if positive:
                c.update(n[1])
        elif n[0] == "not":
            walk(n[1], positive)
            walk(n[2], False)
        else:
            walk(n[1], positive)
            walk(n[2], positive)

    walk(ast, True)
    return c


def _bool_sql(n, leaves) -> str:
    """Fold the AST to a Spark SQL boolean over array_contains(hits, i)."""
    if n[0] in ("term", "phrase"):
        return f"array_contains(_hits, {leaves.index(n)})"
    l, r = _bool_sql(n[1], leaves), _bool_sql(n[2], leaves)
    if n[0] == "and":
        return f"({l} AND {r})"
    if n[0] == "or":
        return f"({l} OR {r})"
    return f"({l} AND NOT {r})"


# --- execution ----------------------------------------------------------

def dsl_matches(spark: SparkSession, tc: DataFrame, pos_idx: DataFrame,
                queries: list[tuple[str, str]]) -> DataFrame:
    """(qid, doc_id) — docs satisfying each query's boolean tree."""
    from .positional import phrase_occurrences
    asts = {qid: parse_dsl(s) for qid, s in queries}
    leaf_lists = {qid: dsl_leaves(a) for qid, a in asts.items()}

    term_rows = []
    phrase_rows = []
    for qid, leaves in leaf_lists.items():
        for i, leaf in enumerate(leaves):
            if leaf[0] == "term":
                term_rows.append((qid, i, leaf[1]))
            else:
                for off, t in enumerate(leaf[1]):
                    phrase_rows.append((f"{qid}#{i}", t, off,
                                        len(leaf[1])))

    hits = None
    if term_rows:
        lt = local_frame(spark, term_rows,
                         "qid string, leaf int, term string")
        hits = (tc.join(F.broadcast(lt), "term", "inner")
                .select("qid", "doc_id", "leaf"))
    if phrase_rows:
        ph = local_frame(
            spark, phrase_rows, "qid string, term string, off int, nt int")
        pocc = (phrase_occurrences(pos_idx, ph)
                .select(F.split("qid", "#").getItem(0).alias("qid"),
                        F.split("qid", "#").getItem(1).cast("int")
                         .alias("leaf"),
                        "doc_id")
                .select("qid", "doc_id", "leaf"))
        hits = pocc if hits is None else hits.unionByName(pocc)

    flags = hits.groupBy("qid", "doc_id").agg(
        F.collect_set("leaf").alias("_hits"))
    case = "CASE " + " ".join(
        f"WHEN qid = '{qid}' THEN ({_bool_sql(asts[qid], leaf_lists[qid])})"
        for qid in leaf_lists) + " ELSE false END"
    return (flags.where(F.expr(case))
            .select("qid", "doc_id"))


def dsl_topk(spark: SparkSession, tc: DataFrame, ds: DataFrame,
             tstats: DataFrame, pos_idx: DataFrame,
             queries: list[tuple[str, str]], n_docs: int, avgdl: float,
             k: int = TOP_K_DEFAULT) -> DataFrame:
    """(qid, doc_id, rank, score) — BM25 over each query's positive
    terms, restricted to the boolean match set, pinned _topk order."""
    cand = dsl_matches(spark, tc, pos_idx, queries)
    qrows = []
    for qid, s in queries:
        for t, qtf in sorted(dsl_positive_terms(parse_dsl(s)).items()):
            qrows.append((qid, t, qtf))
    qterms = local_frame(spark, qrows, "qid string, term string, qtf int")
    scored = bm25_scores(tc, ds, tstats, qterms, n_docs, avgdl)
    return _topk(scored.join(cand, ["qid", "doc_id"], "leftsemi"), k)
