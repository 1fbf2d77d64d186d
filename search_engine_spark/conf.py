"""Frozen engine configuration constants.

Every semantic knob of the engine lives here so the Spark engine, the
pure-Python oracle (tests/oracle.py) and the DuckDB oracle SQL
(__spark_entry__.py) share byte-identical contracts.

Reference parity notes (citations into /root/reference):
- Tokenizer: the reference tokenizes morphologically-annotated
  "vertical format" text with a lemma/form regex and lowercases when
  preprocessing is on (src/invertedIndex.py:40-69). Our input is plain
  prose (transcript turns), so the equivalent frozen contract is a
  Unicode-safe ASCII word regex over lowercased text.
- Stopwords: loaded but the filter is commented out in the reference
  (src/invertedIndex.py:34-38, :65-66) → config flag, default OFF.
- BM25: the reference's closest analogue is SMART 'ltu' pivoted-unique
  normalization with slope a=0.65, pivot=2630
  (src/invertedIndex.py:278-283). The reference defines no k1/b; we
  freeze the standard k1=1.2, b=0.75 here (BASELINE.json north_star).
- Tie order: the reference's heapq.nlargest tie order is
  nondeterministic dict order (src/invertedIndex.py:286,568); we pin
  the deterministic total order (score DESC, doc_id ASC).
"""

from __future__ import annotations

import os

# --- tokenization -----------------------------------------------------
# Applied to lower(text). Identical semantics in Python `re`, Spark
# (Java regex via regexp_extract_all) and DuckDB (RE2): ASCII-only
# alnum words starting with a letter. Frozen — do not change without
# regenerating goldens.
TOKEN_RE = r"[a-z][a-z0-9]*"

# 37-word stoplist carried over verbatim from the reference fixture
# (/root/reference/input/stopwords.txt); used only when
# filter_stopwords=True (default False to match the reference, which
# loads but never applies it — src/invertedIndex.py:65-66).
# Loaded as PACKAGE DATA (importlib.resources), not a filesystem path:
# under `spark-submit --py-files <zip>` the package root is inside the
# zip and open() on a joined path fails with NotADirectoryError.
STOPWORDS_RESOURCE = ("fixtures", "stopwords.txt")


def load_stopwords() -> frozenset[str]:
    from importlib import resources
    ref = resources.files(__package__).joinpath(*STOPWORDS_RESOURCE)
    text = ref.read_text(encoding="utf-8")
    return frozenset(w.strip() for w in text.splitlines() if w.strip())


FILTER_STOPWORDS_DEFAULT = False

# --- BM25 -------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
# Lucene-style "plus one" idf: ln(1 + (N - df + 0.5)/(df + 0.5)).
# Always positive, so hot terms never score negative (matters in our
# flat synthetic vocabulary where df ≈ 0.8 * N).

# SMART pivoted-unique normalization constants (reference 'u' scheme,
# src/invertedIndex.py:279-280,559-560).
PIVOT_SLOPE = 0.65
PIVOT = 2630.0

# --- ranking ----------------------------------------------------------
TOP_K_DEFAULT = 10
TOP_K_TREC = 1000  # reference run preset (src/run:25,31,36)
RUN_ID_DEFAULT = "spark-bm25"

# --- proximity (NEAR/W) retrieval --------------------------------------
# Window in token positions for the NEAR operator: every pair of
# distinct query terms must co-occur within this many tokens. 8 is the
# classic INQUERY/Indri-style default for passage-level proximity.
NEAR_WINDOW = 8

# --- fuzzy term lookup --------------------------------------------------
# Maximum edit distance for dictionary candidates (SymSpell-style
# deletion-neighborhood blocking is exact for distance <= 1 after the
# levenshtein verify step; see operators/fuzzy.py).
FUZZY_MAX_DIST = 1
# Score weight multiplier per edit of distance: an expansion at
# distance d contributes qtf * FUZZY_DECAY**d, so exact hits dominate.
# 0.5 is exactly representable in binary, keeping Spark/DuckDB/Python
# score arithmetic bit-identical.
FUZZY_DECAY = 0.5

# --- language-model ranking (operators/lm.py) ---------------------------
# Dirichlet smoothing pseudo-count μ. In the classic Zhai & Lafferty
# (SIGIR 2001) 100–2000 range, sized for short synthetic docs, and
# exactly representable in binary so Spark/DuckDB/Python score
# arithmetic is bit-comparable before rounding.
LM_MU = 500.0

# Jelinek-Mercer interpolation weight λ on the collection model
# (score uses the rank-equivalent odds ratio (1-λ)/λ; 0.5 keeps the
# ratio exactly 1.0 so Spark/DuckDB double sequences are trivially
# bit-identical, and sits in the standard 0.1–0.7 short-query range).
LM_JM_LAMBDA = 0.5

# BM25+ lower bound δ (Lv & Zhai, CIKM 2011): added to the tf
# saturation term so long docs that match still outscore non-matches.
BM25_PLUS_DELTA = 1.0

# --- prefix / trailing-wildcard expansion (operators/wildcard.py) --------
# Per-(qid, prefix) expansion cap: the top-df dictionary terms kept
# (tie: term asc). Small enough that the sf0.01 hot one-letter prefix
# actually exercises the truncation in the gates.
PREFIX_MAX_EXPANSIONS = 4

# --- snippets (operators/snippets.py) -----------------------------------
# KWIC window length in tokens: the snippet is the W-token window
# covering the most query-term occurrences (tie: earliest start).
SNIPPET_WINDOW = 10

# --- collocations (operators/collocations.py) ----------------------------
# Minimum adjacent-bigram count for a collocation to be reported; PMI
# of rare pairs is noise, and the floor also bounds the output set.
COLLOC_MIN_COUNT = 5

# --- Gopher quality rules (operators/textstats.py::gopher_filter) -------
# Rae et al. 2021 §A1.1 rule thresholds, scaled to this corpus's
# turn-sized documents (the paper's 50..100k-word bounds assume web
# pages). All ratio comparisons happen on 6dp-ROUNDED values so both
# engines make the identical keep/drop call.
GOPHER_MIN_TOK = 8          # too-short turns carry no training signal
GOPHER_MAX_TOK = 512        # runaway / concatenated turns
GOPHER_AWL_MIN = 3.0        # mean word length lower bound
GOPHER_AWL_MAX = 10.0       # …and upper (symbol soup / DNA-string text)
GOPHER_MAX_DIGIT_RATIO = 0.2   # numeric-noise cap (char-level)
GOPHER_MIN_UNIQ_RATIO = 0.2    # lexical-diversity floor (uniq/total)
GOPHER_MIN_STOP_HITS = 2       # ≥ this many DISTINCT stopwords present

# --- pseudo-relevance feedback (operators/feedback.py) ------------------
PRF_FB_DOCS = 10    # first-pass docs treated as pseudo-relevant
PRF_FB_TERMS = 5    # expansion terms mined per query
PRF_BETA = 0.5      # weight of the top expansion term relative to qtf=1;
                    # exactly representable so engines agree bit-wise

# --- index layout -----------------------------------------------------
N_TERM_BUCKETS = 64        # hash buckets for the persisted index table
POSTING_BLOCK = 128        # postings per skip block (block-max metadata)

# Salted posting aggregation is sized by a FROZEN doc-id span per salt
# run, not a fixed bucket count: salt = doc_id // SALT_DOC_SPAN, so a
# per-(term, salt) run holds ≤ SALT_DOC_SPAN postings (a term appears
# at most once per doc) and reducer/sort work per run is CONSTANT in
# corpus size — at 10^12 docs the fan-out grows to ~10^8 runs instead
# of one run growing to ~10^11 postings (~hundreds of runs at
# 10^5-10^6 docs).
SALT_DOC_SPAN = 8192


def salt_buckets_for(n_docs: int, salt_buckets: int | None = None) -> int:
    """Resolve an explicit bucket-count override (tests/gates pin small
    counts for layout determinism) or derive it from the frozen span."""
    if salt_buckets is not None:
        return max(1, salt_buckets)
    return max(1, -(-int(n_docs) // SALT_DOC_SPAN))

# --- fixed benchmark / correctness query set --------------------------
# Terms drawn from the synthetic documents vocabulary (TESTDATA.md).
# Mirrors the reference topic structure: common terms, rare terms
# ("dup" is the injected-duplicate marker, df≈5% of docs), a multi-term
# query, a repeated term (qtf>1), and an out-of-vocabulary miss
# (reference miss path: src/invertedIndex.py:260-261).
QUERY_SET: list[tuple[str, str]] = [
    ("q001", "spark join"),
    ("q002", "dup"),
    ("q003", "hash table scan"),
    ("q004", "fast fast query"),
    ("q005", "window group order"),
    ("q006", "zzzmissing spark"),
    ("q007", "customer line part small"),
    ("q008", "the a"),
]

# Fixed phrase-query set for the positional/phrase gates. Chosen from
# the synthetic documents vocabulary so each shape of the matcher is
# exercised: a hot bigram, a trigram, a REPEATED-term phrase (the
# duplicate-offset join path, incl. overlapping occurrences), a rare
# trigram, and an out-of-vocabulary miss (zero matches).
PHRASE_SET: list[tuple[str, str]] = [
    ("p001", "table hash"),
    ("p002", "window fast query"),
    ("p003", "line line"),
    ("p004", "slow hash batch"),
    ("p005", "spark zzzmissing"),
]

# Fixed NOT-query set for the boolean-exclusion gates:
# (qid, positive title, excluded terms). Shapes: real exclusion that
# thins results, multi-term exclusion, OOV exclusion (no-op), and a
# self-exclusion (every match excluded -> empty result set).
NOT_SET: list[tuple[str, str, str]] = [
    ("x001", "spark join", "slow"),
    ("x002", "hash table", "scan batch"),
    ("x003", "dup", "zzzmissing"),
    ("x004", "window", "window"),
]

# Fixed misspelled-query set for the fuzzy-lookup gates. Each shape of
# the matcher is exercised against the documents vocabulary:
# substitution + exact term, trailing insertion, deletion +
# substitution, a query term within distance 1 of TWO dictionary terms
# ("ag" -> "agg" and "a"), an out-of-vocabulary miss, and a repeated
# token (qtf > 1) next to a rare exact term.
# Fixed prefix-query set for the wildcard gates. Each whitespace token
# is a PREFIX matching every dictionary term that starts with it.
# Shapes: a hot one-letter prefix that overflows the expansion cap, two
# short prefixes, a full exact word (degenerate prefix) beside a
# one-letter one, an OOV miss beside a live prefix, and two prefixes of
# one query reaching the SAME term ("s" and "sp" → "spark": qtf sums).
PREFIX_SET: list[tuple[str, str]] = [
    ("w001", "s"),
    ("w002", "c gr"),
    ("w003", "merge v"),
    ("w004", "zzz qu"),
    ("w005", "s sp"),
]

# Leading-wildcard (*fix) query set — mirror shapes of PREFIX_SET: a
# hot one-letter suffix, two short suffixes, an OOV miss beside a live
# suffix, and two suffixes of one query reaching the SAME term
# ("n" and "an" → "scan": qtf sums).
SUFFIX_SET: list[tuple[str, str]] = [
    ("x001", "n"),
    ("x002", "le ge"),
    ("x003", "eam w"),
    ("x004", "zzz ry"),
    ("x005", "n an"),
]

# Infix (*fix*) query set — mirror shapes again: a hot interior
# bigram, two infixes in one query, an OOV miss beside a live infix,
# and two infixes of one query reaching the SAME term (qtf sums).
INFIX_SET: list[tuple[str, str]] = [
    ("i001", "ca"),
    ("i002", "art ilte"),
    ("i003", "zzz erg"),
    ("i004", "in ndo"),
]

FUZZY_SET: list[tuple[str, str]] = [
    ("z001", "spork join"),
    ("z002", "scann"),
    ("z003", "quer windoq"),
    ("z004", "ag"),
    ("z005", "zzzmissing"),
    ("z006", "dup fast fast"),
]

# --- MMR result diversification (operators/diversify.py) ----------------
# λ trades relevance vs redundancy; 0.5 is exactly representable so
# Spark, DuckDB and the pandas greedy loop agree bit-wise. The pool is
# the per-query candidate set the greedy pass selects from — bounded
# by config, never by the corpus.
MMR_LAMBDA = 0.5
MMR_POOL = 20

# --- rank-biased overlap (functions/evaluation.py rbo_at_depth) ---------
# Persistence p: 0.5 (vs the classic 0.9) makes every p^(d-1) weight an
# exact power of two — cross-engine bit-identity; truncated tail mass
# at depth 10 is <= 2^-10.
RBO_P = 0.5
RBO_DEPTH = 10

# --- temperature mixture sampling (operators/fusion.py) -----------------
# Source mass after sampling ∝ n^MIX_ALPHA (the multilingual-LM
# sampling temperature); 0.5 exactly representable.
MIX_ALPHA = 0.5

# --- span-first matching (operators/positional.py) ----------------------
# Query term must occur within the first N token positions (1-based).
SPAN_FIRST_N = 5

# --- sequential dependence model (operators/sdm.py) ----------------------
# Metzler & Croft's published interpolation weights; parsed from the
# same decimal literals by Spark, DuckDB and Python, so all engines
# score with the identical doubles.
SDM_LAMBDA_T = 0.85
SDM_LAMBDA_O = 0.1
SDM_LAMBDA_U = 0.05

# --- static index pruning (operators/pruning.py) -------------------------
# Document-centric pruning: each doc keeps its PRUNE_KEEP_K highest
# tf·idf terms. 5 is a real cut at the synthetic docs' lengths, so the
# pruned gates exercise genuine truncation (and pruned_recall measures
# what it costs).
PRUNE_KEEP_K = 5
