"""Seeded, vectorised transcript generator owned by the benchmark.

Follows the corpus shape of FIXTURES.md §1: Zipf(s=1.1) over a
5,000-word vocabulary with the 37 stopwords as the hottest terms, 5-120
tokens per turn, 1-16 turns per conversation, about 1% empty or
whitespace-only turns, tf>1 bursts and a few digit/punctuation tokens
the tokenizer must strip. It is independent of the engine's own
generator (`sources.transcripts`), so a change there cannot move the
benchmark's inputs, and it is fast: token ids are drawn with numpy and
each chunk of text is assembled as one Arrow string buffer.

The output is the `transcripts` parquet the engine reads with
`read_transcripts`. Same seed, same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB_SIZE = 5000
ZIPF_S = 1.1
# verbatim stopword list of the corpus shape (FIXTURES.md §3): the
# hottest ranks of the Zipf draw
STOPWORDS = ("a i do v ve s se z ze ten tenhle tento ta tahle tato to "
             "tohle toto tu tuhle tuto ja ty on ona oni ony my vy moc "
             "hodne jsem jsi je jsme jste jsou").split()
# tokens the tokenizer must strip or split ("42" -> nothing,
# "x1__y" -> x1 y, "9lives" -> lives)
JUNK = ("42", "x1__y", "a-b,c.", "__", "9lives")
EMPTY_TEXTS = ("", "   ")
CHUNK_TURNS = 50_000

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()),
    ("role", pa.string()), ("text", pa.string()),
    ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
])
_EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


def vocabulary(seed: int) -> list[str]:
    """Stopwords first (hottest), then seeded 3-9 letter words."""
    rng = np.random.default_rng([seed, 1])
    words = list(STOPWORDS)
    seen = set(words)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    while len(words) < VOCAB_SIZE:
        lens = rng.integers(3, 10, size=VOCAB_SIZE)
        chars = letters[rng.integers(0, 26, size=(VOCAB_SIZE, 9))]
        for row, n in zip(chars, lens):
            w = row[:n].tobytes().decode()
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == VOCAB_SIZE:
                    break
    return words


def _turn_counts(rng: np.random.Generator, n_turns: int) -> np.ndarray:
    """Turns per conversation (1 + Pareto(1.5) floor, capped at 16),
    trimmed so they sum to exactly n_turns."""
    per = np.minimum(1 + rng.pareto(1.5, size=n_turns).astype(np.int64), 16)
    cut = int(np.searchsorted(np.cumsum(per), n_turns))
    per = per[:cut + 1].copy()
    per[-1] -= int(per.sum()) - n_turns
    return per


def _texts(rng: np.random.Generator, n: int, cdf: np.ndarray,
           buf: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> pa.Array:
    """n turn texts as one Arrow string array. Each token is the word
    plus a trailing space; the word table holds the vocabulary then
    JUNK, so junk tokens render through the same gather."""
    n_tok = rng.integers(5, 121, size=n)
    burst = np.where(rng.random(n) < 0.3, rng.integers(1, 5, size=n), 0)
    junk = (rng.random(n) < 0.05).astype(np.int64)
    total = n_tok + burst + junk
    ends = np.cumsum(total)
    first = ends - total
    ids = np.searchsorted(cdf, rng.random(int(ends[-1])), side="right")
    ids = np.minimum(ids, VOCAB_SIZE - 1)
    # burst: repeat one of the turn's own Zipf tokens 1-4 times
    pos = np.arange(int(ends[-1])) - np.repeat(first, total)
    owner = np.repeat(np.arange(n), total)
    src = first + (rng.random(n) * n_tok).astype(np.int64)
    in_burst = (pos >= n_tok[owner]) & (pos < (n_tok + burst)[owner])
    ids[in_burst] = ids[src[owner[in_burst]]]
    is_junk = pos == (n_tok + burst)[owner]
    ids[is_junk] = VOCAB_SIZE + rng.integers(0, len(JUNK), size=int(is_junk.sum()))
    # gather the word bytes: one index per output byte
    out_len = lens[ids]
    out_end = np.cumsum(out_len)
    gather = (np.repeat(starts[ids] - (out_end - out_len), out_len)
              + np.arange(int(out_end[-1])))
    data = buf[gather]
    offsets = np.zeros(n + 1, dtype=np.int64)
    offsets[1:] = out_end[ends - 1]
    texts = pa.LargeStringArray.from_buffers(
        n, pa.py_buffer(offsets), pa.py_buffer(data)).cast(pa.string())
    # ~1% empty, whitespace-only or null turns
    empty = rng.random(n) < 0.01
    kind = rng.integers(0, 3, size=n)
    repl = pa.array([None if k == 2 else EMPTY_TEXTS[k] for k in kind],
                    type=pa.string())
    return pc.if_else(pa.array(empty), repl, texts)


def generate(path: str, n_turns: int, seed: int) -> dict:
    """Write `n_turns` transcript rows to `<path>/part-*.parquet`;
    returns {"turns", "convs"}. A pure function of (n_turns, seed)."""
    rng = np.random.default_rng([seed, 2])
    words = vocabulary(seed) + list(JUNK)
    enc = [(w + " ").encode() for w in words]
    lens = np.array([len(b) for b in enc], dtype=np.int64)
    starts = np.cumsum(lens) - lens
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    w = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    cdf = np.cumsum(w / w.sum())
    per = _turn_counts(rng, n_turns)
    conv = np.repeat(np.arange(per.size), per)
    turn = np.arange(n_turns) - np.repeat(np.cumsum(per) - per, per)
    role = np.where(turn % 2 == 0, 0, 1)
    role[rng.random(n_turns) < 0.08] = 2
    tool_k = rng.integers(0, 10, size=n_turns)
    os.makedirs(path, exist_ok=True)
    for part, lo in enumerate(range(0, n_turns, CHUNK_TURNS)):
        hi = min(lo + CHUNK_TURNS, n_turns)
        c, r = conv[lo:hi], role[lo:hi]
        roles = np.array(["user", "assistant", "tool"], dtype=object)[r]
        tools = np.where(r == 2, np.char.add("tool-", tool_k[lo:hi].astype(str)),
                         None)
        table = pa.table({
            "conv_id": pa.array(np.char.add("conv-", np.char.zfill(c.astype(str), 6))),
            "turn_idx": pa.array(turn[lo:hi].astype(np.int32)),
            "role": pa.array(roles, type=pa.string()),
            "text": _texts(rng, hi - lo, cdf, buf, starts, lens),
            "tool": pa.array(tools, type=pa.string()),
            "ts": pa.array(_EPOCH_US + np.arange(lo, hi, dtype=np.int64) * 1_000_000,
                           type=pa.timestamp("us", tz="UTC")),
        }, schema=SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))
    return {"turns": n_turns, "convs": int(per.size)}
