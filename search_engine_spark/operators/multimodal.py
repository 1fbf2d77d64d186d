"""Multimodal (binary-payload) columns for the training-data pipeline
tier: image/audio/video as opaque `binary` columns with typed
metadata, processed by Arrow-batched UDFs over `mapInPandas`.

The reference corpus is text-only; a 100 TB transcripts pipeline also
carries tool-emitted screenshots/audio. Design stance (per the build
brief): the Spark-side plumbing — schema, partitioning, UDF signature,
batch shape — is REAL and tested; the actual media decode is stubbed
(no image/audio libs in this container) behind `decoder=` hooks:

- the default deterministic fake decoder derives pixel/sample features
  from the payload bytes (md5-seeded), so tests have stable goldens
  and the full distributed path (binary column → Arrow batch → numpy →
  feature struct) executes for real;
- `strict=True` raises NotImplementedError at the decode site instead,
  marking exactly what a deployment must supply (PIL/ffmpeg workers).

Scale notes:
- payloads stay OPAQUE to the JVM (binary column, never parsed by
  Catalyst); metadata columns (mime, width, height, n_bytes) are
  normal columns so pruning/filtering runs JVM-side BEFORE any decode;
- `decode_features` is mapInPandas: one Arrow batch of payloads in,
  one batch of fixed-width feature rows out — no per-row Python round
  trip, no payload ever on the driver;
- frame sampling / resize are batch-shape-preserving so the pipeline
  composes with repartition() sizing (big payloads → lower
  spark.sql.files.maxPartitionBytes / maxRecordsPerBatch).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), True),       # owning turn
    T.StructField("mime", T.StringType(), False),      # image/png, audio/wav…
    T.StructField("width", T.IntegerType(), True),     # images/video
    T.StructField("height", T.IntegerType(), True),
    T.StructField("n_samples", T.IntegerType(), True),  # audio
    T.StructField("payload", T.BinaryType(), False),   # opaque bytes
])

FEATURE_DIM = 16

FEATURES_SCHEMA = (
    "media_id long, mime string, n_bytes long, "
    f"features array<float>, decode_ok boolean"
)


def synthetic_media(spark: SparkSession, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes; metadata
    consistent with payload size). Stands in for the Iceberg media
    side-table keyed by (doc_id, media_id)."""
    rows = []
    mimes = ["image/png", "image/jpeg", "audio/wav", "video/mp4"]
    for i in range(n):
        h = hashlib.md5(f"{seed}:{i}".encode()).digest()
        mime = mimes[i % len(mimes)]
        payload = (h * (8 + i % 17))[: 64 + (i * 37) % 512]
        w = hh = ns = None
        if mime.startswith("image") or mime.startswith("video"):
            w, hh = 16 + i % 64, 16 + (i * 3) % 64
        else:
            ns = 1000 + i * 13
        rows.append((i, i % max(1, n // 2), mime, w, hh, ns, bytearray(payload)))
    return local_frame(spark, rows, MEDIA_SCHEMA)


def _fake_decode(payload: bytes, mime: str) -> np.ndarray:
    """Deterministic stand-in for the real decoder: FEATURE_DIM float32
    features derived from payload bytes (mean/std/quantiles of the byte
    histogram + md5-seeded projection). Pure function of (payload,
    mime) — byte-identical across runs and partitionings."""
    b = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    if b.size == 0:
        return np.zeros(FEATURE_DIM, dtype=np.float32)
    digest = np.frombuffer(hashlib.md5(payload + mime.encode()).digest(),
                           dtype=np.uint8).astype(np.float64)
    base = np.array([b.mean(), b.std(), b.min(), b.max(),
                     np.quantile(b, 0.25), np.quantile(b, 0.5),
                     np.quantile(b, 0.75), float(b.size % 251)])
    feats = np.concatenate([base, digest[:FEATURE_DIM - base.size] / 255.0])
    return (feats / (np.abs(feats).max() or 1.0)).astype(np.float32)


def builtin_decoder(payload: bytes, mime: str) -> np.ndarray:
    """Library-free REAL decoder covering the two uncompressed
    container formats this sandbox can parse (RIFF/PCM16 WAV, P6 PPM);
    any other mime raises NotImplementedError — the per-ROW failure a
    strict pipeline converts to decode_ok=False. On a real deployment
    this is where PIL/torchaudio/ffmpeg branches plug in; the Spark
    plumbing (Arrow batching, schema, containment) is identical."""
    if mime == "audio/wav":
        _rate, _ch, samples = parse_wav(payload)
        s = samples.astype(np.float64)
        if s.size == 0:
            return np.zeros(FEATURE_DIM, dtype=np.float32)
        base = np.array([s.mean(), s.std(), s.min(), s.max(),
                         np.quantile(s, 0.25), np.quantile(s, 0.5),
                         np.quantile(s, 0.75), float(_rate % 251)])
        feats = np.concatenate([base / 32768.0,
                                np.zeros(FEATURE_DIM - base.size)])
        return feats.astype(np.float32)
    if mime == "image/x-portable-pixmap":
        px = parse_ppm(payload).astype(np.float64)
        m = px.reshape(-1, 3).mean(axis=0)
        base = np.array([m[0], m[1], m[2], px.max(), px.min(),
                         float(px.shape[0]), float(px.shape[1]), 255.0])
        feats = np.concatenate([base / 255.0,
                                np.zeros(FEATURE_DIM - base.size)])
        return feats.astype(np.float32)
    if mime == "audio/basic":
        rate, _ch, s = parse_au(payload)
        s64 = s.astype(np.float64)
        if s64.size == 0:
            return np.zeros(FEATURE_DIM, dtype=np.float32)
        base = np.array([s64.mean(), s64.std(), s64.min(), s64.max(),
                         np.quantile(s64, 0.25), np.quantile(s64, 0.5),
                         np.quantile(s64, 0.75), float(rate % 251)])
        feats = np.concatenate([base / 32768.0,
                                np.zeros(FEATURE_DIM - base.size)])
        return feats.astype(np.float32)
    if mime == "image/png":
        px = parse_png(payload).astype(np.float64)
        h, w, ch = px.shape
        m = px.reshape(-1, ch).mean(axis=0)
        m3 = np.pad(m, (0, max(0, 3 - ch)))[:3]
        base = np.array([m3[0], m3[1], m3[2], px.max(), px.min(),
                         float(h), float(w), float(ch)])
        feats = np.concatenate([base / 255.0,
                                np.zeros(FEATURE_DIM - base.size)])
        return feats.astype(np.float32)
    raise NotImplementedError(f"no decoder for mime {mime!r}")


def decode_features(media: DataFrame, strict: bool = False,
                    decoder=None) -> DataFrame:
    """binary payload → fixed-width feature vector, Arrow-batched.

    ``decoder`` is the pluggable integration point: a
    ``(payload: bytes, mime: str) -> np.ndarray[FEATURE_DIM]``
    callable (e.g. `builtin_decoder`, or a PIL/torchaudio wrapper on a
    real deployment). A decoder failure (ValueError — malformed
    payload — or NotImplementedError — unsupported mime) is contained
    PER ROW: the row comes back decode_ok=False with zero features and
    the batch survives. This holds under strict=True too — strict
    governs only the NO-decoder path, where it raises
    NotImplementedError AT THE EXECUTOR instead of silently falling
    back to the deterministic stub."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decoder is None and strict:
                raise NotImplementedError(
                    "real media decode requires image/audio libs; "
                    "supply a decoder= or use the deterministic stub")
            feats, oks = [], []
            for p, m in zip(pdf["payload"], pdf["mime"]):
                if decoder is None:
                    feats.append(_fake_decode(bytes(p), m).tolist())
                    oks.append(True)
                    continue
                try:
                    feats.append(np.asarray(decoder(bytes(p), m),
                                            dtype=np.float32).tolist())
                    oks.append(True)
                except (ValueError, NotImplementedError):
                    feats.append(np.zeros(FEATURE_DIM,
                                          dtype=np.float32).tolist())
                    oks.append(False)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "mime": pdf["mime"],
                "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                "features": feats,
                "decode_ok": oks,
            })

    return media.select("media_id", "mime", "payload").mapInPandas(
        run, schema=FEATURES_SCHEMA)


# --- real pure-Python decoders (uncompressed formats) ------------------
# The stub decoder above keeps the full Arrow plumbing testable without
# media libraries; these two decode REAL container formats that need no
# library at all — RIFF/PCM16 WAV and binary PPM (P6) — so the decode
# path itself (header parse → typed samples → features) can be
# value-gated, not just rows-gated. Compressed formats (png/jpeg/mp4)
# remain behind the strict NotImplementedError hook.

_WAV_HEADER = 44  # canonical RIFF + fmt(16) + data header size


def wav_bytes(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """int16 mono PCM samples → canonical 44-byte-header WAV bytes."""
    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    import struct
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE", b"fmt ", 16,
        1, 1, sample_rate, sample_rate * 2, 2, 16, b"data", len(data))
    return hdr + data


def parse_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Real RIFF/PCM16 parse: validates magic/chunk sizes, returns
    (sample_rate, n_channels, int16 samples). Raises ValueError on a
    malformed container — decode_ok=False downstream, never a crash."""
    import struct
    if len(payload) < _WAV_HEADER or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    if payload[12:16] != b"fmt " or payload[36:40] != b"data":
        raise ValueError("unsupported WAV chunk layout")
    (fmt_size, audio_fmt, n_ch, rate, _byte_rate, _align, bits) = struct.unpack(
        "<IHHIIHH", payload[16:36])
    if fmt_size != 16 or audio_fmt != 1 or bits != 16:
        raise ValueError("only uncompressed PCM16 supported")
    (data_len,) = struct.unpack("<I", payload[40:44])
    data = payload[44:44 + data_len]
    if len(data) != data_len:
        raise ValueError("truncated data chunk")
    return rate, n_ch, np.frombuffer(data, dtype="<i2")


def ppm_bytes(pixels: np.ndarray) -> bytes:
    """uint8 H×W×3 RGB array → binary PPM (P6, maxval 255)."""
    p = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = p.shape
    return f"P6\n{w} {h}\n255\n".encode() + p.tobytes()


def parse_ppm(payload: bytes) -> np.ndarray:
    """Real P6 parse → uint8 H×W×3 array; ValueError on malformed."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM")
    parts = payload.split(b"\n", 3)
    if len(parts) < 4 or parts[2] != b"255":
        raise ValueError("unsupported PPM header")
    w, h = (int(x) for x in parts[1].split())
    data = parts[3]
    if len(data) < w * h * 3:
        raise ValueError("truncated PPM data")
    return np.frombuffer(data[: w * h * 3], dtype=np.uint8).reshape(h, w, 3)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format media side-table derived from the
    documents corpus: per doc one mono PCM16 WAV whose 16 samples are
    the md5(text) digest bytes (sample = (byte − 128)·256) at a
    doc_id-dependent rate. md5 is computable by both engines, so the
    DuckDB oracle can re-derive every decoded feature from `text`
    alone — the decode path becomes value-gated end to end. Arrow-
    batched (mapInPandas); payload bytes never touch the driver."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5((text or "").encode("utf-8")).digest()
                s = (np.frombuffer(digest, dtype=np.uint8).astype(np.int32)
                     - 128) * 256
                # the rate rides ONLY in the header — recovering it is
                # part of what the gate proves the parser does
                rate = 8000 + int(doc_id) % 8 * 1000
                payloads.append(wav_bytes(s.astype(np.int16), rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "mime": "audio/wav",
                                "payload": payloads})

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, mime string, payload binary")


def media_ppm_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-format image side-table: per doc one binary
    P6 PPM whose 1×w pixel row (w = 1 + doc_id % 3, so the header
    actually varies) is the first 3·w md5(text) digest bytes as RGB.
    Same md5 convention as the WAV twin — the DuckDB oracle re-derives
    every decoded feature from `text` alone."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5((text or "").encode("utf-8")).digest()
                w = 1 + int(doc_id) % 3
                px = (np.frombuffer(digest[: 3 * w], dtype=np.uint8)
                      .reshape(1, w, 3))
                payloads.append(ppm_bytes(px))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "mime": "image/x-portable-pixmap",
                                "payload": payloads})

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, mime string, payload binary")


PPM_FEATURES_SCHEMA = ("doc_id long, width int, height int, "
                       "mean_r double, mean_g double, mean_b double, "
                       "max_pixel int, decode_ok boolean")


def decode_ppm_features(media: DataFrame) -> DataFrame:
    """binary PPM payload → per-doc image statistics via the REAL
    parser (parse_ppm), Arrow-batched; malformed payloads yield
    decode_ok=False rows instead of failing the job."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    px = parse_ppm(bytes(payload))
                    h, w, _ = px.shape
                    m = px.astype(np.float64).reshape(-1, 3).mean(axis=0)
                    rows.append((int(doc_id), w, h,
                                 round(float(m[0]), 6),
                                 round(float(m[1]), 6),
                                 round(float(m[2]), 6),
                                 int(px.max()), True))
                except ValueError:
                    rows.append((int(doc_id), 0, 0, 0.0, 0.0, 0.0, 0, False))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "mean_r", "mean_g", "mean_b",
                "max_pixel", "decode_ok"])

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=PPM_FEATURES_SCHEMA)


WAV_FEATURES_SCHEMA = ("doc_id long, sample_rate int, n_samples int, "
                       "mean_sample double, min_sample int, max_sample int, "
                       "decode_ok boolean")


def decode_wav_features(media: DataFrame) -> DataFrame:
    """binary WAV payload → per-doc sample statistics via the REAL
    parser (parse_wav), Arrow-batched. Malformed payloads yield
    decode_ok=False rows instead of failing the job — at 100 TB a
    poison payload must not kill the stage."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rate, _, s = parse_wav(bytes(payload))
                    s64 = s.astype(np.float64)
                    rows.append((int(doc_id), rate, int(s.size),
                                 round(float(s64.mean()), 6),
                                 int(s.min()), int(s.max()), True))
                except ValueError:
                    rows.append((int(doc_id), 0, 0, 0.0, 0, 0, False))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "sample_rate", "n_samples", "mean_sample",
                "min_sample", "max_sample", "decode_ok"])

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=WAV_FEATURES_SCHEMA)


_AU_MAGIC = b".snd"
_AU_HEADER = 24


def mulaw_to_linear(u8: np.ndarray) -> np.ndarray:
    """ITU-T G.711 µ-law byte → 16-bit linear PCM, vectorized.

    Pure integer arithmetic (complement, exponent/mantissa unpack,
    bias 0x84) — the identical expression runs in the DuckDB oracle,
    so decoded samples are engine-exact. Anchor points of the
    standard table hold: 0x00 → −32124, 0xFF → 0, 0x80 → +32124."""
    u = (~np.asarray(u8, dtype=np.uint8)).astype(np.int32) & 0xFF
    sign = (u & 0x80) != 0
    e = (u >> 4) & 7
    m = u & 0x0F
    mag = (((m << 3) + 0x84) << e) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def au_bytes(ulaw: bytes, sample_rate: int = 8000) -> bytes:
    """µ-law sample bytes → Sun AU (audio/basic) container: '.snd'
    magic + big-endian header (offset, size, encoding=1 µ-law, rate,
    channels=1)."""
    import struct
    return struct.pack(">4sIIIII", _AU_MAGIC, _AU_HEADER, len(ulaw),
                       1, sample_rate, 1) + ulaw


def parse_au(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Real Sun AU parse: validates magic/offset/encoding, expands the
    G.711 µ-law stream to int16 PCM. Returns (rate, channels,
    samples); ValueError on malformed/unsupported — decode_ok=False
    downstream, never a stage failure."""
    import struct
    if len(payload) < _AU_HEADER or payload[:4] != _AU_MAGIC:
        raise ValueError("not a Sun AU container")
    offset, size, enc, rate, n_ch = struct.unpack(">IIIII", payload[4:24])
    if enc != 1:
        raise ValueError("only G.711 mu-law (encoding 1) supported")
    if offset < _AU_HEADER or offset > len(payload):
        raise ValueError("bad data offset")
    data = payload[offset:offset + size]
    if len(data) != size:
        raise ValueError("truncated data")
    return rate, n_ch, mulaw_to_linear(np.frombuffer(data, dtype=np.uint8))


def media_au_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-AU side-table: per doc one µ-law AU whose 16
    sample bytes are the md5(text) digest, rate varying via doc_id
    (header-only, so recovering it is part of what the gate proves).
    Same md5 convention as the WAV/PPM/PNG twins — the oracle
    re-derives every expanded PCM sample from `text` alone."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5((text or "").encode("utf-8")).digest()
                rate = 8000 + int(doc_id) % 5 * 1000
                payloads.append(au_bytes(digest, rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "mime": "audio/basic",
                                "payload": payloads})

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, mime string, payload binary")


def decode_au_features(media: DataFrame) -> DataFrame:
    """binary AU payload → per-doc sample statistics via the REAL
    µ-law parser (parse_au), Arrow-batched, per-row failure
    containment (same schema/shape as the WAV path)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    rate, _, s = parse_au(bytes(payload))
                    s64 = s.astype(np.float64)
                    rows.append((int(doc_id), rate, int(s.size),
                                 round(float(s64.mean()), 6),
                                 int(s.min()), int(s.max()), True))
                except ValueError:
                    rows.append((int(doc_id), 0, 0, 0.0, 0, 0, False))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "sample_rate", "n_samples", "mean_sample",
                "min_sample", "max_sample", "decode_ok"])

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=WAV_FEATURES_SCHEMA)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 6: 4}  # gray, RGB, RGBA


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §9.4): nearest of left/up/up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def png_bytes(pixels: np.ndarray, filters: list[int] | None = None) -> bytes:
    """uint8 H×W×C array (C ∈ {1,3,4}) → REAL PNG bytes: 8-bit,
    non-interlaced, zlib-compressed IDAT, per-chunk CRC32. ``filters``
    picks the filter type per scanline (default: row i uses i % 5), and
    the encoder APPLIES the filter arithmetic — so a decode exercises
    all five reconstruction paths (None/Sub/Up/Average/Paeth), not just
    the trivial one."""
    import struct
    import zlib
    p = np.asarray(pixels, dtype=np.uint8)
    if p.ndim == 2:
        p = p[:, :, None]
    h, w, ch = p.shape
    color = {1: 0, 3: 2, 4: 6}[ch]
    if filters is None:
        filters = [i % 5 for i in range(h)]
    bpp = ch
    raw = p.reshape(h, w * ch).astype(np.int32)
    out = bytearray()
    prior = np.zeros(w * ch, dtype=np.int32)
    for i in range(h):
        row = raw[i]
        ft = filters[i] % 5
        if ft == 0:
            enc = row.copy()
        elif ft == 1:    # Sub
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            enc = row - left
        elif ft == 2:    # Up
            enc = row - prior
        elif ft == 3:    # Average
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            enc = row - (left + prior) // 2
        else:            # Paeth
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            pl = np.concatenate([np.zeros(bpp, np.int32), prior[:-bpp]])
            enc = row - np.array(
                [_paeth(int(a), int(b), int(c))
                 for a, b, c in zip(left, prior, pl)], dtype=np.int32)
        out.append(ft)
        out.extend((enc % 256).astype(np.uint8).tobytes())
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (_PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
            + _png_chunk(b"IEND", b""))


def parse_png(payload: bytes) -> np.ndarray:
    """Real PNG decode (stdlib zlib only): signature + chunk walk with
    CRC32 verification, IHDR validation (8-bit gray/RGB/RGBA,
    non-interlaced), multi-IDAT concatenation, zlib inflate, and full
    scanline de-filtering (all five filter types incl. Paeth). Returns
    uint8 H×W×C. Raises ValueError on any malformation — decode_ok=
    False downstream, never a stage failure. Sequential-filter recon
    is a per-row Python loop (spec-mandated data dependency); fine for
    the Arrow-batched executor path where each payload is one row."""
    import struct
    import zlib
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG signature")
    pos, ihdr, idat, ended = 8, None, b"", False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        tag = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r}")
        if tag == b"IHDR":
            if length != 13:
                raise ValueError(f"IHDR length {length}, expected 13")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            ended = True
            break
        pos += 12 + length
    if ihdr is None or not ended:
        raise ValueError("missing IHDR/IEND")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or color not in _PNG_CHANNELS or comp or filt or interlace:
        raise ValueError("unsupported PNG variant")
    ch = _PNG_CHANNELS[color]
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        raise ValueError(f"bad IDAT stream: {exc}") from exc
    stride = w * ch
    if len(raw) != h * (1 + stride):
        raise ValueError("IDAT length does not match dimensions")
    bpp = ch
    out = np.zeros((h, stride), dtype=np.int32)
    prior = np.zeros(stride, dtype=np.int32)
    for i in range(h):
        ft = raw[i * (1 + stride)]
        row = np.frombuffer(
            raw, np.uint8, stride, i * (1 + stride) + 1).astype(np.int32)
        if ft == 0:
            rec = row
        elif ft == 2:
            rec = (row + prior) % 256
        elif ft in (1, 3, 4):
            rec = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                if ft == 1:
                    pred = left
                elif ft == 3:
                    pred = (left + prior[x]) // 2
                else:
                    pl = prior[x - bpp] if x >= bpp else 0
                    pred = _paeth(left, int(prior[x]), pl)
                rec[x] = (row[x] + pred) % 256
        else:
            raise ValueError(f"unknown filter type {ft}")
        out[i] = rec
        prior = rec
    return out.astype(np.uint8).reshape(h, w, ch)


def media_png_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-PNG side-table: per doc one 2×w RGB PNG
    (w = 2 + doc_id % 3) whose pixel byte j is md5(text) digest byte
    j % 16, encoded with per-row filter (doc_id + row) % 5 — across a
    corpus every filter type (incl. Paeth) rides through zlib and is
    reconstructed by the decoder. Same md5 convention as the WAV/PPM
    twins: the DuckDB oracle re-derives every decoded pixel stat from
    `text` alone, value-gating signature/CRC/inflate/de-filter end to
    end (a single wrong reconstruction byte shifts a channel mean)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5((text or "").encode("utf-8")).digest()
                w = 2 + int(doc_id) % 3
                n = 2 * w * 3
                px = (np.frombuffer((digest * ((n // 16) + 1))[:n],
                                    dtype=np.uint8).reshape(2, w, 3))
                filters = [(int(doc_id) + r) % 5 for r in range(2)]
                payloads.append(png_bytes(px, filters=filters))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "mime": "image/png",
                                "payload": payloads})

    return docs.select("doc_id", "text").mapInPandas(
        run, schema="doc_id long, mime string, payload binary")


def decode_png_features(media: DataFrame) -> DataFrame:
    """binary PNG payload → per-doc image statistics via the REAL
    parser (parse_png), Arrow-batched; malformed payloads yield
    decode_ok=False rows (per-row containment, like the WAV/PPM
    paths)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    px = parse_png(bytes(payload))
                    h, w, _ = px.shape
                    m = px.astype(np.float64).reshape(-1, 3).mean(axis=0)
                    rows.append((int(doc_id), w, h,
                                 round(float(m[0]), 6),
                                 round(float(m[1]), 6),
                                 round(float(m[2]), 6),
                                 int(px.max()), True))
                except ValueError:
                    rows.append((int(doc_id), 0, 0, 0.0, 0.0, 0.0, 0, False))
            yield pd.DataFrame(rows, columns=[
                "doc_id", "width", "height", "mean_r", "mean_g", "mean_b",
                "max_pixel", "decode_ok"])

    return media.select("doc_id", "payload").mapInPandas(
        run, schema=PPM_FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_n_bytes: int = 64,
                 max_frames: int = 8) -> DataFrame:
    """Video 'frame sampling' plumbing: one output row per sampled
    frame offset (JVM-side sequence over metadata — the payload is
    never touched until a downstream decode, so Catalyst prunes
    non-video rows before any byte moves)."""
    frames = F.sequence(
        F.lit(0),
        F.least(F.lit(max_frames - 1),
                (F.length("payload") / every_n_bytes).cast("int")))
    return (media.where(F.col("mime").startswith("video"))
            .select("media_id", "doc_id",
                    F.posexplode(frames).alias("frame_no", "_i"))
            .select("media_id", "doc_id", "frame_no",
                    (F.col("frame_no") * every_n_bytes).alias("byte_offset")))


def media_stats(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata aggregate (no decode): per-mime payload size
    and dimension stats — the pruning-side profile a pipeline runs
    before deciding what to decode."""
    return (media.groupBy("mime")
            .agg(F.count("*").cast("long").alias("n"),
                 F.sum(F.length("payload")).cast("long").alias("total_bytes"),
                 F.round(F.avg(F.length("payload")), 4).alias("avg_bytes"),
                 F.max("width").alias("max_width"),
                 F.max("height").alias("max_height")))
