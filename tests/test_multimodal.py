"""Multimodal plumbing gates: the binary-column → Arrow batch → feature
pipeline is deterministic, partitioning-invariant, and the strict mode
fails exactly at the decoder hook."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from search_engine_spark.operators.multimodal import (FEATURE_DIM,
                                                      decode_features,
                                                      frame_sample,
                                                      media_stats,
                                                      synthetic_media)


@pytest.fixture(scope="module")
def media(spark):
    return synthetic_media(spark, n=48).cache()


def test_decode_features_shape_and_determinism(spark, media):
    f1 = decode_features(media).collect()
    assert len(f1) == 48
    for r in f1:
        assert r.decode_ok and len(r.features) == FEATURE_DIM
        assert r.n_bytes > 0
    # partitioning-invariant: same rows under a different layout
    f2 = decode_features(media.repartition(7)).collect()
    k = lambda rows: sorted((r.media_id, tuple(r.features)) for r in rows)  # noqa: E731
    assert k(f1) == k(f2)


def test_strict_mode_raises_at_decoder_hook(spark, media):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException
    with pytest.raises((PythonException, Py4JJavaError)) as ei:
        decode_features(media, strict=True).collect()
    assert "NotImplementedError" in str(ei.value)


def test_frame_sample_only_touches_video_metadata(spark, media):
    fs = frame_sample(media, every_n_bytes=64, max_frames=4)
    rows = fs.collect()
    assert len(rows) > 0
    n_video = media.where(F.col("mime").startswith("video")).count()
    assert {r.media_id for r in rows} == set(
        r.media_id for r in media.where(F.col("mime").startswith("video")).collect())
    assert all(0 <= r.frame_no < 4 and r.byte_offset == r.frame_no * 64 for r in rows)
    assert len(rows) <= n_video * 4


def test_media_stats_metadata_only(spark, media):
    st = {r.mime: r for r in media_stats(media).collect()}
    assert set(st) == {"image/png", "image/jpeg", "audio/wav", "video/mp4"}
    assert all(r.n == 12 and r.total_bytes > 0 for r in st.values())
    assert st["image/png"].max_width is not None
    assert st["audio/wav"].max_width is None


def test_wav_roundtrip_and_malformed():
    """The REAL RIFF/PCM16 codec: exact round-trip of samples and rate;
    malformed containers raise ValueError (never a crash downstream)."""
    import numpy as np
    from search_engine_spark.operators.multimodal import parse_wav, wav_bytes
    s = np.array([-32768, -1, 0, 1, 32767, 12345], dtype=np.int16)
    rate, n_ch, got = parse_wav(wav_bytes(s, sample_rate=11000))
    assert rate == 11000 and n_ch == 1 and (got == s).all()
    for bad in (b"", b"RIFFxxxx", b"RIFF" + b"\x00" * 64,
                wav_bytes(s)[:30], wav_bytes(s)[:-3]):
        with pytest.raises(ValueError):
            parse_wav(bad)


def test_ppm_roundtrip_and_malformed():
    import numpy as np
    from search_engine_spark.operators.multimodal import parse_ppm, ppm_bytes
    px = (np.arange(4 * 3 * 3) % 256).astype(np.uint8).reshape(4, 3, 3)
    got = parse_ppm(ppm_bytes(px))
    assert got.shape == (4, 3, 3) and (got == px).all()
    for bad in (b"", b"P5\n1 1\n255\n\x00" * 3, ppm_bytes(px)[:-5],
                b"P6\n2 2\n127\n" + b"\x00" * 12):
        with pytest.raises(ValueError):
            parse_ppm(bad)


def test_wav_gate_pipeline_matches_python(spark):
    """media_from_documents → decode_wav_features equals a pure-Python
    recomputation from md5(text) — the same identity the DuckDB oracle
    gate checks, pinned here at unit level."""
    import hashlib
    import numpy as np
    from search_engine_spark.operators.multimodal import (
        decode_wav_features, media_from_documents)
    rows = [(i, f"turn text {i} " * (1 + i % 3)) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           decode_wav_features(media_from_documents(docs)).collect()}
    assert len(got) == 20
    for doc_id, text in rows:
        d = np.frombuffer(hashlib.md5(text.encode()).digest(), dtype=np.uint8)
        s = (d.astype(np.int64) - 128) * 256
        r = got[doc_id]
        assert r.decode_ok and r.n_samples == 16
        assert r.sample_rate == 8000 + doc_id % 8 * 1000
        assert r.min_sample == int(s.min()) and r.max_sample == int(s.max())
        assert abs(r.mean_sample - round(float(s.mean()), 6)) < 1e-9


def test_ppm_gate_pipeline_matches_python(spark):
    """media_ppm_from_documents → decode_ppm_features equals a pure-
    Python recomputation from md5(text) — the unit-level twin of the
    media_ppm_features oracle gate."""
    import hashlib
    import numpy as np
    from search_engine_spark.operators.multimodal import (
        decode_ppm_features, media_ppm_from_documents)
    rows = [(i, f"turn text {i} " * (1 + i % 4)) for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           decode_ppm_features(media_ppm_from_documents(docs)).collect()}
    assert len(got) == 20
    for doc_id, text in rows:
        w = 1 + doc_id % 3
        d = np.frombuffer(hashlib.md5(text.encode()).digest(),
                          dtype=np.uint8)[: 3 * w].astype(np.float64)
        r = got[doc_id]
        assert r.decode_ok and (r.width, r.height) == (w, 1)
        assert r.max_pixel == int(d.max())
        for ch, name in enumerate(("mean_r", "mean_g", "mean_b")):
            assert abs(getattr(r, name)
                       - round(float(d[ch::3].mean()), 6)) < 1e-9


def test_pluggable_decoder_contains_failures_per_row(spark):
    """The decoder= hook contract (VERDICT r3 #6): a real decoder
    stand-in (builtin_decoder) decodes the mimes it supports, and an
    UNSUPPORTED mime under strict=True fails per-row (decode_ok=False,
    zero features) — the batch is never killed."""
    import numpy as np

    from search_engine_spark.operators.multimodal import (builtin_decoder,
                                                          wav_bytes)

    wav = wav_bytes(np.arange(16, dtype=np.int16), 8000)
    rows = [(1, "audio/wav", bytearray(wav)),
            (2, "image/png", bytearray(b"\x89PNG fake")),   # unsupported mime
            (3, "audio/wav", bytearray(b"not riff at all"))]  # malformed payload
    media = spark.createDataFrame(
        rows, "media_id long, mime string, payload binary")
    got = {r.media_id: r for r in
           decode_features(media, strict=True,
                           decoder=builtin_decoder).collect()}
    assert got[1].decode_ok and any(abs(x) > 0 for x in got[1].features)
    assert not got[2].decode_ok and all(x == 0.0 for x in got[2].features)
    assert not got[3].decode_ok and all(x == 0.0 for x in got[3].features)
    assert all(len(got[i].features) == FEATURE_DIM for i in (1, 2, 3))
    # expected WAV features come straight from the pure-Python decoder
    exp = builtin_decoder(wav, "audio/wav")
    assert np.allclose(got[1].features, exp, atol=1e-6)


def test_pluggable_decoder_ppm_roundtrip(spark):
    import numpy as np

    from search_engine_spark.operators.multimodal import (builtin_decoder,
                                                          ppm_bytes)

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    media = spark.createDataFrame(
        [(7, "image/x-portable-pixmap", bytearray(ppm_bytes(px)))],
        "media_id long, mime string, payload binary")
    [row] = decode_features(media, decoder=builtin_decoder).collect()
    assert row.decode_ok
    assert np.allclose(row.features, builtin_decoder(ppm_bytes(px),
                                                     "image/x-portable-pixmap"),
                       atol=1e-6)


def test_png_roundtrip_all_filters_and_malformed():
    """The REAL PNG codec (stdlib zlib): exact pixel round-trip across
    gray/RGB/RGBA shapes with every scanline filter type (incl. Paeth),
    CRC verification, and ValueError on corrupt/truncated payloads."""
    import struct
    import zlib

    import numpy as np

    from search_engine_spark.operators.multimodal import parse_png, png_bytes
    rng = np.random.default_rng(7)
    for h, w, ch in [(1, 1, 1), (2, 5, 3), (6, 4, 4), (5, 1, 3)]:
        px = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
        filters = [int(x) for x in rng.integers(0, 5, h)]
        got = parse_png(png_bytes(px, filters=filters))
        assert got.shape == (h, w, ch) and (got == px).all()
    # every filter type exercised on the same image, one per row
    px = rng.integers(0, 256, (5, 8, 3), dtype=np.uint8)
    assert (parse_png(png_bytes(px, filters=[0, 1, 2, 3, 4])) == px).all()
    enc = png_bytes(px)
    corrupted = bytearray(enc)
    corrupted[20] ^= 1  # flip a bit inside IHDR → CRC must catch it
    # an IHDR chunk of the wrong length with a VALID CRC must still
    # raise ValueError (not struct.error) before it is unpacked
    ihdr = enc[16:29] + b"\x00"
    long_ihdr = (enc[:8] + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
                  + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)) + enc[33:])
    for bad in (b"", b"\x89PNG\r\n\x1a\n", enc[:40], bytes(corrupted),
                enc.replace(b"IEND", b"IXXX"), long_ihdr):
        with pytest.raises(ValueError):
            parse_png(bad)


def test_png_gate_pipeline_matches_python(spark):
    """decode_png_features over the md5-derived PNG side-table equals a
    pure-Python recomputation from the texts (the gate's oracle twin)."""
    import hashlib

    import numpy as np

    from search_engine_spark.operators.multimodal import (
        decode_png_features, media_png_from_documents)
    rows = [(i, f"text number {i} {'x' * (i % 5)}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           decode_png_features(media_png_from_documents(docs)).collect()}
    assert len(got) == 40
    for doc_id, text in rows:
        digest = hashlib.md5(text.encode()).digest()
        w = 2 + doc_id % 3
        n = 6 * w
        px = np.frombuffer((digest * (n // 16 + 1))[:n], dtype=np.uint8)
        r = got[doc_id]
        assert r.decode_ok and r.width == w and r.height == 2
        assert r.max_pixel == int(px.max())
        assert abs(r.mean_r - px[0::3].mean()) < 1e-6
        assert abs(r.mean_g - px[1::3].mean()) < 1e-6
        assert abs(r.mean_b - px[2::3].mean()) < 1e-6


def test_au_mulaw_roundtrip_and_anchors():
    """The REAL Sun AU / G.711 µ-law codec: standard-table anchor
    values, container round-trip, ValueError on malformed."""
    import numpy as np

    from search_engine_spark.operators.multimodal import (au_bytes,
                                                          mulaw_to_linear,
                                                          parse_au)
    anchors = mulaw_to_linear(np.array([0x00, 0xFF, 0x80], dtype=np.uint8))
    assert list(anchors) == [-32124, 0, 32124]
    rate, n_ch, s = parse_au(au_bytes(bytes(range(256)), 11000))
    assert rate == 11000 and n_ch == 1 and s.size == 256
    assert (s == mulaw_to_linear(np.arange(256, dtype=np.uint8))).all()
    enc = au_bytes(b"abcdef")
    for bad in (b"", b".sndxxxx", enc[:20], enc[:-2]):
        with pytest.raises(ValueError):
            parse_au(bad)


def test_au_gate_pipeline_matches_python(spark):
    """decode_au_features over the md5-derived AU side-table equals a
    pure-Python recomputation (the gate's oracle twin)."""
    import hashlib

    import numpy as np

    from search_engine_spark.operators.multimodal import (
        decode_au_features, media_au_from_documents, mulaw_to_linear)
    rows = [(i, f"au doc {i}") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           decode_au_features(media_au_from_documents(docs)).collect()}
    for doc_id, text in rows:
        s = mulaw_to_linear(np.frombuffer(
            hashlib.md5(text.encode()).digest(), dtype=np.uint8))
        r = got[doc_id]
        assert r.decode_ok and r.n_samples == 16
        assert r.sample_rate == 8000 + doc_id % 5 * 1000
        assert r.min_sample == int(s.min()) and r.max_sample == int(s.max())
        assert abs(r.mean_sample - s.astype(float).mean()) < 1e-6


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 8), w=st.integers(1, 8),
    ch=st.sampled_from([1, 3, 4]),
    data=st.data(),
)
def test_png_roundtrip_property(h, w, ch, data):
    """Property: ANY 8-bit image with ANY per-row filter choice
    round-trips bit-exactly through the PNG codec."""
    import numpy as np

    from search_engine_spark.operators.multimodal import parse_png, png_bytes
    px = np.array(
        data.draw(st.lists(st.integers(0, 255), min_size=h * w * ch,
                           max_size=h * w * ch)),
        dtype=np.uint8).reshape(h, w, ch)
    filters = data.draw(st.lists(st.integers(0, 4), min_size=h, max_size=h))
    got = parse_png(png_bytes(px, filters=filters))
    assert got.shape == (h, w, ch) and (got == px).all()


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=64), st.integers(1, 96000))
def test_au_roundtrip_property(ulaw, rate):
    """Property: any µ-law byte stream round-trips through the AU
    container, and the expansion matches the scalar G.711 formula."""
    import numpy as np

    from search_engine_spark.operators.multimodal import au_bytes, parse_au
    got_rate, n_ch, s = parse_au(au_bytes(ulaw, rate))
    assert got_rate == rate and n_ch == 1 and s.size == len(ulaw)
    for b, v in zip(ulaw, s):
        u = ~b & 0xFF
        mag = ((((u & 15) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
        assert int(v) == (-mag if (u & 0x80) else mag)
