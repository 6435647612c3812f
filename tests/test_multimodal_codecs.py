"""Real-codec tests for the multimodal decode path: genuine PCM WAV and
binary PPM payloads are GENERATED here (stdlib only), decoded by the
pure-numpy codecs, and pushed end-to-end through the Spark mapInPandas
featurizer — proving the decode contract against real bytes, not stubs.
The byte-level fallback remains pinned for undecodable mimes/payloads.
"""

from __future__ import annotations

import math
import struct
import wave
from io import BytesIO

import pytest

from factory_inspectors_db_etl_spark.operators.multimodal import (
    _byte_features,
    decode_and_featurize,
    decode_ppm,
    decode_wav_pcm,
)


def make_wav(n_channels=1, sample_rate=8000, freq=440.0, n_frames=800, amp=12000):
    """A genuine PCM WAV via the stdlib wave writer (independent of the
    parser under test)."""
    buf = BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        frames = bytearray()
        for i in range(n_frames):
            s = int(amp * math.sin(2 * math.pi * freq * i / sample_rate))
            for _ in range(n_channels):
                frames += struct.pack("<h", s)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def make_ppm(w=4, h=2, pixels=None, comment=False):
    header = b"P6\n" + (b"# a comment\n" if comment else b"")
    header += f"{w} {h}\n255\n".encode()
    if pixels is None:
        pixels = [(255, 0, 0)] * (w * h)
    return header + b"".join(bytes(p) for p in pixels)


def test_wav_decode_features_match_independent_math():
    n_frames, rate = 800, 8000
    payload = make_wav(n_channels=1, sample_rate=rate, n_frames=n_frames)
    f = decode_wav_pcm(payload)
    assert f[0] == 1.0 and f[1] == rate / 1000 and f[2] == n_frames
    # independent recompute from the same generator math
    samples = [
        int(12000 * math.sin(2 * math.pi * 440.0 * i / rate)) for i in range(n_frames)
    ]
    assert f[3] == sum(abs(s) for s in samples) / (n_frames * 32768)
    assert f[4] == 0.0  # mono
    assert f[5] == max(abs(s) for s in samples) / 32768
    zc = sum((a < 0) != (b < 0) for a, b in zip(samples, samples[1:]))
    assert f[6] == zc / (n_frames - 1)
    assert f[7] == n_frames / rate


def test_wav_decode_stereo_and_alignment():
    payload = make_wav(n_channels=2, n_frames=101)  # odd frame count
    f = decode_wav_pcm(payload)
    assert f[0] == 2.0 and f[2] == 101 and f[4] > 0


def test_wav_rejects_non_wav():
    for junk in (b"", b"not audio at all", b"RIFF1234WAVEbroken"):
        with pytest.raises(ValueError):
            decode_wav_pcm(junk)


def test_ppm_decode_features_exact():
    # 4x2: top row red, bottom row (0, 128, 255)
    px = [(255, 0, 0)] * 4 + [(0, 128, 255)] * 4
    f = decode_ppm(make_ppm(4, 2, px))
    assert f[:3] == [4.0, 2.0, 3.0]
    assert f[3] == (255 * 4) / (8 * 255)  # mean R
    assert f[4] == (128 * 4) / (8 * 255)  # mean G
    assert f[5] == (255 * 4) / (8 * 255)  # mean B
    assert f[7] == 2.0  # aspect


def test_ppm_header_comment_and_rejects():
    assert decode_ppm(make_ppm(comment=True))[0] == 4.0
    for junk in (b"P5 2 2 255 ....", b"P6\n4 2\n255\nshort"):
        with pytest.raises(ValueError):
            decode_ppm(junk)


def test_featurizer_uses_real_codecs_end_to_end(spark):
    """Through Spark: real WAV/PPM payloads get DECODED features; a text
    payload with a wav mime falls back to byte features; png stays on
    the fallback (no native codec)."""
    wav = make_wav()
    ppm = make_ppm()
    rows = [
        (1, bytearray(wav), ("audio/wav", 0, 0, 1)),
        (2, bytearray(ppm), ("image/ppm", 4, 2, 1)),
        (3, bytearray(b"just some text"), ("audio/wav", 0, 0, 1)),
        (4, bytearray(b"png-ish bytes"), ("image/png", 64, 64, 1)),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, payload binary, "
        "meta struct<mime:string,width:int,height:int,n_frames:int>",
    )
    out = {r["doc_id"]: r for r in decode_and_featurize(df).collect()}
    assert out[1]["features"] == decode_wav_pcm(wav)
    assert out[2]["features"] == decode_ppm(ppm)
    assert out[3]["features"] == _byte_features(b"just some text")
    assert out[4]["features"] == _byte_features(b"png-ish bytes")
    assert out[1]["n_bytes"] == len(wav)


def test_codecs_reject_degenerate_headers_without_crashing():
    """Review findings: structurally-valid-but-degenerate headers must
    raise ValueError (-> featurizer fallback), never ZeroDivisionError."""
    # WAV with sample_rate=0: RIFF/WAVE + fmt(PCM,1ch,rate0,16bit) + data
    fmt = struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16)
    wav0 = (
        b"RIFF" + struct.pack("<I", 36 + 4) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 4) + b"\x01\x00\x02\x00"
    )
    with pytest.raises(ValueError):
        decode_wav_pcm(wav0)
    # PPM with zero / negative dimensions
    for hdr in (b"P6\n0 0\n255\n", b"P6\n4 -1\n255\n" + b"\x00" * 48):
        with pytest.raises(ValueError):
            decode_ppm(hdr)


def test_payload_rules_are_codepoint_based_unicode_exact(spark):
    """ADVICE r6: the PNG/WAV/MP4 payload rules used utf-8 BYTES while
    their DuckDB oracles replay per CHARACTER (length(text),
    ascii(substr)) — they agreed only because the driver corpus is
    ASCII.  Pin the fix: for non-ASCII text the generated payloads
    decode to exactly the per-character codepoint%256 rule, so the
    char-based oracles are Unicode-correct, not ASCII-lucky."""
    from factory_inspectors_db_etl_spark.operators.multimodal import (
        decode_png,
        parse_mp4,
        wav_frame_energies,
        with_mp4_payload,
        with_png_payload,
        with_wav_payload,
    )

    text = "héllo→мир😀"  # 1/2/3/4-byte utf-8 chars
    docs = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    codes = [ord(c) % 256 for c in text]
    L = len(text)  # 10 CHARACTERS (utf-8 would be 19 bytes)

    # PNG: pixel[j-th byte] = codes[j % L]
    png = with_png_payload(docs).collect()[0]
    w, h = 7 % 5 + 3, 7 % 4 + 2
    feats = decode_png(bytes(png["payload"]))
    n = w * h * 3
    want_mean_all = sum(codes[j % L] for j in range(n)) / (n * 255)
    assert feats[0] == float(w) and feats[1] == float(h)
    assert abs(feats[6] - want_mean_all) < 1e-12

    # WAV: s[i] = (codes[i % L] * ((i % 7) + 1)) % 4096 - 2048
    wav = with_wav_payload(docs).collect()[0]
    nsamp = (7 % 5 + 2) * 64
    s = [(codes[i % L] * ((i % 7) + 1)) % 4096 - 2048 for i in range(nsamp)]
    want_energies = [
        sum(v * v for v in s[f * 64 : (f + 1) * 64]) for f in range(nsamp // 64)
    ]
    assert wav_frame_energies(bytes(wav["payload"]), 64) == want_energies

    # MP4: duration counts CHARACTERS; mdat is first-16-chars codepoint bytes
    mp4 = with_mp4_payload(docs).collect()[0]
    m = parse_mp4(bytes(mp4["payload"]))
    assert m["duration"] == (7 % 9 + 1) * 1000 + L
    assert m["mdat_bytes"] == min(L, 16)
