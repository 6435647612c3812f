"""Multimodal column pattern (extension M6).

Media (image/audio/video) ride through the engine as opaque ``binary``
payload columns plus a typed metadata struct — the storage pattern used by
large-scale training-data pipelines.  The *plumbing* (schema, partitioning,
Arrow batch shape, UDF signatures) is fully real and tested; the codec
step is REAL for formats parseable with pure stdlib/numpy — PCM WAV
(``decode_wav_pcm`` + ``encode_wav`` + ``wav_frame_energies``), binary
PPM (``decode_ppm``), PNG (``encode_png``/``decode_png``: zlib, CRC, all
five scanline filters), and MP4/ISO-BMFF container demux
(``encode_mp4_min``/``parse_mp4``: box-tree walk, mvhd/tkhd extraction;
codec FRAME decode is the declared fallback — H.264 et al. genuinely
need external libraries), plus baseline JPEG (``operators.jpeg``:
Huffman + dequant + IDCT + chroma upsample + YCbCr->RGB) and 24-bit
BI_RGB BMP (``encode_bmp``/``decode_bmp``: stride padding, BGR order,
both row directions) — and falls back to a deterministic byte-level
featurizer for the remaining codec-compressed formats (H.264 frames,
progressive JPEG) or payloads whose bytes don't match their claimed
mime.

* ``with_payload`` manufactures a deterministic binary payload + metadata
  struct from the ``documents`` table (so every test table works at any
  scale factor).
* ``decode_and_featurize`` is the mapInPandas feature extractor: Arrow
  batches in, one feature row per media item out.  The real decoder is
  gated behind an import-try; without the codec libs it falls back to a
  deterministic byte-level featurizer (documented, test-pinned).
* ``sample_frames`` shows the one->many (frame sampling) UDTF shape.

Scale notes: payloads never pass through Python row-at-a-time — only
Arrow-batched mapInPandas; metadata lives in a separate struct column so
filters on it prune without touching payload bytes (parquet column
pruning drops the heavy binary column from the scan when unreferenced).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .gif import decode_gif, encode_gif
from .jpeg import decode_jpeg, encode_jpeg

META_TYPE = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("payload_md5", T.StringType()),
        T.StructField("mean_byte", T.DoubleType()),
        # double, not float: the feature values are exact int-count /
        # int-total ratios, and keeping them float64 end-to-end makes the
        # registered query bit-identical to the DuckDB oracle (a float32
        # roundtrip perturbs ~3% of values across a round-6 boundary)
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)

_MIMES = ["image/png", "audio/wav", "video/mp4"]


def with_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach a deterministic binary payload + typed metadata struct.

    The payload is the utf-8 encoding of the text (a stand-in for real
    media bytes); metadata fields derive from the id so they are stable
    across engines and scale factors.
    """
    did = F.col(id_col)
    return docs.select(
        did,
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.struct(
            F.element_at(F.array(*[F.lit(m) for m in _MIMES]), (did % 3 + 1).cast("int")).alias("mime"),
            ((did % 8 + 1) * 64).cast("int").alias("width"),
            ((did % 4 + 1) * 64).cast("int").alias("height"),
            (did % 7 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def decode_wav_pcm(payload: bytes, n_features: int = 8) -> list[float]:
    """REAL audio decode for PCM WAV (RIFF) payloads — pure stdlib/numpy,
    no external codec library.  Parses the RIFF chunk list (fmt + data),
    validates 16-bit integer PCM, and extracts content features as exact
    integer-ratio float64s:

      [n_channels, sample_rate/1000, frames, mean|amp| ch0 /32768,
       mean|amp| ch1 /32768 (0 if mono), max|amp|/32768,
       zero-crossing rate ch0, duration seconds]

    Raises ValueError on anything that is not a PCM WAV — the
    featurizer then falls back to byte-level features, so arbitrary
    binary payloads never crash the pipeline."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16 or n_channels not in (1, 2):
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    if sample_rate <= 0:
        raise ValueError("non-positive sample rate")
    samples = np.frombuffer(data[: len(data) - len(data) % (2 * n_channels)], dtype="<i2")
    frames = samples.reshape(-1, n_channels)
    n = len(frames)
    if n == 0:
        raise ValueError("empty data chunk")
    absf = np.abs(frames.astype("int64"))
    ch0 = frames[:, 0]
    zc = int(np.count_nonzero(np.signbit(ch0[1:]) != np.signbit(ch0[:-1])))
    feats = [
        float(n_channels),
        sample_rate / 1000.0,
        float(n),
        int(absf[:, 0].sum()) / (n * 32768),
        (int(absf[:, 1].sum()) / (n * 32768)) if n_channels == 2 else 0.0,
        int(absf.max()) / 32768,
        zc / (n - 1) if n > 1 else 0.0,
        n / sample_rate,
    ]
    return (feats + [0.0] * n_features)[:n_features]


def _parse_ppm(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Parse a binary PPM (P6) payload -> (w, h, maxval, h×w×3 uint8
    array).  Header = magic, width, height, maxval as whitespace-separated
    ASCII tokens; '#' starts a comment through end-of-line.  Raises
    ValueError for anything that is not a well-formed P6."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    tokens, pos = [], 2
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
    if len(tokens) < 3:
        raise ValueError("truncated PPM header")
    w, h, maxval = tokens
    if w <= 0 or h <= 0:
        raise ValueError("non-positive PPM dimensions")
    if maxval <= 0 or maxval > 255:
        raise ValueError("bad PPM maxval")
    pos += 1  # single whitespace after maxval
    raster = payload[pos : pos + w * h * 3]
    if len(raster) < w * h * 3:
        raise ValueError("bad PPM raster")
    return w, h, maxval, np.frombuffer(raster, dtype="u1").reshape(h, w, 3)


def decode_ppm(payload: bytes, n_features: int = 8) -> list[float]:
    """REAL image decode for binary PPM (P6) payloads — pure
    stdlib/numpy.  Parses the ASCII header (magic, width, height,
    maxval, with comment support), reshapes the raw RGB plane, and
    extracts exact integer-ratio features:

      [width, height, 3, mean R/maxval, mean G/maxval, mean B/maxval,
       overall mean/maxval, aspect ratio]

    Raises ValueError for non-P6 payloads (fallback path, as with WAV)."""
    w, h, maxval, px8 = _parse_ppm(payload)
    px = px8.astype("int64")
    npx = w * h
    feats = [
        float(w),
        float(h),
        3.0,
        int(px[:, :, 0].sum()) / (npx * maxval),
        int(px[:, :, 1].sum()) / (npx * maxval),
        int(px[:, :, 2].sum()) / (npx * maxval),
        int(px.sum()) / (npx * 3 * maxval),
        w / h,
    ]
    return (feats + [0.0] * n_features)[:n_features]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib as _z

    return (
        len(body).to_bytes(4, "big")
        + ctype
        + body
        + _z.crc32(ctype + body).to_bytes(4, "big")
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """REAL PNG encoder for 8-bit RGB images — pure stdlib zlib + numpy,
    no codec library.  ``pixels`` is an (h, w, 3) uint8 array.  Each
    scanline is written with filter type ``row % 5`` (None/Sub/Up/
    Average/Paeth in rotation) so a round-trip through ``decode_png``
    exercises every un-filter path, and the zlib stream is level-9 fixed
    settings — byte-deterministic for a given pixel array."""
    import zlib as _z

    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_png needs an (h, w, 3) uint8 array")
    h, w = pixels.shape[:2]
    px = pixels.astype("int64")
    raw = bytearray()
    prev = np.zeros((w, 3), dtype="int64")
    for y in range(h):
        row = px[y]
        ftype = y % 5
        left = np.vstack([np.zeros((1, 3), dtype="int64"), row[:-1]])
        upleft = np.vstack([np.zeros((1, 3), dtype="int64"), prev[:-1]])
        if ftype == 0:
            out = row
        elif ftype == 1:  # Sub
            out = row - left
        elif ftype == 2:  # Up
            out = row - prev
        elif ftype == 3:  # Average
            out = row - (left + prev) // 2
        else:  # Paeth
            out = row - _paeth_predictor(left, prev, upleft)
        raw.append(ftype)
        raw.extend((out % 256).astype("u1").tobytes())
        prev = row
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([8, 2, 0, 0, 0])  # bit depth 8, color type 2 (RGB)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


def _paeth_predictor(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor (PNG spec §9.4), vectorized: a=left, b=up,
    c=up-left; all int64 arrays in [0, 255]."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _parse_png(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse an 8-bit RGB PNG -> (w, h, h×w×3 uint8 array).  Full real
    decode: signature, chunk walk with CRC verification, IHDR
    validation, IDAT concatenation, zlib inflate, and per-scanline
    un-filtering of all five PNG filter types (None/Sub/Up/Average/
    Paeth).  Raises ValueError for anything that is not a supported
    PNG — interlacing, palettes, and non-8-bit depths are out of scope
    (fallback path, as with WAV/PPM)."""
    import zlib as _z

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(_PNG_SIG), None, bytearray()
    while pos + 8 <= len(payload):
        size = int.from_bytes(payload[pos : pos + 4], "big")
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        crc = payload[pos + 8 + size : pos + 12 + size]
        if len(body) < size or len(crc) < 4:
            raise ValueError("truncated PNG chunk")
        if _z.crc32(ctype + body) != int.from_bytes(crc, "big"):
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, color, _comp, _filt, interlace = ihdr[8:13]
    if depth != 8 or color != 2 or interlace != 0:
        raise ValueError(f"unsupported PNG (depth={depth}, color={color}, interlace={interlace})")
    if w <= 0 or h <= 0:
        raise ValueError("non-positive PNG dimensions")
    raw = _z.decompress(bytes(idat))
    stride = 1 + w * 3
    if len(raw) < h * stride:
        raise ValueError("short PNG raster")
    out = np.zeros((h, w, 3), dtype="int64")
    prev = np.zeros((w, 3), dtype="int64")
    for y in range(h):
        line = raw[y * stride : (y + 1) * stride]
        ftype = line[0]
        cur = np.frombuffer(line[1:], dtype="u1").astype("int64").reshape(w, 3)
        if ftype == 0:
            row = cur
        elif ftype == 2:  # Up
            row = (cur + prev) % 256
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth need the running left pixel
            row = np.zeros((w, 3), dtype="int64")
            left = np.zeros(3, dtype="int64")
            for x in range(w):
                upleft = prev[x - 1] if x else np.zeros(3, dtype="int64")
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + prev[x]) // 2
                else:
                    pred = _paeth_predictor(
                        left.reshape(1, 3), prev[x].reshape(1, 3), upleft.reshape(1, 3)
                    )[0]
                row[x] = (cur[x] + pred) % 256
                left = row[x]
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = row
        prev = row
    return w, h, out.astype("u1")


def decode_png(payload: bytes, n_features: int = 8) -> list[float]:
    """REAL image decode for 8-bit RGB PNG payloads (``_parse_png``) —
    same feature contract as ``decode_ppm``:

      [width, height, 3, mean R/255, mean G/255, mean B/255,
       overall mean/255, aspect ratio]

    Every mean is an exact integer-sum / integer-total ratio with one
    trailing IEEE division, so features are bit-deterministic and
    SQL-reproducible from the source pixels.  Raises ValueError for
    non-PNG payloads (fallback path, as with WAV/PPM)."""
    w, h, px8 = _parse_png(payload)
    px = px8.astype("int64")
    npx = w * h
    feats = [
        float(w),
        float(h),
        3.0,
        int(px[:, :, 0].sum()) / (npx * 255),
        int(px[:, :, 1].sum()) / (npx * 255),
        int(px[:, :, 2].sum()) / (npx * 255),
        int(px.sum()) / (npx * 3 * 255),
        w / h,
    ]
    return (feats + [0.0] * n_features)[:n_features]


def _box(btype: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def encode_mp4_min(
    timescale: int, duration: int, width: int, height: int, mdat: bytes = b""
) -> bytes:
    """Minimal REAL ISO BMFF (MP4) container writer: ftyp +
    moov(mvhd + trak(tkhd)) + mdat, canonical big-endian box sizes,
    version-0 full boxes.  No codec frames — the container level is
    what a data pipeline demuxes (duration, track geometry, sample
    offsets); frame decode stays the declared fallback."""
    ftyp = _box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isom")
    mvhd_body = (
        bytes(4)  # version 0 + flags
        + bytes(8)  # creation, modification
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")  # rate 1.0
        + (0x0100).to_bytes(2, "big")  # volume 1.0
        + bytes(10)  # reserved
        + b"".join(x.to_bytes(4, "big") for x in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
        + bytes(24)  # pre_defined
        + (2).to_bytes(4, "big")  # next_track_id
    )
    tkhd_body = (
        (0x00000007).to_bytes(4, "big")  # version 0, flags: enabled|in-movie|in-preview
        + bytes(8)  # creation, modification
        + (1).to_bytes(4, "big")  # track_id
        + bytes(4)  # reserved
        + duration.to_bytes(4, "big")
        + bytes(8)  # reserved
        + bytes(2)  # layer
        + bytes(2)  # alternate_group
        + bytes(2)  # volume (0 for video)
        + bytes(2)  # reserved
        + b"".join(x.to_bytes(4, "big") for x in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000))
        + (width << 16).to_bytes(4, "big")  # 16.16 fixed
        + (height << 16).to_bytes(4, "big")
    )
    moov = _box(b"moov", _box(b"mvhd", mvhd_body) + _box(b"trak", _box(b"tkhd", tkhd_body)))
    return ftyp + moov + _box(b"mdat", mdat)


def parse_mp4(payload: bytes) -> dict:
    """REAL ISO BMFF box-walk: validates the size-prefixed box tree
    (every box must fit exactly, first box must be ftyp), recurses into
    container boxes, and extracts mvhd timescale/duration and tkhd
    track geometry.  Raises ValueError on anything that is not BMFF —
    the featurizer falls back to byte features, same contract as the
    WAV/PPM/PNG decoders.  Nesting is capped at 32 container levels
    (real files use ~5): deeper trees raise ValueError, never
    RecursionError — adversarial nested-'moov' bytes must take the
    byte-fallback path like every other malformed payload."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF payload (no leading ftyp)")
    containers = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}
    out: dict = {"n_boxes": 0}

    def walk(buf: bytes, depth: int = 0) -> None:
        if depth > 32:
            raise ValueError("box nesting too deep (>32 levels)")
        pos = 0
        while pos < len(buf):
            if pos + 8 > len(buf):
                raise ValueError("truncated box header")
            size = int.from_bytes(buf[pos : pos + 4], "big")
            btype = buf[pos + 4 : pos + 8]
            if size < 8 or pos + size > len(buf):
                raise ValueError(f"box {btype!r} size {size} overruns buffer")
            body = buf[pos + 8 : pos + size]
            out["n_boxes"] += 1
            if btype == b"mvhd":
                if len(body) < 20 or body[0] != 0:
                    raise ValueError("unsupported mvhd")
                out["timescale"] = int.from_bytes(body[12:16], "big")
                out["duration"] = int.from_bytes(body[16:20], "big")
            elif btype == b"tkhd":
                if len(body) < 84 or body[0] != 0:
                    raise ValueError("unsupported tkhd")
                out["width"] = int.from_bytes(body[76:80], "big") >> 16
                out["height"] = int.from_bytes(body[80:84], "big") >> 16
            elif btype == b"mdat":
                out["mdat_bytes"] = len(body)
            if btype in containers:
                walk(body, depth + 1)
            pos += size

    walk(payload)
    if "timescale" not in out:
        raise ValueError("no mvhd found")
    return out


def decode_mp4(payload: bytes, n_features: int = 8) -> list[float]:
    """Feature view of ``parse_mp4`` (the dispatch-table shape shared by
    the WAV/PPM/PNG decoders): [timescale, duration, duration_seconds
    (exact integer ratio), width, height, n_boxes, mdat_bytes]."""
    m = parse_mp4(payload)
    ts = m["timescale"]
    feats = [
        float(ts),
        float(m["duration"]),
        m["duration"] / ts if ts else 0.0,
        float(m.get("width", 0)),
        float(m.get("height", 0)),
        float(m["n_boxes"]),
        float(m.get("mdat_bytes", 0)),
    ]
    return (feats + [0.0] * n_features)[:n_features]


def with_mp4_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach a REAL minimal-MP4 payload per document (Arrow-batched
    ``mapInPandas``) whose container fields replay a SQL-expressible
    rule —

        timescale = 1000,  duration = (doc_id % 9 + 1) * 1000 + len(text)
        width = (doc_id % 5 + 1) * 64,  height = (doc_id % 3 + 1) * 48
        mdat = first 16 characters of the text as codepoint%256 bytes
        (len(text) counted in CHARACTERS — the oracle replays per
        character, so the rule must be codepoint-indexed, not utf-8)

    — same verification design as the PNG/WAV generators: genuine BMFF
    bytes, SQL-replayable content, so a hash-matched ``parse_mp4``
    output proves the box walk end-to-end."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_TYPE),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                did = int(doc_id)
                # CODEPOINT-based rule (ord(c) % 256), not utf-8 bytes:
                # the DuckDB oracle replays it per CHARACTER
                # (length(text), ascii(substr(..))) — byte-based content
                # would silently diverge on any non-ASCII text
                codes = bytes(ord(c) % 256 for c in (text or ""))
                w, h = (did % 5 + 1) * 64, (did % 3 + 1) * 48
                dur = (did % 9 + 1) * 1000 + len(codes)
                rows.append(
                    {
                        "doc_id": did,
                        "payload": encode_mp4_min(1000, dur, w, h, codes[:16]),
                        "meta": {"mime": "video/mp4", "width": w, "height": h, "n_frames": 1},
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "meta"])

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


_CODECS = {
    "audio/wav": decode_wav_pcm,
    "audio/x-wav": decode_wav_pcm,
    "image/ppm": decode_ppm,
    "image/x-portable-pixmap": decode_ppm,
    # real pure-numpy PNG path (round 6); payloads that are not actual
    # PNG bytes (e.g. with_payload's text stand-ins labeled image/png)
    # raise ValueError and take the byte-level fallback, unchanged
    "image/png": decode_png,
    # image/bmp + image/x-ms-bmp register below decode_bmp's definition
    # (round 9): real 24-bit BI_RGB DIB decode — header validation,
    # 4-byte row stride, BGR order, both row directions (±height)
    # real BMFF box-walk (round 6): container demux only — duration,
    # track geometry, mdat size; codec FRAME decode is the declared
    # fallback (H.264 et al. genuinely need external libraries)
    "video/mp4": decode_mp4,
    # real baseline-JPEG decoder (round 7): Huffman + dequant + IDCT +
    # chroma upsample + YCbCr->RGB, pure numpy/stdlib (operators/jpeg.py);
    # progressive/arithmetic profiles raise ValueError -> byte fallback
    "image/jpeg": decode_jpeg,
    "image/jpg": decode_jpeg,
    # real GIF87a/89a decoder (round 7): variable-width LZW with
    # dictionary growth/reset, interlace de-scrambling (operators/gif.py)
    "image/gif": decode_gif,
}


def _decode_real(payload: bytes, mime: str, n_features: int = 8) -> list[float]:
    """Real decode dispatch: PCM WAV, P6 PPM, PNG, baseline JPEG, and
    MP4 containers are decoded natively (pure stdlib/numpy — tested
    with genuine payloads); any other mime raises NotImplementedError so
    the featurizer falls back to byte-level features.  A payload whose
    bytes do not match its claimed mime raises ValueError — also a
    fallback, never a crash."""
    codec = _CODECS.get(mime)
    if codec is None:
        raise NotImplementedError(
            f"no native decoder for {mime!r}; remaining codec-compressed "
            "formats (h264 frames) need external libraries absent from this container"
        )
    return codec(payload, n_features)


def _byte_features(payload: bytes, n_features: int = 8) -> list[float]:
    """Deterministic stand-in features: bucketed byte histogram, L1-normed."""
    if not payload:
        return [0.0] * n_features
    counts = [0] * n_features
    for b in payload:
        counts[b % n_features] += 1
    total = float(len(payload))
    return [c / total for c in counts]


def decode_and_featurize(media: DataFrame, n_features: int = 8) -> DataFrame:
    """mapInPandas feature extraction over (doc_id, payload, meta) batches.

    Tries the real decoder once per batch; on NotImplementedError (no
    codecs) every row gets the deterministic byte-level features, so the
    pipeline shape is testable end-to-end today and upgrades in place.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
                data = bytes(payload) if payload is not None else b""
                try:
                    feats = _decode_real(
                        data, meta["mime"] if meta is not None else "", n_features
                    )
                except (NotImplementedError, ValueError):
                    # no native decoder for the mime, or payload bytes
                    # don't match the claimed mime: byte-level fallback
                    feats = _byte_features(data, n_features)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_bytes": len(data),
                        "payload_md5": hashlib.md5(data).hexdigest(),
                        "mean_byte": (sum(data) / len(data)) if data else 0.0,
                        "features": feats,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    return media.mapInPandas(extract, FEATURE_SCHEMA)


def sample_frames(media: DataFrame, stride: int = 1) -> DataFrame:
    """One->many frame sampling (the video path): emits ``n_frames``/stride
    rows per item, each with a deterministic per-frame digest.  Frame i's
    stand-in bytes are the i-th of n_frames equal contiguous payload
    slices (``data[i*L//n : (i+1)*L//n]``) — contiguous rather than
    strided so the DuckDB oracle can reproduce each digest with plain
    ``md5(substring(...))``."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload, meta in zip(pdf["doc_id"], pdf["payload"], pdf["meta"]):
                data = bytes(payload) if payload is not None else b""
                n = int(meta["n_frames"]) if meta is not None else 0
                length = len(data)
                for i in range(0, n, stride):
                    chunk = data[i * length // n : (i + 1) * length // n] if n else b""
                    rows.append(
                        {
                            "doc_id": doc_id,
                            "frame_idx": i,
                            "frame_md5": hashlib.md5(chunk).hexdigest(),
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return media.mapInPandas(sample, FRAME_SCHEMA)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """REAL BMP (Windows DIB) encoder for 8-bit RGB images — 24-bit
    BI_RGB, BITMAPINFOHEADER, canonical BOTTOM-UP row order, each row
    padded to a 4-byte boundary, channels stored BGR (all per the
    public DIB format).  ``pixels`` is an (h, w, 3) uint8 RGB array.
    Byte-deterministic for a given pixel array (fixed 2835 px/m
    resolution fields)."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("encode_bmp needs an (h, w, 3) uint8 array")
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)
    raster = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        raster.extend(pixels[y, :, ::-1].tobytes())  # RGB -> BGR
        raster.extend(pad)
    info = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little")
        + h.to_bytes(4, "little")  # positive height = bottom-up
        + (1).to_bytes(2, "little")  # planes
        + (24).to_bytes(2, "little")  # bpp
        + (0).to_bytes(4, "little")  # BI_RGB
        + (stride * h).to_bytes(4, "little")
        + (2835).to_bytes(4, "little")  # 72 dpi in px/m
        + (2835).to_bytes(4, "little")
        + (0).to_bytes(4, "little")  # palette colors
        + (0).to_bytes(4, "little")  # important colors
    )
    file_size = 14 + 40 + stride * h
    header = (
        b"BM"
        + file_size.to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (54).to_bytes(4, "little")
    )
    return header + info + bytes(raster)


def _parse_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Parse a 24-bit BI_RGB BMP -> (w, h, h×w×3 uint8 RGB array).
    Full real decode: header validation, pixel-offset honoring,
    4-byte row stride, BGR->RGB, and BOTH row orders (positive height
    = bottom-up, negative = top-down — the format's documented
    variant).  Raises ValueError on anything that is not an
    uncompressed 24-bit DIB."""
    d = bytes(payload)
    if len(d) < 54 or d[:2] != b"BM":
        raise ValueError("bmp: bad magic or truncated header")
    px_off = int.from_bytes(d[10:14], "little")
    bi_size = int.from_bytes(d[14:18], "little")
    if bi_size < 40:
        raise ValueError("bmp: pre-BITMAPINFOHEADER DIBs unsupported")
    w = int.from_bytes(d[18:22], "little", signed=True)
    h_raw = int.from_bytes(d[22:26], "little", signed=True)
    planes = int.from_bytes(d[26:28], "little")
    bpp = int.from_bytes(d[28:30], "little")
    compression = int.from_bytes(d[30:34], "little")
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(
            f"bmp: unsupported profile (planes={planes}, bpp={bpp}, "
            f"compression={compression}) — only 24-bit BI_RGB decodes"
        )
    if w <= 0 or h_raw == 0:
        raise ValueError("bmp: non-positive dimensions")
    h = abs(h_raw)
    stride = (w * 3 + 3) & ~3
    if px_off + stride * h > len(d):
        raise ValueError("bmp: truncated raster")
    rows = np.frombuffer(
        d, dtype="u1", count=stride * h, offset=px_off
    ).reshape(h, stride)[:, : w * 3]
    px = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if h_raw > 0:
        px = px[::-1]  # bottom-up storage -> top-down array
    return w, h, np.ascontiguousarray(px)


def decode_bmp(payload: bytes, n_features: int = 8) -> list[float]:
    """REAL image decode for 24-bit BI_RGB BMP payloads (``_parse_bmp``)
    — same feature contract as ``decode_ppm``/``decode_png``:

      [width, height, 3, mean R/255, mean G/255, mean B/255,
       overall mean/255, aspect ratio]

    Exact integer sums, one trailing IEEE division each — features are
    bit-deterministic and SQL-reproducible from the source pixels.
    Raises ValueError for non-BMP payloads (fallback path)."""
    w, h, px8 = _parse_bmp(payload)
    px = px8.astype("int64")
    npx = w * h
    feats = [
        float(w),
        float(h),
        3.0,
        int(px[:, :, 0].sum()) / (npx * 255),
        int(px[:, :, 1].sum()) / (npx * 255),
        int(px[:, :, 2].sum()) / (npx * 255),
        int(px.sum()) / (npx * 3 * 255),
        w / h,
    ]
    return (feats + [0.0] * n_features)[:n_features]


# registered here because decode_bmp is defined after the _CODECS
# literal (see the placeholder comment there)
_CODECS["image/bmp"] = decode_bmp
_CODECS["image/x-ms-bmp"] = decode_bmp


def with_png_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach a REAL PNG payload per document (Arrow-batched
    ``mapInPandas``): an (h, w, 3) image whose pixel bytes replay a
    simple deterministic rule over the document —

        w = doc_id % 5 + 3,  h = doc_id % 4 + 2,
        byte[i] = ord(text[i mod len(text)]) % 256  (0 when text is empty)

    The rule is CODEPOINT-indexed (one value per character, not per
    utf-8 byte) so the DuckDB oracle's per-character replay
    (ascii(substr(text, i, 1)) % 256) is exact for any Unicode text.

    — then encoded through ``encode_png`` (zlib, rotating filter types).
    Because the PIXELS are SQL-expressible while the PAYLOAD is genuine
    PNG bytes, a downstream ``decode_png`` whose channel means hash-match
    the SQL replay proves the whole encode→decode round-trip, CRCs,
    inflate and all five un-filter paths included."""

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_TYPE),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                did = int(doc_id)
                w, h = did % 5 + 3, did % 4 + 2
                codes = bytes(ord(c) % 256 for c in (text or ""))
                n = w * h * 3
                if codes:
                    reps = -(-n // len(codes))  # ceil
                    flat = np.frombuffer(codes * reps, dtype="u1")[:n]
                else:
                    flat = np.zeros(n, dtype="u1")
                px = flat.reshape(h, w, 3)
                rows.append(
                    {
                        "doc_id": did,
                        "payload": encode_png(px),
                        "meta": {"mime": "image/png", "width": w, "height": h, "n_frames": 1},
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "meta"])

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def with_bmp_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach a REAL BMP payload per document (Arrow-batched
    ``mapInPandas``) — the ``with_png_payload`` contract with a
    DIFFERENT dimension rule so the two queries cover distinct shapes:

        w = doc_id % 6 + 3,  h = doc_id % 3 + 2,
        byte[i] = ord(text[i mod len(text)]) % 256  (0 when text is empty)

    (codepoint-indexed, so the DuckDB oracle's per-character replay is
    exact for any Unicode text).  Encoded through ``encode_bmp``
    (24-bit BI_RGB, bottom-up rows, 4-byte stride padding — w=3/6/7
    rows genuinely exercise nonzero padding).  Because the PIXELS are
    SQL-expressible while the PAYLOAD is genuine DIB bytes, a
    downstream ``decode_bmp`` whose channel means hash-match the SQL
    replay proves the whole encode→decode round-trip — stride padding,
    BGR swap, and bottom-up ordering included."""

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_TYPE),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                did = int(doc_id)
                w, h = did % 6 + 3, did % 3 + 2
                codes = bytes(ord(c) % 256 for c in (text or ""))
                n = w * h * 3
                if codes:
                    reps = -(-n // len(codes))  # ceil
                    flat = np.frombuffer(codes * reps, dtype="u1")[:n]
                else:
                    flat = np.zeros(n, dtype="u1")
                px = flat.reshape(h, w, 3)
                rows.append(
                    {
                        "doc_id": did,
                        "payload": encode_bmp(px),
                        "meta": {"mime": "image/bmp", "width": w, "height": h, "n_frames": 1},
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "meta"])

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def with_jpeg_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach a REAL baseline-JPEG payload per document (Arrow-batched
    ``mapInPandas``) whose pixels replay a SQL-expressible rule —

        wb = doc_id % 4 + 2 blocks,  hb = doc_id % 3 + 2 blocks
        (image is wb*8 x hb*8 px), 8x8 block b (row-major) is the
        CONSTANT value ord(text[b mod len(text)]) % 256  (0 if empty);
        even doc_ids are 3-component YCbCr 4:4:4 with Cb=Cr=128 (so
        RGB == luma exactly), odd doc_ids grayscale; restart markers
        every doc_id%3 MCUs when nonzero.

    Constant blocks + all-ones quant tables make the lossy format
    round-trip BIT-EXACTLY (one integer DC coefficient, 64 exact-zero
    ACs), so a downstream ``decode_jpeg`` whose channel means hash-match
    the SQL replay proves the real marker walk, Huffman decode,
    dequantize, IDCT, color conversion and restart handling end to end —
    the same verification design as ``with_png_payload``."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_TYPE),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                did = int(doc_id)
                wb, hb = did % 4 + 2, did % 3 + 2
                codes = [ord(c) % 256 for c in (text or "")]
                n = wb * hb
                vals = [codes[b % len(codes)] if codes else 0 for b in range(n)]
                grid = np.array(vals, dtype="u1").reshape(hb, wb)
                y = np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1)
                rst = did % 3
                if did % 2 == 0:
                    flat = np.full_like(y, 128)
                    payload = encode_jpeg(y, flat, flat, restart_interval=rst)
                else:
                    payload = encode_jpeg(y, restart_interval=rst)
                rows.append(
                    {
                        "doc_id": did,
                        "payload": payload,
                        "meta": {
                            "mime": "image/jpeg",
                            "width": wb * 8,
                            "height": hb * 8,
                            "n_frames": 1,
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "meta"])

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def with_gif_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach a REAL GIF payload per document (Arrow-batched
    ``mapInPandas``) whose pixels replay a SQL-expressible rule —

        w = doc_id % 7 + 4,  h = doc_id % 5 + 3,
        index[p] = ord(text[p mod len(text)]) % 256  (0 if empty),
        identity grayscale palette (palette[i] = (i, i, i)),
        odd doc_ids interlaced (GIF's 8/8/4/2 four-pass row order)

    GIF is lossless, so the decode is bit-exact by construction; the
    identity palette makes decoded RGB means equal index means, so the
    DuckDB oracle replays the rule directly — a hash match proves the
    LZW decompressor (dictionary growth, width escalation, CLEAR
    resets), sub-block framing, palette lookup and interlace
    de-scrambling end to end."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_TYPE),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                did = int(doc_id)
                w, h = did % 7 + 4, did % 5 + 3
                codes = [ord(c) % 256 for c in (text or "")]
                n = w * h
                vals = [codes[p % len(codes)] if codes else 0 for p in range(n)]
                idx = np.array(vals, dtype="u1").reshape(h, w)
                rows.append(
                    {
                        "doc_id": did,
                        "payload": encode_gif(idx, interlace=bool(did % 2)),
                        "meta": {"mime": "image/gif", "width": w, "height": h, "n_frames": 1},
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "meta"])

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """REAL WAV (RIFF) encoder for mono 16-bit PCM — the write-side twin
    of ``decode_wav_pcm``: canonical 44-byte header (fmt chunk 16 bytes,
    PCM format 1) + little-endian sample data.  Pure stdlib/numpy."""
    if samples.ndim != 1:
        raise ValueError("encode_wav takes a 1-D mono sample array")
    data = samples.astype("<i2").tobytes()
    byte_rate = sample_rate * 2
    hdr = (
        b"RIFF"
        + (36 + len(data)).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")   # PCM
        + (1).to_bytes(2, "little")   # mono
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (2).to_bytes(2, "little")   # block align
        + (16).to_bytes(2, "little")  # bits
        + b"data"
        + len(data).to_bytes(4, "little")
    )
    return hdr + data


def wav_frame_energies(payload: bytes, frame: int = 64) -> list[int]:
    """Frame-level energy from a PCM WAV payload: for each complete
    ``frame``-sample window of channel 0, the EXACT integer Σ s².
    Shares ``decode_wav_pcm``'s RIFF walk and validation (raises
    ValueError on non-WAV), so a hash-matched energy column proves the
    full encode→decode round-trip at frame granularity."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size % 2)
    if fmt is None or data is None or len(fmt) < 16:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or bits != 16 or n_channels not in (1, 2):
        raise ValueError(f"unsupported WAV (format={audio_format}, bits={bits})")
    samples = np.frombuffer(
        data[: len(data) - len(data) % (2 * n_channels)], dtype="<i2"
    ).reshape(-1, n_channels)[:, 0].astype("int64")
    n_frames = len(samples) // frame
    trimmed = samples[: n_frames * frame].reshape(n_frames, frame)
    return [int(e) for e in (trimmed * trimmed).sum(axis=1)]


def with_wav_payload(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Attach a REAL mono 16-bit PCM WAV payload per document
    (Arrow-batched ``mapInPandas``) whose SAMPLES replay a
    SQL-expressible rule over the document text —

        n = (doc_id % 5 + 2) * 64    (128..384 samples)
        s[i] = (code[i mod L] * ((i mod 7) + 1)) % 4096 - 2048   (0 if L=0)
        with code[j] = ord(text[j]) % 256, L = len(text) in CHARACTERS
        (codepoint-indexed so the oracle's per-character replay is
        exact for any Unicode text, not just ASCII)

    — then encoded through ``encode_wav``.  Same verification design as
    ``with_png_payload``: the payload is genuine RIFF bytes, the content
    is replayable in SQL, so a downstream ``wav_frame_energies`` whose
    output hash-matches the SQL replay proves the encode→decode
    round-trip including the RIFF chunk walk."""

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
            T.StructField("meta", META_TYPE),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                did = int(doc_id)
                n = (did % 5 + 2) * 64
                codes = np.array([ord(c) % 256 for c in (text or "")], dtype="u1")
                i = np.arange(n, dtype="int64")
                if len(codes):
                    s = (codes[i % len(codes)].astype("int64") * (i % 7 + 1)) % 4096 - 2048
                else:
                    s = np.zeros(n, dtype="int64")
                rows.append(
                    {
                        "doc_id": did,
                        "payload": encode_wav(s.astype("<i2")),
                        "meta": {"mime": "audio/wav", "width": 0, "height": 0, "n_frames": n // 64},
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "payload", "meta"])

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def frame_energy_table(media: DataFrame, frame: int = 64) -> DataFrame:
    """Explode WAV payloads to (doc_id, frame_idx, energy, n_samples)
    rows via ``wav_frame_energies`` — Arrow-batched ``mapInPandas``,
    payload bytes never shuffle outside Arrow, energies exact BIGINT."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("energy", T.LongType()),
            T.StructField("n_samples", T.LongType()),
        ]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                energies = wav_frame_energies(bytes(payload), frame)
                n = (len(bytes(payload)) - 44) // 2
                for fi, e in enumerate(energies):
                    rows.append(
                        {"doc_id": int(doc_id), "frame_idx": fi, "energy": e, "n_samples": n}
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "frame_idx", "energy", "n_samples"])

    return media.select("doc_id", "payload").mapInPandas(extract, out_schema)


def payload_metadata(media: DataFrame) -> DataFrame:
    """Columnar (no-UDF) metadata projection over multimodal rows: byte
    length + md5 of the payload and the flattened metadata struct.  The
    payload column itself is dropped — downstream scans of this output
    never deserialize media bytes."""
    return media.select(
        "doc_id",
        F.octet_length(F.col("payload")).alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
    )
