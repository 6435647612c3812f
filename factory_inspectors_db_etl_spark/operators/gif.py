"""GIF87a/89a codec in pure stdlib — real LZW, both directions.

The fifth real media codec in the multimodal family (after WAV, PPM,
PNG, MP4-container, and baseline JPEG), and the one that exercises a
genuinely different algorithm class: GIF's variable-width LZW with
dictionary growth, code-width escalation (up to 12 bits), CLEAR-code
resets and sub-block framing.

* ``decode_gif`` — header + logical-screen descriptor, global/local
  color tables, 89a extension-block skipping, image descriptor,
  interlace de-scrambling (the 8/8/4/2 four-pass order), and a full
  LZW decompressor (dictionary rebuild, width growth at 2^width,
  CLEAR reset, EOI).  Raises ValueError on anything that is not a
  decodable GIF — truncation, bad codes, dimension bombs — never a
  crash (fuzz-pinned, same contract as the other codecs).
* ``encode_gif`` — the write-side twin: real dictionary-building LZW
  (not the "uncompressed GIF" hack), optional interlace, one image,
  global 256-entry color table.

Exactness: GIF is LOSSLESS, so unlike JPEG every payload round-trips
bit-exactly — with an identity grayscale palette (palette[i] = (i,i,i))
the decoded channel means replay a SQL rule directly, which is what the
``m_gif_decode`` catalog query pins against its DuckDB oracle.

Everything below is from the public GIF specification (GIF87a/89a,
CompuServe 1987/1989) — no external libraries.
"""

from __future__ import annotations

import numpy as np

_MAX_PIXELS = 1 << 24  # same 16M-pixel dimension-bomb cap as parse_jpeg


# ---------------------------------------------------------------------------
# LZW (GIF variant: variable width, CLEAR/EOI codes, 12-bit cap)
# ---------------------------------------------------------------------------


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Real dictionary-building GIF-LZW compressor."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # GIF packs codes LSB-first
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    prefix = b""
    for b in indices:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        elif next_code > 4095:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = bytes([b])
    if prefix:
        emit(table[prefix], width)
        # terminal width sync: a spec-conformant DECODER appends a table
        # entry for this final code and escalates its code width when the
        # table reaches 2^width — so when that lands exactly on the
        # boundary, EOI must be written at the escalated width or a
        # strict decoder reads it one bit short (mid-stream emits are in
        # sync because each adds an encoder entry too; the flush emit is
        # the one code that does not)
        if next_code == (1 << width) and width < 12:
            width += 1
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, n_expected: int) -> bytes:
    """Real GIF-LZW decompressor with the KwKwK first-entry case."""
    if not (2 <= min_code_size <= 8):
        raise ValueError("gif: bad LZW minimum code size")
    clear = 1 << min_code_size
    eoi = clear + 1
    pos = 0
    acc = 0
    nbits = 0

    def read(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                raise ValueError("gif: LZW stream exhausted")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    out = bytearray()
    table: list[bytes] = []
    width = min_code_size + 1
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None

    reset()
    while len(out) < n_expected:
        code = read(width)
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table) or code >= clear:
                raise ValueError("gif: first LZW code not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
            table.append(entry)
        else:
            raise ValueError("gif: LZW code beyond dictionary")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) < n_expected:
        raise ValueError("gif: LZW output short of the raster size")
    # strict trailer: the code following the last pixel must be EOI, read
    # at the post-escalation width — this is what catches an encoder
    # whose final code landed on the 2^width table boundary but wrote
    # EOI one bit short.  An exhausted stream (writers that omit EOI and
    # rely on the sub-block terminator) stays acceptable.
    try:
        trailing = read(width)
    except ValueError:
        trailing = eoi
    if trailing != eoi:
        raise ValueError("gif: expected EOI code after the raster")
    return bytes(out[:n_expected])


# ---------------------------------------------------------------------------
# Container
# ---------------------------------------------------------------------------

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _interlace_order(h: int) -> list[int]:
    order = []
    for start, step in _INTERLACE_PASSES:
        order.extend(range(start, h, step))
    return order


def encode_gif(
    indices: np.ndarray,
    palette: np.ndarray | None = None,
    interlace: bool = False,
) -> bytes:
    """Encode an (h, w) uint8 index raster as a real GIF87a payload.

    ``palette`` is a (256, 3) uint8 color table; default is the identity
    grayscale palette (palette[i] = (i, i, i)), which makes the decoded
    RGB means equal the index means — the SQL-replay property."""
    indices = np.asarray(indices, dtype=np.uint8)
    if indices.ndim != 2 or indices.size == 0:
        raise ValueError("encode_gif takes a non-empty 2-D index raster")
    h, w = indices.shape
    if palette is None:
        g = np.arange(256, dtype=np.uint8)
        palette = np.stack([g, g, g], axis=1)
    palette = np.asarray(palette, dtype=np.uint8)
    if palette.shape != (256, 3):
        raise ValueError("encode_gif palette must be (256, 3)")
    out = bytearray(b"GIF87a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x80 | 0x70 | 0x07, 0, 0])  # GCT present, 256 entries
    out += palette.tobytes()
    out += b"\x2c" + bytes(4)  # image descriptor at (0, 0)
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlace else 0x00])
    raster = indices[_interlace_order(h), :] if interlace else indices
    mcs = 8
    out += bytes([mcs])
    lzw = _lzw_encode(raster.tobytes(), mcs)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def parse_gif(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a GIF87a/89a payload to (width, height, (h, w, 3) uint8
    RGB).  First image only (animation frames beyond the first are a
    declared non-goal for a featurizer).  Raises ValueError on any
    malformed structure."""
    iw, ih, idx, ct = parse_gif_indexed(payload)
    return iw, ih, ct[idx]


def _skip_to_image_descriptor(d: bytes) -> tuple[int, np.ndarray | None]:
    """Walk the GIF stream past the header, global color table, and any
    extension blocks to the FIRST image descriptor; returns (offset just
    past the 0x2C introducer, global color table or None)."""
    if len(d) < 13 or d[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("gif: missing GIF87a/89a signature")
    packed = d[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(d):
            raise ValueError("gif: truncated global color table")
        gct = np.frombuffer(d[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n

    while True:
        if pos >= len(d):
            raise ValueError("gif: no image descriptor before end of data")
        block = d[pos]
        pos += 1
        if block == 0x3B:
            raise ValueError("gif: trailer before any image")
        if block == 0x21:  # extension: label + sub-blocks
            if pos >= len(d):
                raise ValueError("gif: truncated extension")
            pos += 1
            while True:
                if pos >= len(d):
                    raise ValueError("gif: truncated extension sub-block")
                ln = d[pos]
                pos += 1 + ln
                if ln == 0:
                    break
            continue
        if block == 0x2C:
            return pos, gct
        raise ValueError(f"gif: unknown block 0x{block:02X}")


def parse_gif_indexed(payload: bytes) -> tuple[int, int, np.ndarray, np.ndarray]:
    """Decode to PALETTE space: (width, height, (h, w) uint8 index
    raster — de-interlaced, and the active (n, 3) color table)."""
    d = payload
    pos, gct = _skip_to_image_descriptor(d)
    if pos + 9 > len(d):
        raise ValueError("gif: truncated image descriptor")
    iw = int.from_bytes(d[pos + 4 : pos + 6], "little")
    ih = int.from_bytes(d[pos + 6 : pos + 8], "little")
    ipacked = d[pos + 8]
    pos += 9
    if iw == 0 or ih == 0:
        raise ValueError("gif: empty image")
    if iw * ih > _MAX_PIXELS:
        raise ValueError("gif: declared dimensions exceed the 16M-pixel cap")
    ct = gct
    if ipacked & 0x80:
        n = 2 << (ipacked & 0x07)
        if pos + 3 * n > len(d):
            raise ValueError("gif: truncated local color table")
        ct = np.frombuffer(d[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    if ct is None:
        raise ValueError("gif: no color table")

    if pos >= len(d):
        raise ValueError("gif: missing LZW minimum code size")
    mcs = d[pos]
    pos += 1
    lzw = bytearray()
    while True:
        if pos >= len(d):
            raise ValueError("gif: truncated image data sub-blocks")
        ln = d[pos]
        pos += 1
        if ln == 0:
            break
        if pos + ln > len(d):
            raise ValueError("gif: truncated image data sub-block")
        lzw += d[pos : pos + ln]
        pos += ln

    idx = np.frombuffer(
        _lzw_decode(bytes(lzw), mcs, iw * ih), dtype=np.uint8
    ).reshape(ih, iw)
    if int(idx.max(initial=0)) >= len(ct):
        raise ValueError("gif: pixel index beyond color table")
    if ipacked & 0x40:  # interlaced: invert the four-pass row order
        order = _interlace_order(ih)
        de = np.empty_like(idx)
        de[order, :] = idx
        idx = de
    return iw, ih, idx, ct


def decode_gif(payload: bytes, n_features: int = 8) -> list[float]:
    """Feature view of ``parse_gif`` — the shared image-feature contract
    (``decode_png``/``decode_jpeg``):

      [width, height, 3, mean R/255, mean G/255, mean B/255,
       overall mean/255, aspect ratio]

    Exact integer-sum ratios with one trailing IEEE division."""
    w, h, rgb = parse_gif(payload)
    px = rgb.astype(np.int64)
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
