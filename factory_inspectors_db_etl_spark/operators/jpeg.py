"""Baseline JPEG (ITU-T T.81 / JFIF) codec in pure numpy + stdlib.

JPEG is the most common image mime in a crawl corpus and the last one
this engine served with byte-fallback features.  This module implements
the BASELINE SEQUENTIAL profile end to end:

* ``decode_jpeg`` — a real decoder: marker walk, DQT/DHT/SOF0/DRI/SOS
  parsing, entropy-coded-segment Huffman decode (byte unstuffing,
  RSTn restart handling, EOB/ZRL), dequantize, de-zigzag, 2-D IDCT,
  per-component plane assembly with pixel-replication upsampling for
  subsampled chroma, and JFIF YCbCr->RGB conversion.  Grayscale (1
  component) and YCbCr (3 components, any integer sampling factors
  incl. 4:4:4 and 4:2:0) are supported; progressive (SOF2+),
  arithmetic coding, 12-bit precision and hierarchical profiles raise
  the declared ``ValueError`` so the featurizer takes the byte-level
  fallback — same contract as the PNG/WAV/PPM/MP4 codecs in
  ``operators.multimodal``.  Reference parity: the reference repo
  (populate_db_ru_v1.py) has no media path at all — this module is part
  of the repo's LLM-data-pipeline extension surface.

* ``encode_jpeg`` — the write-side twin used by tests and the payload
  generator: forward DCT, all-ones quantization tables, the spec's
  Annex K Huffman tables, optional 4:2:0 subsampling and restart
  markers.  With all-ones quant tables a block of CONSTANT value
  round-trips bit-exactly (its DCT has one integer DC coefficient and
  64 exactly-zero ACs), which is what makes a REAL lossy-format codec
  verifiable against a SQL oracle: the ``m_jpeg_decode`` catalog query
  builds images from constant 8x8 blocks whose values replay a SQL
  rule, so a hash-matched decode proves the whole marker walk, Huffman
  decode, dequantize, IDCT and assembly, bit for bit.

Everything below is from the public JPEG specification (ITU-T T.81,
Annex K tables) — no external codec libraries.

100 TB posture: decode runs inside Arrow-batched ``mapInPandas``
(``operators.multimodal.decode_and_featurize``) — payload bytes never
shuffle outside Arrow, decode cost is linear in pixels, and a malformed
or unsupported payload degrades to byte features instead of failing the
task.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Constants from ITU-T T.81 (public spec)
# ---------------------------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.3 "typical" Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUM = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHR = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    # orthonormal DCT-II basis: A[u, x] = c(u)/2 * cos((2x+1)u*pi/16)
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    a = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    a[0, :] *= 1 / np.sqrt(2)
    return a


_A = _dct_matrix()


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman: {(code_length, code): symbol} per T.81 C.2."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise ValueError("jpeg: DHT counts exceed symbol list")
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    return {sym: (ln, code) for (ln, code), sym in _huff_decode_table(bits, vals).items()}


# ---------------------------------------------------------------------------
# Bit I/O over the entropy-coded segment
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                b = self._acc
                self.out.append(b)
                if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                    self.out.append(0x00)
                self._acc = 0
                self._n = 0

    def flush(self) -> None:
        # pad the final partial byte with 1-bits (spec's fill bits)
        if self._n:
            self.write((1 << (8 - self._n)) - 1, 8 - self._n)


class _BitReader:
    """MSB-first bit reader over ECS bytes with 0xFF00 unstuffing;
    RSTn markers are consumed by ``restart()``, any other marker (or
    running out of bytes) raises ValueError."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _next_byte(self) -> int:
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("jpeg: entropy data exhausted")
        b = d[p]
        if b == 0xFF:
            if p + 1 >= len(d):
                raise ValueError("jpeg: dangling 0xFF in entropy data")
            marker = d[p + 1]
            if marker == 0x00:  # stuffed byte
                self.pos = p + 2
                return 0xFF
            raise ValueError(f"jpeg: unexpected marker 0xFF{marker:02X} mid-scan")
        self.pos = p + 1
        return b

    def read_bit(self) -> int:
        if self._n == 0:
            self._acc = self._next_byte()
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self, expected: int) -> None:
        """Consume an RSTn marker at a restart boundary."""
        self._acc = 0
        self._n = 0
        d, p = self.data, self.pos
        if p + 1 >= len(d) or d[p] != 0xFF or not (0xD0 <= d[p + 1] <= 0xD7):
            raise ValueError("jpeg: missing restart marker")
        if d[p + 1] - 0xD0 != expected:
            raise ValueError("jpeg: restart marker out of sequence")
        self.pos = p + 2

    def decode_huffman(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid Huffman code (no match in 16 bits)")


def _extend(v: int, s: int) -> int:
    # T.81 F.2.2.1 EXTEND: map s received bits to the signed value
    if s == 0:
        return 0
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _encode_block(
    bw: _BitWriter,
    block: np.ndarray,
    pred: int,
    dc_tab: dict[int, tuple[int, int]],
    ac_tab: dict[int, tuple[int, int]],
) -> int:
    f = _A @ (block.astype(np.float64) - 128.0) @ _A.T
    coefs = np.rint(f).astype(np.int64).reshape(64)[ZIGZAG]
    dc = int(coefs[0])
    diff = dc - pred
    s = int(abs(diff)).bit_length()
    ln, code = dc_tab[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = int(np.max(np.nonzero(coefs)[0])) if np.any(coefs[1:]) else 0
    for k in range(1, 64):
        v = int(coefs[k])
        if v == 0:
            run += 1
            if k >= last_nz:
                break
            continue
        while run > 15:
            ln, code = ac_tab[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        ln, code = ac_tab[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        ln, code = ac_tab[0x00]  # EOB
        bw.write(code, ln)
    return dc


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _dht_body(tc: int, th: int, spec: tuple[list[int], list[int]]) -> bytes:
    bits, vals = spec
    return bytes([tc << 4 | th]) + bytes(bits) + bytes(vals)


def encode_jpeg(
    y: np.ndarray,
    cb: np.ndarray | None = None,
    cr: np.ndarray | None = None,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """REAL baseline JFIF encoder (write-side twin of ``decode_jpeg``).

    ``y`` is the (h, w) uint8 luma plane.  Pass ``cb``/``cr`` for a
    3-component image: full-resolution planes for 4:4:4, or — with
    ``subsample=True`` — half-resolution (h/2, w/2) planes for 4:2:0
    (``y`` dims must then be multiples of 16).  All quantization tables
    are ONES, so constant 8x8 blocks round-trip bit-exactly (one exact
    integer DC, 64 exactly-zero ACs) — the property the SQL-oracle
    verification leans on.  ``restart_interval`` > 0 emits DRI + RSTn
    markers every that-many MCUs."""
    y = np.asarray(y, dtype=np.uint8)
    if y.ndim != 2 or y.shape[0] % 8 or y.shape[1] % 8:
        raise ValueError("encode_jpeg: luma plane must be 2-D with multiple-of-8 dims")
    h, w = y.shape
    color = cb is not None
    if color:
        cb = np.asarray(cb, dtype=np.uint8)
        cr = np.asarray(cr, dtype=np.uint8)
        if subsample:
            if h % 16 or w % 16:
                raise ValueError("encode_jpeg: 4:2:0 needs multiple-of-16 luma dims")
            if cb.shape != (h // 2, w // 2) or cr.shape != (h // 2, w // 2):
                raise ValueError("encode_jpeg: 4:2:0 chroma planes must be half-res")
        elif cb.shape != (h, w) or cr.shape != (h, w):
            raise ValueError("encode_jpeg: 4:4:4 chroma planes must match luma dims")

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # DQT id 0, all ones
    if color:
        out += _seg(0xDB, bytes([0x01]) + bytes([1] * 64))
    hv_y = 0x22 if (color and subsample) else 0x11
    comps = bytes([1, hv_y, 0])
    if color:
        comps += bytes([2, 0x11, 1, 3, 0x11, 1])
    out += _seg(
        0xC0,
        bytes([8])
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + bytes([3 if color else 1])
        + comps,
    )
    out += _seg(0xC4, _dht_body(0, 0, _DC_LUM))
    out += _seg(0xC4, _dht_body(1, 0, _AC_LUM))
    if color:
        out += _seg(0xC4, _dht_body(0, 1, _DC_CHR))
        out += _seg(0xC4, _dht_body(1, 1, _AC_CHR))
    if restart_interval:
        out += _seg(0xDD, restart_interval.to_bytes(2, "big"))
    scan = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11]) if color else bytes([1, 1, 0x00])
    out += _seg(0xDA, scan + bytes([0, 63, 0]))

    dc_lum = _huff_encode_table(*_DC_LUM)
    ac_lum = _huff_encode_table(*_AC_LUM)
    dc_chr = _huff_encode_table(*_DC_CHR)
    ac_chr = _huff_encode_table(*_AC_CHR)

    bw = _BitWriter()
    preds = [0, 0, 0]
    rst = 0
    mcu_count = 0
    if not color:
        mcus = [(by, bx) for by in range(h // 8) for bx in range(w // 8)]
    elif subsample:
        mcus = [(by, bx) for by in range(h // 16) for bx in range(w // 16)]
    else:
        mcus = [(by, bx) for by in range(h // 8) for bx in range(w // 8)]

    for by, bx in mcus:
        if restart_interval and mcu_count and mcu_count % restart_interval == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            preds = [0, 0, 0]
        if not color:
            blk = y[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            preds[0] = _encode_block(bw, blk, preds[0], dc_lum, ac_lum)
        elif subsample:
            for dy in range(2):
                for dx in range(2):
                    blk = y[
                        (by * 2 + dy) * 8 : (by * 2 + dy) * 8 + 8,
                        (bx * 2 + dx) * 8 : (bx * 2 + dx) * 8 + 8,
                    ]
                    preds[0] = _encode_block(bw, blk, preds[0], dc_lum, ac_lum)
            for ci, plane in ((1, cb), (2, cr)):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                preds[ci] = _encode_block(bw, blk, preds[ci], dc_chr, ac_chr)
        else:
            for ci, plane, dt, at in ((0, y, dc_lum, ac_lum), (1, cb, dc_chr, ac_chr), (2, cr, dc_chr, ac_chr)):
                blk = plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                preds[ci] = _encode_block(bw, blk, preds[ci], dt, at)
        mcu_count += 1

    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def parse_jpeg(payload: bytes) -> tuple[int, int, int, list[np.ndarray]]:
    """Decode a baseline JFIF payload to (width, height, n_components,
    [full-resolution uint8 plane per component]).  Raises ValueError on
    anything that is not a decodable baseline-sequential JPEG —
    truncation, bad markers, undefined tables, progressive/arithmetic
    profiles — never IndexError or a crash (fuzz-pinned)."""
    d = payload
    if len(d) < 4 or d[0:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None  # (h, w, [(cid, hs, vs, tq)])
    restart_interval = 0
    scan = None

    while pos < len(d):
        if d[pos] != 0xFF:
            raise ValueError(f"jpeg: expected marker at byte {pos}")
        while pos < len(d) and d[pos] == 0xFF:
            pos += 1  # fill bytes allowed before a marker
        if pos >= len(d):
            raise ValueError("jpeg: truncated at marker")
        marker = d[pos]
        pos += 1
        if marker == 0xD9:  # EOI before any scan
            raise ValueError("jpeg: EOI before SOS")
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        if pos + 2 > len(d):
            raise ValueError("jpeg: truncated segment length")
        seglen = int.from_bytes(d[pos : pos + 2], "big")
        if seglen < 2 or pos + seglen > len(d):
            raise ValueError("jpeg: segment overruns payload")
        body = d[pos + 2 : pos + seglen]
        pos += seglen

        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                n = 64 * (2 if pq == 1 else 1)
                if pq > 1 or tq > 3 or i + n > len(body):
                    raise ValueError("jpeg: bad DQT")
                if pq == 1:
                    vals = np.frombuffer(body[i : i + n], dtype=">u2").astype(np.int64)
                else:
                    vals = np.frombuffer(body[i : i + n], dtype=np.uint8).astype(np.int64)
                q = np.empty(64, dtype=np.int64)
                q[ZIGZAG] = vals  # stored in zigzag order
                qtables[tq] = q.reshape(8, 8)
                i += n
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("jpeg: bad DHT header")
                tc, th = body[i] >> 4, body[i] & 0x0F
                if tc > 1 or th > 3:
                    raise ValueError("jpeg: bad DHT class/id")
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                if i + 17 + n > len(body):
                    raise ValueError("jpeg: DHT symbols overrun segment")
                vals = list(body[i + 17 : i + 17 + n])
                htables[(tc, th)] = _huff_decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext sequential
            if len(body) < 6:
                raise ValueError("jpeg: bad SOF")
            if body[0] != 8:
                raise ValueError("jpeg: only 8-bit precision supported")
            fh = int.from_bytes(body[1:3], "big")
            fw = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if fh == 0 or fw == 0 or nc not in (1, 3):
                raise ValueError("jpeg: unsupported frame geometry/components")
            if len(body) != 6 + 3 * nc:
                raise ValueError("jpeg: bad SOF component list")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                hs, vs = hv >> 4, hv & 0x0F
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    raise ValueError("jpeg: bad sampling factors")
                comps.append((cid, hs, vs, tq))
            frame = (fh, fw, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "jpeg: only baseline sequential Huffman is supported "
                f"(SOF marker 0xFF{marker:02X} is progressive/arithmetic/hierarchical)"
            )
        elif marker == 0xDD:  # DRI
            if len(body) != 2:
                raise ValueError("jpeg: bad DRI")
            restart_interval = int.from_bytes(body, "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("jpeg: SOS before SOF")
            if len(body) < 1:
                raise ValueError("jpeg: bad SOS")
            ns = body[0]
            if ns != len(frame[2]):
                raise ValueError("jpeg: multi-scan baseline not supported")
            if len(body) != 1 + 2 * ns + 3:
                raise ValueError("jpeg: bad SOS length")
            stabs = {}
            for c in range(ns):
                cid, tt = body[1 + 2 * c], body[2 + 2 * c]
                stabs[cid] = (tt >> 4, tt & 0x0F)
            ss, se, a = body[1 + 2 * ns : 4 + 2 * ns]
            if ss != 0 or se != 63 or a != 0:
                raise ValueError("jpeg: non-baseline spectral selection")
            scan = (stabs, pos)
            break
        # APPn / COM / other length-bearing markers: skipped
    if scan is None:
        raise ValueError("jpeg: no scan found")

    fh, fw, comps = frame
    stabs, ecs_pos = scan
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-fw // (8 * hmax))
    mcuy = -(-fh // (8 * vmax))
    # memory-bomb guard: a malformed-but-parseable SOF can claim
    # 65535x65535 and make the plane allocation below reserve gigabytes
    # BEFORE the entropy decode fails.  16M px (4096x4096) covers real
    # crawl images; larger claims take the declared byte-level fallback.
    if (mcux * hmax * 8) * (mcuy * vmax * 8) > 1 << 24:
        raise ValueError("jpeg: declared dimensions exceed the 16M-pixel cap")

    planes = []
    meta = []
    for cid, hs, vs, tq in comps:
        if tq not in qtables:
            raise ValueError(f"jpeg: undefined quant table {tq}")
        if cid not in stabs:
            raise ValueError(f"jpeg: component {cid} missing from scan")
        td, ta = stabs[cid]
        if (0, td) not in htables or (1, ta) not in htables:
            raise ValueError("jpeg: undefined Huffman table referenced by scan")
        planes.append(np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.float64))
        meta.append((hs, vs, qtables[tq], htables[(0, td)], htables[(1, ta)]))

    br = _BitReader(d, ecs_pos)
    preds = [0] * len(comps)
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            br.restart(rst)
            rst = (rst + 1) % 8
            preds = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, (hs, vs, q, dct, act) in enumerate(meta):
            for dy in range(vs):
                for dx in range(hs):
                    coefs = np.zeros(64, dtype=np.int64)
                    s = br.decode_huffman(dct)
                    if s > 11:
                        raise ValueError("jpeg: DC category out of range")
                    preds[ci] += _extend(br.read_bits(s), s)
                    coefs[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = br.decode_huffman(act)
                        r, sz = rs >> 4, rs & 0x0F
                        if sz == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("jpeg: AC run overruns block")
                        coefs[k] = _extend(br.read_bits(sz), sz)
                        k += 1
                    fblk = np.empty(64, dtype=np.int64)
                    fblk[ZIGZAG] = coefs
                    fq = fblk.reshape(8, 8) * q
                    blk = _A.T @ fq.astype(np.float64) @ _A
                    py = (my * vs + dy) * 8
                    px = (mx * hs + dx) * 8
                    planes[ci][py : py + 8, px : px + 8] = blk

    out_planes = []
    for ci, (hs, vs, _q, _d, _a) in enumerate(meta):
        p8 = np.clip(np.rint(planes[ci] + 128.0), 0, 255).astype(np.uint8)
        ry, rx = vmax // vs, hmax // hs
        if (vmax % vs) or (hmax % hs):
            raise ValueError("jpeg: non-integer sampling ratio")
        if ry > 1 or rx > 1:
            p8 = np.repeat(np.repeat(p8, ry, axis=0), rx, axis=1)
        out_planes.append(p8[:fh, :fw])
    return fw, fh, len(comps), out_planes


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64) - 128.0
    crf = cr.astype(np.float64) - 128.0
    r = yf + 1.402 * crf
    g = yf - 0.344136 * cbf - 0.714136 * crf
    b = yf + 1.772 * cbf
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0, 255).astype(np.uint8)


def decode_jpeg(payload: bytes, n_features: int = 8) -> list[float]:
    """Feature view of ``parse_jpeg`` — the same contract as
    ``decode_png``/``decode_ppm``:

      [width, height, n_components, mean ch0/255, mean ch1/255,
       mean ch2/255, overall mean/255, aspect ratio]

    For 3-component images the channel means are over the CONVERTED
    RGB (JFIF matrix, rounded); for grayscale all three channel slots
    carry the luma mean.  Means are exact integer-sum ratios with one
    trailing IEEE division — bit-deterministic and SQL-replayable."""
    w, h, nc, planes = parse_jpeg(payload)
    npx = w * h
    if nc == 3:
        rgb = _ycbcr_to_rgb(*planes).astype(np.int64)
        chans = [int(rgb[:, :, i].sum()) for i in range(3)]
    else:
        s = int(planes[0].astype(np.int64).sum())
        chans = [s, s, s]
    feats = [
        float(w),
        float(h),
        float(nc),
        chans[0] / (npx * 255),
        chans[1] / (npx * 255),
        chans[2] / (npx * 255),
        sum(chans) / (npx * 3 * 255),
        w / h,
    ]
    return (feats + [0.0] * n_features)[:n_features]

