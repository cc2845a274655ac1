"""From-scratch baseline JPEG (ITU-T T.81 / ISO 10918-1) — REAL codec.

The multimodal axis honestly stubbed JPEG because entropy-coded bitstream
decode needs real work, not just a chunk walk. This module does that work
from the public spec, with numpy for the DCT and pure Python for the
entropy coder:

* **Encoder**: 8-bit baseline sequential DCT, grayscale (1 component) or
  YCbCr 4:4:4 (3 components, sampling factors 1x1 — no subsampling, the
  one honest simplification), level shift, forward 2-D DCT-II
  (orthonormal matrix form), quantization (round-half-away-from-zero),
  zigzag, DC prediction (differential), run/size AC coding with ZRL/EOB,
  canonical Huffman codes built from BITS/HUFFVAL exactly as Annex C
  specifies, 0xFF byte stuffing, optional restart markers (DRI + RST0-7
  with DC predictor reset), and a COM segment so decoders must walk
  markers they don't care about. Default tables are the Annex K K.1/K.2
  quantization and K.3 Huffman tables, but DQT/DHT are always written and
  always parsed — nothing is assumed shared between the two sides.
* **Decoder**: full marker walk (skips APPn/COM, handles multi-table DQT
  and DHT segments), DHT → canonical code table per the Annex C flow
  (HUFFSIZE/HUFFCODE generation), bit reader that undoes 0xFF00 stuffing
  and resyncs at restart markers, Huffman DC/AC decode with EXTEND sign
  recovery, dequantize, un-zigzag, inverse DCT, +128 level shift with
  round-half-up and clamp, and fixed-point integer YCbCr→RGB.

**Exactness contract (what lets a SQL oracle check this end to end):**
color conversion is defined in fixed-point *integer* arithmetic (8-bit
coefficients, ``floor((k·x + 128) / 256)`` — the libjpeg-style scaled
integers, not floats), and a flat 8×8 block survives the whole pipeline
bit-exactly whenever the DC quantization step divides ``8·(v−128)``: the
63 AC coefficients of a constant block are exactly zero, the DC is
exactly ``8·(v−128)``, and the IDCT of a DC-only block is constant. The
corpus uses DC quant 8, so decoded == source for every flat block and
DuckDB can restate the expected pixels (through the same integer YCbCr
round trip) as closed-form SQL. Non-flat content is covered by fixture
tests (roundtrip error bounds, coefficient-domain AC bitstreams, restart
resync) where exactness is impossible by design — JPEG is lossy.

Public sources: ITU-T T.81 (Annex C Huffman generation, Annex F decode
flow, Annex K example tables), JFIF 1.02 (APP0), libjpeg's scaled-integer
color convert idea (re-derived; coefficients are the rounded 2^8 scalings
of the BT.601 matrix).
"""

from __future__ import annotations

import struct
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from .mediacodec import _check_pixel_budget

__all__ = [
    "encode_jpeg",
    "encode_jpeg_progressive",
    "decode_jpeg",
    "QUANT_LUM",
    "QUANT_CHROMA",
]

# ---------------------------------------------------------------------------
# Annex K example tables (public spec text)
# ---------------------------------------------------------------------------

QUANT_LUM = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)  # K.1, row-major (natural order)

QUANT_CHROMA = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)  # K.2

# K.3.3.1 / K.3.3.2: (BITS[1..16], HUFFVAL) for the four example tables
_DC_LUM_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_LUM_VALS = tuple(range(12))
_DC_CHR_BITS = (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
_DC_CHR_VALS = tuple(range(12))
_AC_LUM_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_AC_LUM_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)
_AC_CHR_BITS = (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
_AC_CHR_VALS = (
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)

# Zigzag: index i in zigzag order -> index in natural (row-major) order
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

# Orthonormal 8-point DCT-II matrix: DCT(B) = C @ B @ C.T.  With this
# scaling a constant block v has DC = 8*v and AC exactly 0, matching the
# spec's FDCT up to the level shift.
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


# ---------------------------------------------------------------------------
# Huffman tables (Annex C generation — shared by encoder and decoder)
# ---------------------------------------------------------------------------

def _build_codes(bits: Sequence[int], vals: Sequence[int]) -> Dict[int, Tuple[int, int]]:
    """BITS/HUFFVAL → {symbol: (code, length)} via C.1-C.3: codes of each
    length are consecutive, starting from (prev + count(prev)) << 1."""
    out: Dict[int, Tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _magnitude(v: int) -> Tuple[int, int]:
    """→ (size category SSSS, appended bits) per F.1.2.1: negatives are
    stored as value-1 in SSSS low bits (one's-complement style)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    return size, (v if v > 0 else v + (1 << size) - 1)


def _extend(bits: int, size: int) -> int:
    """Inverse of _magnitude (spec EXTEND)."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-padding per spec


class _BitReader:
    """Reads the entropy-coded segment: un-stuffs 0xFF00, stops at any
    other marker (position left ON the 0xFF)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG: bitstream ran out")
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError("JPEG: hit marker inside entropy segment")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.bit()
        return v

    def align_to_marker(self) -> Optional[int]:
        """Discard pad bits; if the next bytes are a marker, consume and
        return its second byte, else return None."""
        self.acc = 0
        self.n = 0
        d = self.data
        if self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] != 0x00:
            m = d[self.pos + 1]
            self.pos += 2
            return m
        return None


class _HuffDecoder:
    """min/max-code per length (Annex F.2.2.3 DECODE procedure)."""

    def __init__(self, bits: Sequence[int], vals: Sequence[int]) -> None:
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            code <<= 1
        self.vals = list(vals)

    def decode(self, br: _BitReader) -> int:
        code = br.bit()
        length = 1
        while code > self.maxcode[length]:
            if length >= 16:
                raise ValueError("JPEG: invalid Huffman code")
            code = (code << 1) | br.bit()
            length += 1
        return self.vals[self.valptr[length] + code - self.mincode[length]]


# ---------------------------------------------------------------------------
# Block transforms
# ---------------------------------------------------------------------------

def _fdct_quant(block: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """Level-shifted 8x8 int block → quantized zigzag int coefficients
    (round half away from zero — deterministic, sign-symmetric)."""
    coeffs = _C @ (block.astype(np.float64) - 128.0) @ _C.T
    q = coeffs / quant
    rounded = np.sign(q) * np.floor(np.abs(q) + 0.5)
    return rounded.astype(np.int32).reshape(64)[list(ZIGZAG)]


def _dequant_idct(zz: np.ndarray, quant_zz: np.ndarray) -> np.ndarray:
    """Zigzag quantized coefficients → clamped uint8 spatial block.
    Reconstruction rounds half UP (floor(x+0.5)) — the documented
    convention the flat-block oracle relies on."""
    nat = np.zeros(64, dtype=np.float64)
    nat[list(ZIGZAG)] = zz * quant_zz
    spatial = _C.T @ nat.reshape(8, 8) @ _C + 128.0
    return np.clip(np.floor(spatial + 0.5), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------

def _seg(marker: int, body: bytes) -> bytes:
    return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body


def _prep_planes(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    qtables: Optional[Tuple[Sequence[int], Sequence[int]]],
) -> Tuple[List[np.ndarray], List[np.ndarray], int, int]:
    """Shared encoder front half: validate, color-convert, pad.

    → (padded planes, per-plane quant matrices, blocks-wide, blocks-high).
    """
    if channels not in (1, 3):
        raise ValueError("JPEG encoder supports 1 or 3 channels")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer does not match dimensions")
    qlum = np.array(qtables[0] if qtables else QUANT_LUM, dtype=np.float64).reshape(8, 8)
    qchr = np.array(qtables[1] if qtables else QUANT_CHROMA, dtype=np.float64).reshape(8, 8)

    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    if channels == 3:
        r = img[:, :, 0].astype(np.int64)
        g = img[:, :, 1].astype(np.int64)
        b = img[:, :, 2].astype(np.int64)
        # BT.601 full range in 8-bit fixed point, (k·x + 128) >> 8 with the
        # rounded 256-scaled coefficients: integer-only, so a SQL oracle
        # restates it with FLOOR((expr + 128) / 256)
        y = (77 * r + 150 * g + 29 * b + 128) >> 8
        cb = ((-43 * r - 85 * g + 128 * b + 128) >> 8) + 128
        cr = ((128 * r - 107 * g - 21 * b + 128) >> 8) + 128
        planes = [np.clip(p, 0, 255) for p in (y, cb, cr)]
        quants = [qlum, qchr, qchr]
    else:
        planes = [img[:, :, 0].astype(np.int64)]
        quants = [qlum]

    # pad to multiples of 8 by edge replication (spec-recommended)
    bw, bh = (width + 7) // 8, (height + 7) // 8
    padded = []
    for p in planes:
        pp = np.empty((bh * 8, bw * 8), dtype=np.int64)
        pp[:height, :width] = p
        pp[height:, :width] = p[height - 1 : height, :]
        pp[:, width:] = pp[:, width - 1 : width]
        padded.append(pp)
    return padded, quants, bw, bh


def _frame_segments(
    width: int,
    height: int,
    channels: int,
    quants: List[np.ndarray],
    sof_marker: int,
) -> bytes:
    """SOI + APP0 + COM + DQT + SOFn — shared by both encoders."""
    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFE, b"synthetic corpus")  # COM: decoders must skip
    # DQT (one segment, both tables, zigzag order per spec)
    dqt = bytearray()
    for tid, q in ((0, quants[0]), (1, quants[-1]))[: (2 if channels == 3 else 1)]:
        dqt.append(tid)
        flat = q.reshape(64)
        dqt += bytes(int(flat[ZIGZAG[i]]) for i in range(64))
    out += _seg(0xDB, bytes(dqt))
    sof = bytearray(struct.pack(">BHHB", 8, height, width, channels))
    for ci in range(channels):
        sof += bytes((ci + 1, 0x11, 0 if ci == 0 else 1))
    out += _seg(sof_marker, bytes(sof))
    return bytes(out)


def encode_jpeg(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    qtables: Optional[Tuple[Sequence[int], Sequence[int]]] = None,
    restart_interval: int = 0,
) -> bytes:
    """Interleaved top-down pixels (grayscale or RGB) → baseline JFIF
    JPEG, 4:4:4, Annex-K Huffman tables, explicit DQT/DHT, optional
    restart markers every ``restart_interval`` MCUs."""
    padded, quants, bw, bh = _prep_planes(width, height, channels, pixels, qtables)

    dc_lum = _build_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    ac_lum = _build_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    dc_chr = _build_codes(_DC_CHR_BITS, _DC_CHR_VALS)
    ac_chr = _build_codes(_AC_CHR_BITS, _AC_CHR_VALS)
    comp_codes = [(dc_lum, ac_lum)] + [(dc_chr, ac_chr)] * (channels - 1)

    bw_writer = _BitWriter()
    pred = [0] * channels
    mcu = 0
    rst = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                bw_writer.flush()
                bw_writer.out += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                pred = [0] * channels
            for ci in range(channels):
                zz = _fdct_quant(
                    padded[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                    quants[ci],
                )
                dc_codes, ac_codes = comp_codes[ci]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                size, extra = _magnitude(diff)
                code, ln = dc_codes[size]
                bw_writer.write(code, ln)
                if size:
                    bw_writer.write(extra, size)
                run = 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_codes[0xF0]  # ZRL
                        bw_writer.write(code, ln)
                        run -= 16
                    size, extra = _magnitude(v)
                    code, ln = ac_codes[(run << 4) | size]
                    bw_writer.write(code, ln)
                    bw_writer.write(extra, size)
                    run = 0
                if run:
                    code, ln = ac_codes[0x00]  # EOB
                    bw_writer.write(code, ln)
            mcu += 1
    bw_writer.flush()

    out = bytearray(_frame_segments(width, height, channels, quants, 0xC0))
    # DHT — all needed tables in one segment
    dht = bytearray()
    tables = [(0x00, _DC_LUM_BITS, _DC_LUM_VALS), (0x10, _AC_LUM_BITS, _AC_LUM_VALS)]
    if channels == 3:
        tables += [(0x01, _DC_CHR_BITS, _DC_CHR_VALS), (0x11, _AC_CHR_BITS, _AC_CHR_VALS)]
    for tc, bits, vals in tables:
        dht.append(tc)
        dht += bytes(bits)
        dht += bytes(vals)
    out += _seg(0xC4, bytes(dht))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    # SOS
    sos = bytearray((channels,))
    for ci in range(channels):
        sos += bytes((ci + 1, 0x00 if ci == 0 else 0x11))
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, bytes(sos))
    out += bw_writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (SOF2): spectral selection + successive approximation
# ---------------------------------------------------------------------------
#
# Scan script (the decoder accepts ANY legal script; this is what we emit):
#   1. DC first pass, all components interleaved          Ss=0 Se=0  Ah=0 Al=1
#   2. per component: AC band 1-5   first pass            Ss=1 Se=5  Ah=0 Al=1
#   3. per component: AC band 6-63  first pass            Ss=6 Se=63 Ah=0 Al=1
#   4. DC refinement, all components interleaved          Ss=0 Se=0  Ah=1 Al=0
#   5. per component: AC band 1-63  refinement            Ss=1 Se=63 Ah=1 Al=0
# Every Huffman-coded scan runs TWICE: a counting pass feeds the Annex-K
# optimal-table flow (K.9 code sizes by pair-merge, K.11 16-bit length
# adjustment, K.10 sort), a DHT with the per-scan table precedes each SOS
# (progressive needs EOBn symbols, which the fixed Annex-K baseline tables
# do not contain), then the emitting pass writes the entropy segment.

_MAX_EOBRUN = 0x7FFF  # largest run one EOBn symbol can carry (n<=14)


def _optimal_table(freq: Dict[int, int]) -> Tuple[Tuple[int, ...], Tuple[int, ...]]:
    """Symbol frequencies → (BITS[1..16], HUFFVAL) per Annex K.2.

    The classic JPEG optimal-code flow: repeated least-frequent pair
    merging tracking code sizes (Figure K.9), a reserved extra symbol so
    the all-ones code stays unused (F.1.4.4.1 requirement), then the
    Figure K.11 adjustment folding lengths >16 down into shorter slots.
    """
    freqs = [0] * 257
    for sym, c in freq.items():
        if c:
            freqs[sym] = c
    freqs[256] = 1  # reserved: guarantees no real symbol gets all-ones
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        nz = [(f, i) for i, f in enumerate(freqs) if f > 0]
        if len(nz) <= 1:
            break
        # least-frequency pair; ties broken toward the larger index (K.9)
        nz.sort(key=lambda t: (t[0], -t[1]))
        (f1, v1), (f2, v2) = nz[0], nz[1]
        freqs[v1] = f1 + f2
        freqs[v2] = 0
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = others[v1]
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = others[v2]
            codesize[v2] += 1
    bits = [0] * 33
    for s in range(257):
        if codesize[s]:
            bits[codesize[s]] += 1
    # K.11: fold code lengths longer than 16 into available shorter slots
    i = 32
    while i > 16:
        if bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        else:
            i -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the reserved symbol's code point
    # K.10: HUFFVAL in (code size, symbol) order, reserved symbol excluded
    huffval = [
        s for size in range(1, 17) for s in range(256) if codesize[s] == size
    ]
    return tuple(bits[1:17]), tuple(huffval)


class _SymCounter:
    """Counting-pass twin of the emitting pass: same symbol stream, no
    bits. ``put`` (raw appended bits) is a no-op by construction."""

    def __init__(self) -> None:
        self.freq: Dict[int, int] = {}

    def sym(self, s: int) -> None:
        self.freq[s] = self.freq.get(s, 0) + 1

    def put(self, value: int, nbits: int) -> None:
        pass


class _SymWriter:
    """Emitting pass: symbols through the scan's Huffman table, raw bits
    verbatim, into the shared stuffing bit writer."""

    def __init__(self, codes: Dict[int, Tuple[int, int]], wtr: _BitWriter) -> None:
        self.codes = codes
        self.wtr = wtr

    def sym(self, s: int) -> None:
        code, ln = self.codes[s]
        self.wtr.write(code, ln)

    def put(self, value: int, nbits: int) -> None:
        if nbits:
            self.wtr.write(value, nbits)


def _pt_ac(v: int, al: int) -> int:
    """AC point transform: magnitude shift (toward zero), sign kept."""
    return -((-v) >> al) if v < 0 else v >> al


def _enc_dc_first(out, comps: List[np.ndarray], tab_of: List[int], al: int) -> None:
    """Interleaved DC first pass: diff coding of the Al-shifted DC terms.
    ``out`` is a list of emitters, one per DC table id; ``tab_of[ci]``
    picks the table for component ci (DC shift is ARITHMETIC — G.1.2.1)."""
    pred = [0] * len(comps)
    for i in range(comps[0].shape[0]):
        for ci, arr in enumerate(comps):
            t = int(arr[i, 0]) >> al
            diff = t - pred[ci]
            pred[ci] = t
            size, extra = _magnitude(diff)
            o = out[tab_of[ci]]
            o.sym(size)
            o.put(extra, size)


def _enc_dc_refine(wtr: _BitWriter, comps: List[np.ndarray], al: int) -> None:
    """DC refinement: one raw bit (bit Al of the DC term) per block —
    no Huffman coding at all (G.1.2.1)."""
    for i in range(comps[0].shape[0]):
        for arr in comps:
            wtr.write((int(arr[i, 0]) >> al) & 1, 1)


def _enc_ac_first(out, arr: np.ndarray, ss: int, se: int, al: int) -> None:
    """AC first pass over one component's band: baseline run/size coding
    plus EOBn run accumulation across all-zero bands (G.1.2.2)."""
    eobrun = 0

    def flush() -> None:
        nonlocal eobrun
        if eobrun:
            n = eobrun.bit_length() - 1
            out.sym(n << 4)
            out.put(eobrun - (1 << n), n)
            eobrun = 0

    for i in range(arr.shape[0]):
        vals = [_pt_ac(int(v), al) for v in arr[i, ss : se + 1]]
        if not any(vals):
            eobrun += 1
            if eobrun == _MAX_EOBRUN:
                flush()
            continue
        flush()
        r = 0
        for v in vals:
            if v == 0:
                r += 1
                continue
            while r > 15:
                out.sym(0xF0)  # ZRL
                r -= 16
            size, extra = _magnitude(v)
            out.sym((r << 4) | size)
            out.put(extra, size)
            r = 0
        if r:  # trailing zeros in the band → this block opens an EOB run
            eobrun += 1
            if eobrun == _MAX_EOBRUN:
                flush()
    flush()


def _enc_ac_refine(out, arr: np.ndarray, ss: int, se: int, al: int) -> None:
    """AC refinement pass (G.1.2.3) — the intricate one: newly-significant
    coefficients get a (run<<4)|1 symbol + sign bit; already-nonzero
    coefficients contribute bare correction bits, BUFFERED until the next
    symbol (or the EOBn that closes their run) so decoder and encoder walk
    the band in lockstep."""
    eobrun = 0
    pending: List[int] = []  # correction bits owed after the next EOBn

    def flush() -> None:
        nonlocal eobrun, pending
        if eobrun:
            n = eobrun.bit_length() - 1
            out.sym(n << 4)
            out.put(eobrun - (1 << n), n)
            eobrun = 0
        for b in pending:
            out.put(b, 1)
        pending = []

    for i in range(arr.shape[0]):
        band = [int(v) for v in arr[i, ss : se + 1]]
        absv = [abs(v) >> al for v in band]
        eob = -1  # index of the last NEWLY-significant coefficient
        for j, a in enumerate(absv):
            if a == 1:
                eob = j
        r = 0
        br: List[int] = []  # this block's buffered correction bits
        for j, v in enumerate(band):
            a = absv[j]
            if a == 0:
                r += 1
                continue
            # ZRLs are due at EVERY nonzero once 16+ zeros accumulated
            # (unless the zeros can fold into the EOB run, j > eob);
            # each ZRL releases the correction bits buffered so far —
            # the decoder's ZRL walk consumes them at the nonzero
            # positions it steps over.
            while r > 15 and j <= eob:
                flush()
                out.sym(0xF0)
                r -= 16
                for bb in br:
                    out.put(bb, 1)
                br = []
            if a > 1:  # history-nonzero: correction bit only
                br.append(a & 1)
                continue
            # newly significant (a == 1)
            flush()
            out.sym((r << 4) | 1)
            out.put(1 if v > 0 else 0, 1)
            for bb in br:
                out.put(bb, 1)
            br = []
            r = 0
        if r > 0 or br:
            eobrun += 1
            pending.extend(br)
            if eobrun == _MAX_EOBRUN or len(pending) > 900:
                flush()
    flush()


def _dht_seg(tc_th: int, bits: Sequence[int], vals: Sequence[int]) -> bytes:
    return _seg(0xC4, bytes((tc_th,)) + bytes(bits) + bytes(vals))


def encode_jpeg_progressive(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    qtables: Optional[Tuple[Sequence[int], Sequence[int]]] = None,
) -> bytes:
    """Interleaved top-down pixels → progressive (SOF2) JFIF JPEG.

    Same coefficient pipeline as :func:`encode_jpeg` (identical FDCT,
    quantization and color transform — so a progressive decode must equal
    the baseline decode bit-for-bit on the same input, which is exactly
    what the tests pin); the entropy layer is the full Annex-G progressive
    machinery with per-scan optimal Huffman tables."""
    padded, quants, bw, bh = _prep_planes(width, height, channels, pixels, qtables)
    comps: List[np.ndarray] = []
    for p, q in zip(padded, quants):
        arr = np.empty((bh * bw, 64), dtype=np.int64)
        i = 0
        for by in range(bh):
            for bx in range(bw):
                arr[i] = _fdct_quant(p[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8], q)
                i += 1
        comps.append(arr)

    out = bytearray(_frame_segments(width, height, channels, quants, 0xC2))

    def sos(comp_sel: List[Tuple[int, int]], ss: int, se: int, ah: int, al: int) -> bytes:
        body = bytearray((len(comp_sel),))
        for cid, tsel in comp_sel:
            body += bytes((cid, tsel))
        body += bytes((ss, se, (ah << 4) | al))
        return _seg(0xDA, bytes(body))

    # ---- scan 1: DC first pass (interleaved), tables 0 (luma) / 1 (chroma)
    tab_of = [0] + [1] * (channels - 1)
    n_dc_tabs = 2 if channels == 3 else 1
    counters = [_SymCounter() for _ in range(n_dc_tabs)]
    _enc_dc_first(counters, comps, tab_of, al=1)
    tables = [_optimal_table(c.freq) for c in counters]
    for tid, (bits, vals) in enumerate(tables):
        out += _dht_seg(0x00 | tid, bits, vals)
    out += sos([(ci + 1, tab_of[ci] << 4) for ci in range(channels)], 0, 0, 0, 1)
    wtr = _BitWriter()
    writers = [_SymWriter(_build_codes(b, v), wtr) for b, v in tables]
    _enc_dc_first(writers, comps, tab_of, al=1)
    wtr.flush()
    out += wtr.out

    # ---- scans 2-3: AC first passes per component, two spectral bands
    for ci in range(channels):
        tid = 0 if ci == 0 else 1
        for ss, se in ((1, 5), (6, 63)):
            counter = _SymCounter()
            _enc_ac_first(counter, comps[ci], ss, se, al=1)
            bits, vals = _optimal_table(counter.freq)
            out += _dht_seg(0x10 | tid, bits, vals)
            out += sos([(ci + 1, tid)], ss, se, 0, 1)
            wtr = _BitWriter()
            _enc_ac_first(_SymWriter(_build_codes(bits, vals), wtr), comps[ci], ss, se, al=1)
            wtr.flush()
            out += wtr.out

    # ---- scan 4: DC refinement (interleaved, raw bits, no table)
    out += sos([(ci + 1, 0x00) for ci in range(channels)], 0, 0, 1, 0)
    wtr = _BitWriter()
    _enc_dc_refine(wtr, comps, al=0)
    wtr.flush()
    out += wtr.out

    # ---- scan 5: AC refinement per component, full band
    for ci in range(channels):
        tid = 0 if ci == 0 else 1
        counter = _SymCounter()
        _enc_ac_refine(counter, comps[ci], 1, 63, al=0)
        bits, vals = _optimal_table(counter.freq)
        out += _dht_seg(0x10 | tid, bits, vals)
        out += sos([(ci + 1, tid)], 1, 63, 1, 0)
        wtr = _BitWriter()
        _enc_ac_refine(_SymWriter(_build_codes(bits, vals), wtr), comps[ci], 1, 63, al=0)
        wtr.flush()
        out += wtr.out

    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------

from .mediacodec import _fail_loud


@_fail_loud
def decode_jpeg(data: bytes) -> Tuple[int, int, int, bytes]:
    """→ (width, height, channels, interleaved top-down pixel bytes);
    RGB for 3-component YCbCr input, grayscale passthrough for 1.
    Handles baseline (SOF0/SOF1) in one scan, progressive (SOF2) by
    accumulating coefficients across its scan script, and extended
    sequential ARITHMETIC coding (SOF9 + DAC, T.81 Annexes D/F) via
    :mod:`b_pdf_parser_spark.arithjpeg`. Progressive arithmetic (SOF10)
    is rejected loudly."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qtabs: Dict[int, np.ndarray] = {}
    dc_tabs: Dict[int, _HuffDecoder] = {}
    ac_tabs: Dict[int, _HuffDecoder] = {}
    restart_interval = 0
    frame = None  # (width, height, [(comp_id, qtab_id)])
    progressive = False
    arith = False
    dc_cond: Dict[int, Tuple[int, int]] = {}  # DAC: table id → (L, U)
    ac_cond: Dict[int, int] = {}  # DAC: table id → Kx
    saw_eoi = False
    n_prog_scans = 0
    coef: Optional[List[np.ndarray]] = None  # per comp: [nblocks, 64] zigzag
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"JPEG: expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:
            saw_eoi = True
            break
        if pos + 4 > len(data):
            raise ValueError("JPEG: truncated marker segment")
        ln = struct.unpack(">H", data[pos + 2 : pos + 4])[0]
        body = data[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                if pq != 0:
                    raise ValueError("JPEG: 16-bit quant tables unsupported")
                zzvals = body[p + 1 : p + 65]
                nat = np.zeros(64, dtype=np.float64)
                nat[list(ZIGZAG)] = np.frombuffer(zzvals, dtype=np.uint8)
                qtabs[tq] = nat[list(ZIGZAG)]  # keep in zigzag order
                p += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                (ac_tabs if tc else dc_tabs)[th] = _HuffDecoder(bits, vals)
                p += 17 + n
        elif marker == 0xDD:
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xCC:  # DAC — arithmetic conditioning (T.81 B.2.4.3)
            p = 0
            while p + 1 < len(body):
                tc, tb = body[p] >> 4, body[p] & 0x0F
                cs = body[p + 1]
                if tc == 0:
                    dc_cond[tb] = (cs & 0x0F, cs >> 4)  # (L, U)
                else:
                    ac_cond[tb] = cs  # Kx
                p += 2
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9):
            precision, h, w, nc = struct.unpack(">BHHB", body[:6])
            if precision != 8:
                raise ValueError("JPEG: only 8-bit precision supported")
            # decompression-bomb guard (same budget as mediacodec): a
            # ~25-byte hostile payload can declare 65000x65000x3 here and
            # the progressive coef arrays / output planes below would be
            # allocated straight from these untrusted dims
            _check_pixel_budget(w * h * max(nc, 1))
            comps = []
            for ci in range(nc):
                cid, sampling, tq = body[6 + 3 * ci : 9 + 3 * ci]
                if sampling != 0x11:
                    raise ValueError("JPEG: only 4:4:4 (1x1 sampling) supported")
                comps.append((cid, tq))
            frame = (w, h, comps)
            arith = marker == 0xC9
            if marker == 0xC2:
                progressive = True
                bw, bh = (w + 7) // 8, (h + 7) // 8
                coef = [np.zeros((bw * bh, 64), dtype=np.int64) for _ in comps]
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"JPEG: non-baseline frame 0x{marker:02x} unsupported")
        elif marker == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("JPEG: SOS before SOF")
            if progressive:
                if restart_interval:
                    raise ValueError(
                        "JPEG: restart markers in progressive scans unsupported"
                    )
                pos = _decode_prog_scan(
                    data, pos, body, frame, coef, dc_tabs, ac_tabs
                )
                n_prog_scans += 1
                continue
            w, h, comps = frame
            ns = body[0]
            if arith:
                from .arithjpeg import decode_scan_arith

                comp_index = {cid: ix for ix, (cid, _tq) in enumerate(comps)}
                scan_comps = []
                for si in range(ns):
                    cs, tdta = body[1 + 2 * si], body[2 + 2 * si]
                    scan_comps.append((comp_index[cs], tdta >> 4, tdta & 0x0F))
                return decode_scan_arith(
                    data, pos, frame, scan_comps, qtabs,
                    dc_cond, ac_cond, restart_interval,
                )
            scan_tabs = []
            for si in range(ns):
                cs, tdta = body[1 + 2 * si], body[2 + 2 * si]
                td, ta = tdta >> 4, tdta & 0x0F
                tq = dict(comps)[cs]
                scan_tabs.append((dc_tabs[td], ac_tabs[ta], qtabs[tq]))
            return _decode_scan(data, pos, w, h, scan_tabs, restart_interval)
        # else: APPn / COM / unknown — skipped by the length walk
    if progressive and coef is not None:
        if not saw_eoi:
            # fell off the end of the data mid-scan-script: a truncated
            # progressive stream must fail loud, not render partial scans
            raise ValueError("JPEG: progressive stream truncated (no EOI)")
        if n_prog_scans == 0:
            # SOF2+EOI with the scans stripped: zeroed accumulators would
            # render a fabricated mid-gray image — fail loud instead
            raise ValueError("JPEG: progressive frame has no scans")
        w, h, comps = frame
        bw, bh = (w + 7) // 8, (h + 7) // 8
        planes = []
        for (cid, tq), blocks in zip(comps, coef):
            plane = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
            i = 0
            for by in range(bh):
                for bx in range(bw):
                    plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _dequant_idct(
                        blocks[i], qtabs[tq]
                    )
                    i += 1
            planes.append(plane)
        return _planes_to_pixels(planes, w, h)
    raise ValueError("JPEG: no SOS marker found")


def _decode_prog_scan(
    data: bytes,
    pos: int,
    body: bytes,
    frame: Tuple[int, int, List[Tuple[int, int]]],
    coef: List[np.ndarray],
    dc_tabs: Dict[int, _HuffDecoder],
    ac_tabs: Dict[int, _HuffDecoder],
) -> int:
    """Decode ONE progressive scan into the coefficient accumulators
    (Annex G decode flows: G.2 / F.2.2 with successive approximation).
    Returns the position of the next marker after the entropy segment."""
    w, h, comps = frame
    bw, bh = (w + 7) // 8, (h + 7) // 8
    nblocks = bw * bh
    ns = body[0]
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ahal = body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    cid_to_idx = {cid: i for i, (cid, _tq) in enumerate(comps)}
    scan_comps = []  # (component index, dc table id, ac table id)
    for si in range(ns):
        cs, tdta = body[1 + 2 * si], body[2 + 2 * si]
        scan_comps.append((cid_to_idx[cs], tdta >> 4, tdta & 0x0F))
    br = _BitReader(data, pos)

    if ss == 0:  # DC scan (the only kind that may interleave components)
        if se != 0:
            raise ValueError("JPEG: DC scan must have Se=0")
        if ah == 0:  # first pass: diff coding of the Al-shifted DC
            pred = [0] * len(scan_comps)
            for i in range(nblocks):
                for si, (idx, td, _ta) in enumerate(scan_comps):
                    size = dc_tabs[td].decode(br)
                    diff = _extend(br.bits(size), size) if size else 0
                    pred[si] += diff
                    coef[idx][i, 0] = pred[si] << al
        else:  # refinement: one raw bit per block, no Huffman
            p1 = 1 << al
            for i in range(nblocks):
                for idx, _td, _ta in scan_comps:
                    if br.bit():
                        coef[idx][i, 0] |= p1
    else:  # AC scan — exactly one component per spec
        if len(scan_comps) != 1:
            raise ValueError("JPEG: progressive AC scan must be single-component")
        idx, _td, ta = scan_comps[0]
        act = ac_tabs[ta]
        blocks = coef[idx]
        eobrun = 0
        if ah == 0:  # first pass: run/size with EOBn runs
            for i in range(nblocks):
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = act.decode(br)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << r) - 1  # this block is part of the run
                        if r:
                            eobrun += br.bits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("JPEG: AC run overflows band")
                    blocks[i, k] = _extend(br.bits(s), s) << al
                    k += 1
        else:  # refinement pass (G.1.2.3 inverse)
            p1 = 1 << al
            m1 = -p1
            for i in range(nblocks):
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = act.decode(br)
                        r, s = rs >> 4, rs & 0x0F
                        if s:
                            if s != 1:
                                raise ValueError("JPEG: refinement size must be 1")
                            s = p1 if br.bit() else m1
                        elif r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += br.bits(r)
                            break
                        # advance over r zero-history coefficients (16 for
                        # ZRL), appending correction bits to nonzero ones
                        while k <= se:
                            v = int(blocks[i, k])
                            if v != 0:
                                if br.bit() and not (v & p1):
                                    blocks[i, k] = v + (p1 if v >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if s:
                            if k > se:
                                raise ValueError("JPEG: refinement insert past band")
                            blocks[i, k] = s
                        k += 1
                if eobrun > 0:
                    # remainder of the band: correction bits only
                    while k <= se:
                        v = int(blocks[i, k])
                        if v != 0:
                            if br.bit() and not (v & p1):
                                blocks[i, k] = v + (p1 if v >= 0 else m1)
                        k += 1
                    eobrun -= 1

    # skip padding to the next marker (0xFF fill bytes are legal)
    p = br.pos
    if p >= len(data) or data[p] != 0xFF:
        raise ValueError("JPEG: expected marker after progressive scan")
    while p + 1 < len(data) and data[p + 1] == 0xFF:
        p += 1
    return p


def _decode_scan(
    data: bytes,
    pos: int,
    width: int,
    height: int,
    scan_tabs: List[Tuple[_HuffDecoder, _HuffDecoder, np.ndarray]],
    restart_interval: int,
) -> Tuple[int, int, int, bytes]:
    nc = len(scan_tabs)
    bw, bh = (width + 7) // 8, (height + 7) // 8
    planes = [np.zeros((bh * 8, bw * 8), dtype=np.uint8) for _ in range(nc)]
    br = _BitReader(data, pos)
    pred = [0] * nc
    mcu = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                m = br.align_to_marker()
                if m is None or not (0xD0 <= m <= 0xD7):
                    raise ValueError("JPEG: expected restart marker")
                pred = [0] * nc
            for ci, (dct, act, quant) in enumerate(scan_tabs):
                zz = np.zeros(64, dtype=np.int64)
                size = dct.decode(br)
                diff = _extend(br.bits(size), size) if size else 0
                pred[ci] += diff
                zz[0] = pred[ci]
                k = 1
                while k < 64:
                    rs = act.decode(br)
                    run, size = rs >> 4, rs & 0x0F
                    if size == 0:
                        if run == 15:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += run
                    if k > 63:
                        raise ValueError("JPEG: AC run overflows block")
                    zz[k] = _extend(br.bits(size), size)
                    k += 1
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = _dequant_idct(
                    zz, quant
                )
            mcu += 1
    return _planes_to_pixels(planes, width, height)


def _planes_to_pixels(
    planes: List[np.ndarray], width: int, height: int
) -> Tuple[int, int, int, bytes]:
    """Padded component planes → cropped interleaved pixels (shared by the
    baseline and progressive reconstruction paths)."""
    if len(planes) == 1:
        return width, height, 1, planes[0][:height, :width].tobytes()
    y = planes[0][:height, :width].astype(np.int64)
    cb = planes[1][:height, :width].astype(np.int64)
    cr = planes[2][:height, :width].astype(np.int64)
    # inverse fixed-point transform (same >> 8 convention)
    r = y + ((359 * (cr - 128) + 128) >> 8)
    g = y - ((88 * (cb - 128) + 183 * (cr - 128) + 128) >> 8)
    b = y + ((454 * (cb - 128) + 128) >> 8)
    out = np.stack(
        [np.clip(c, 0, 255).astype(np.uint8) for c in (r, g, b)], axis=-1
    )
    return width, height, 3, out.tobytes()
