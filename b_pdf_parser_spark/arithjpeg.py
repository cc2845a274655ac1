"""Arithmetic-coded JPEG (ITU-T T.81 Annex D coder + Annex F sequential
DC/AC statistical models) — the decoder, from scratch.

``decode_jpeg`` routes SOF9 (extended sequential DCT, arithmetic coding)
frames with their DAC conditioning segments to ``decode_scan_arith``.
The coefficient pipeline after entropy decoding (dequantization, IDCT,
fixed-point YCbCr) is shared with :mod:`b_pdf_parser_spark.jpegcodec`,
and arithmetic coding is lossless entropy coding, so a decoded
arithmetic JPEG is byte-identical to the decoded Huffman JPEG of the
same pixels. The mirrored encoder that builds test inputs lives in
tests/test_arithjpeg.py.

Everything here derives from the public spec (ITU-T T.81, Annexes D and
F): the QM-coder interval subdivision with conditional MPS/LPS exchange,
the 113-state probability estimation table (Table D.3; the same state
machine is reproduced in public-domain ``jaricom`` sources, plus the
one extra ~0.5-probability fixed bin used for AC sign decisions), byte
stuffing (a 0x00 after every 0xFF in the entropy segment), and the
Annex-F statistical models: DC differences conditioned on the previous
difference's sign/size class (default conditioning bounds L=0, U=1), AC
coefficients on zigzag position with the low/high spectral split at Kx
(default 5). Interop caveat, stated honestly: there is no external
arithmetic-JPEG decoder in this sandbox to cross-validate against, so
the pinned properties are (a) encoder/decoder mirror-consistency on
randomized images, (b) equality with the Huffman pipeline
on identical pixels, and (c) compression close to the entropy bound on
skewed synthetic sources (a wrong state-transition entry would still
round-trip but shows up as a compression-efficiency regression).

Progressive arithmetic (SOF10) stays out of scope and is rejected loudly
by ``decode_jpeg``.

Reference parity note: the reference pipeline (see SURVEY.md §2) has no
codec at all — this module's contract is the public spec, cited above.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

import numpy as np

# ---------------------------------------------------------------------------
# Probability estimation state machine — T.81 Table D.3.
# (qe, next_lps, next_mps, switch); index 113 is the fixed ~0.5 bin the
# AC sign decision uses (it transitions to itself and never switches).
# ---------------------------------------------------------------------------

_QE: List[Tuple[int, int, int, int]] = [
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1),
    (0x5A1D, 113, 113, 0),  # fixed ~0.5 bin (AC sign)
]

_FIXED_BIN = 113

# default conditioning (T.81 Table F.x defaults): DC bounds L=0, U=1;
# AC low/high spectral split Kx=5
_DC_L_DEFAULT = 0
_DC_U_DEFAULT = 1
_AC_KX_DEFAULT = 5

_DC_STAT_BINS = 64
_AC_STAT_BINS = 256


class QmDecoder:
    """T.81 Annex D.2 decoder, bit-fed: ``c`` is the (code − interval
    base) window at the current renormalization scale, fed one bit per
    renorm; comparisons against integer subinterval thresholds are exact
    because every threshold is an integer at the current scale. The bit
    reader consumes the stuffed entropy segment (0xFF 0x00 → data 0xFF),
    stops at the first real marker and feeds zero bits afterwards —
    mirroring the encoder's zero-padded FLUSH."""

    def __init__(self, data: bytes, pos: int) -> None:
        self._data = data
        self._pos = pos
        self._bitbuf = 0
        self._nbits = 0
        self._ended = False
        self.a = 0x10000
        self.c = 0
        for _ in range(16):
            self.c = (self.c << 1) | self._bit()

    def _next_byte(self) -> int:
        if self._ended:
            return 0
        d = self._data
        p = self._pos
        if p >= len(d):
            raise ValueError("JPEG: arithmetic entropy segment truncated")
        b = d[p]
        if b == 0xFF:
            if p + 1 >= len(d):
                raise ValueError("JPEG: arithmetic entropy segment truncated")
            if d[p + 1] == 0x00:  # stuffed data byte
                self._pos = p + 2
                return 0xFF
            self._ended = True  # real marker: stop, feed zeros from now on
            return 0
        self._pos = p + 1
        return b

    def _bit(self) -> int:
        if self._nbits == 0:
            self._bitbuf = self._next_byte()
            self._nbits = 8
        self._nbits -= 1
        return (self._bitbuf >> self._nbits) & 1

    def marker_scan_pos(self) -> int:
        """Byte offset of the next real marker at/after the reader
        position (the entropy segment contains no bare 0xFF except
        markers, by the stuffing rule)."""
        d = self._data
        p = self._pos
        if self._ended:
            return p
        while p + 1 < len(d):
            if d[p] == 0xFF and d[p + 1] != 0x00:
                return p
            p += 2 if (d[p] == 0xFF and d[p + 1] == 0x00) else 1
        raise ValueError("JPEG: no marker after arithmetic entropy segment")

    def decode(self, stats: bytearray, ib: int) -> int:
        sv = stats[ib]
        idx = sv & 0x7F
        mps = sv >> 7
        qe, nlps, nmps, sw = _QE[idx]
        a = self.a - qe
        if self.c < a:
            # lower subinterval
            if a >= 0x8000:
                self.a = a
                return mps
            if a < qe:  # exchange active: lower = LPS
                bit = mps ^ 1
                stats[ib] = ((mps ^ sw) << 7) | nlps
            else:
                bit = mps
                stats[ib] = (mps << 7) | nmps
            self.a = a
        else:
            # upper subinterval
            self.c -= a
            if a < qe:  # exchange active: upper = MPS
                bit = mps
                stats[ib] = (mps << 7) | nmps
            else:
                bit = mps ^ 1
                stats[ib] = ((mps ^ sw) << 7) | nlps
            self.a = qe
        while self.a < 0x8000:
            self.a <<= 1
            self.c = (self.c << 1) | self._bit()
        return bit


# ---------------------------------------------------------------------------
# Annex F sequential statistical models (shared bin layouts, see module
# docstring). DC bins per table: context groups at 0/4/8/12/16 (zero /
# small± / large± previous diff), magnitude-category tree at 20..34,
# mantissa bins 14 past the category bin. AC bins per table: 3 per
# zigzag position k (EOB / zero-run / first-magnitude), high-magnitude
# trees at 189 (k <= Kx) and 217 (k > Kx).
# ---------------------------------------------------------------------------


def _dec_dc(dec: QmDecoder, stats: bytearray, ctx: int,
            lo: int, up: int) -> Tuple[int, int]:
    """→ (DC difference, next conditioning context)."""
    if dec.decode(stats, ctx) == 0:
        return 0, 0
    sign = dec.decode(stats, ctx + 1)
    st = ctx + 2 + sign
    m = dec.decode(stats, st)
    if m:
        st = 20
        while dec.decode(stats, st):
            m <<= 1
            st += 1
            if m == 0x8000:
                raise ValueError("JPEG: DC difference magnitude overflow")
    if m < (1 << lo) >> 1:
        nctx = 0
    elif m > (1 << up) >> 1:
        nctx = 12 + 4 * sign
    else:
        nctx = 4 + 4 * sign
    v = m
    st += 14
    mm = m
    while True:
        mm >>= 1
        if not mm:
            break
        if dec.decode(stats, st):
            v |= mm
    v += 1
    return (-v if sign else v), nctx


def _dec_ac(dec: QmDecoder, stats: bytearray, fixed: bytearray,
            zz: np.ndarray, kx: int) -> None:
    """Decode zigzag AC coefficients into zz[1..63] of one block."""
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(stats, st):
            return  # EOB
        while dec.decode(stats, st + 1) == 0:
            st += 3
            k += 1
            if k > 63:
                raise ValueError("JPEG: AC zero-run past end of block")
        sign = dec.decode(fixed, 0)
        st += 2
        m = dec.decode(stats, st)
        if m:
            if dec.decode(stats, st):
                m = 2
                st = 189 if k <= kx else 217
                while dec.decode(stats, st):
                    m <<= 1
                    st += 1
                    if m == 0x8000:
                        raise ValueError("JPEG: AC magnitude overflow")
        v = m
        st += 14
        mm = m
        while True:
            mm >>= 1
            if not mm:
                break
            if dec.decode(stats, st):
                v |= mm
        v += 1
        zz[k] = -v if sign else v
        k += 1


# ---------------------------------------------------------------------------
# Scan decoder
# ---------------------------------------------------------------------------


def decode_scan_arith(
    data: bytes,
    pos: int,
    frame: Tuple[int, int, List[Tuple[int, int]]],
    scan_comps: List[Tuple[int, int, int]],
    qtabs: Dict[int, np.ndarray],
    dc_cond: Dict[int, Tuple[int, int]],
    ac_cond: Dict[int, int],
    restart_interval: int,
) -> Tuple[int, int, int, bytes]:
    """Decode ONE interleaved sequential arithmetic scan starting at the
    entropy data offset ``pos``; ``scan_comps`` is ``[(comp_index_in_
    frame, dc_table_id, ac_table_id)]`` in scan order. Returns the same
    (width, height, channels, pixels) tuple as the Huffman path."""
    from .jpegcodec import _dequant_idct, _planes_to_pixels

    w, h, comps = frame
    if len(scan_comps) != len(comps):
        raise ValueError("JPEG: arithmetic non-interleaved scans unsupported")
    nc = len(comps)
    bw, bh = (w + 7) // 8, (h + 7) // 8

    dc_stats: Dict[int, bytearray] = {}
    ac_stats: Dict[int, bytearray] = {}
    for _, td, ta in scan_comps:
        dc_stats[td] = bytearray(_DC_STAT_BINS)
        ac_stats[ta] = bytearray(_AC_STAT_BINS)
    fixed = bytearray((_FIXED_BIN,))
    pred = [0] * nc
    dc_ctx = [0] * nc

    def reset_stats():
        for td in dc_stats:
            dc_stats[td] = bytearray(_DC_STAT_BINS)
        for ta in ac_stats:
            ac_stats[ta] = bytearray(_AC_STAT_BINS)

    dec = QmDecoder(data, pos)
    planes = [np.zeros((bh * 8, bw * 8), dtype=np.uint8) for _ in comps]
    zz = np.zeros(64, dtype=np.int64)
    mcu = 0
    rst_expect = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                mpos = dec.marker_scan_pos()
                if mpos + 1 >= len(data) or data[mpos] != 0xFF or \
                        data[mpos + 1] != 0xD0 + rst_expect:
                    raise ValueError("JPEG: expected restart marker "
                                     f"RST{rst_expect} at {mpos}")
                rst_expect = (rst_expect + 1) % 8
                dec = QmDecoder(data, mpos + 2)
                reset_stats()
                fixed[0] = _FIXED_BIN
                pred = [0] * nc
                dc_ctx = [0] * nc
            for si, (ci, td, ta) in enumerate(scan_comps):
                lo, up = dc_cond.get(td, (_DC_L_DEFAULT, _DC_U_DEFAULT))
                kx = ac_cond.get(ta, _AC_KX_DEFAULT)
                zz[:] = 0
                diff, dc_ctx[si] = _dec_dc(dec, dc_stats[td], dc_ctx[si], lo, up)
                pred[si] += diff
                zz[0] = pred[si]
                _dec_ac(dec, ac_stats[ta], fixed, zz, kx)
                tq = comps[ci][1]
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = \
                    _dequant_idct(zz, qtabs[tq])
            mcu += 1
    return _planes_to_pixels(planes, w, h)
