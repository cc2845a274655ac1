"""Arithmetic-coded JPEG (T.81 Annex D QM coder + Annex F sequential
models): QM-coder mirror consistency and compression sanity, pipeline
equality with the Huffman encoders on identical pixels, flat-block
exactness, restart resync, and loud failure on the still-unsupported
progressive arithmetic frame (see b_pdf_parser_spark/arithjpeg.py).

The package only decodes arithmetic JPEG; the mirrored encoder below
(T.81 Annex D.1 coder + the Annex F models, SOF9 frames with DAC and
optional restarts) builds the inputs, here and in
tests/test_codec_fuzz.py."""

import struct
from typing import Optional, Tuple

import numpy as np
import pytest

from b_pdf_parser_spark.arithjpeg import (
    _AC_KX_DEFAULT,
    _AC_STAT_BINS,
    _DC_L_DEFAULT,
    _DC_STAT_BINS,
    _DC_U_DEFAULT,
    _FIXED_BIN,
    _QE,
    QmDecoder,
)
from b_pdf_parser_spark.jpegcodec import (
    QUANT_CHROMA,
    QUANT_LUM,
    decode_jpeg,
    encode_jpeg,
)

_Q8 = ((8,) + QUANT_LUM[1:], (8,) + QUANT_CHROMA[1:])


class QmEncoder:
    """T.81 Annex D.1 encoder.

    Register layout: ``c`` holds the code with 16 fractional bits, 3
    spacer bits and the byte window above them (a byte is extracted at
    ``c >> 19``); ``a`` is the 16-bit interval size kept in
    ``[0x8000, 0x10000]`` by renormalization. The MPS owns the lower
    subinterval unless conditional exchange applies. Instead of the
    spec's stacked-0xFF machinery, carries propagate directly into the
    already-produced byte buffer (a carry can never run off the front of
    the buffer because the total code value stays below 1.0); the
    mandatory 0x00 stuffing after 0xFF data bytes is applied once in
    :meth:`finish`, which is serialization-equivalent to stuffing
    online."""

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11  # 8 byte bits + 3 spacer bits before the first byteout
        self.raw = bytearray()

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            # carry: walk back through any 0xFF bytes (they become 0x00)
            i = len(self.raw) - 1
            while i >= 0 and self.raw[i] == 0xFF:
                self.raw[i] = 0
                i -= 1
            if i < 0:  # value >= 1.0 is impossible; defensive
                raise ValueError("arithmetic encoder carry underflow")
            self.raw[i] += 1
            t &= 0xFF
        self.raw.append(t)
        self.c &= 0x7FFFF
        self.ct = 8

    def encode(self, stats: bytearray, ib: int, bit: int) -> None:
        sv = stats[ib]
        idx = sv & 0x7F
        mps = sv >> 7
        qe, nlps, nmps, sw = _QE[idx]
        a = self.a - qe
        if bit == mps:
            if a >= 0x8000:
                self.a = a
                return
            if a < qe:  # conditional exchange: MPS takes the upper interval
                self.c += a
                self.a = qe
            else:
                self.a = a
            stats[ib] = (mps << 7) | nmps
        else:
            if a >= qe:  # usual: LPS takes the upper interval
                self.c += a
                self.a = qe
            else:  # exchange: LPS keeps the lower interval
                self.a = a
            stats[ib] = ((mps ^ sw) << 7) | nlps
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()

    def finish(self) -> bytes:
        """FLUSH (D.1.8): pin the code to the interval with maximal
        trailing zeros, push out the remaining bits, then apply JPEG
        byte stuffing."""
        t = (self.c + self.a - 1) & ~0xFFFF
        if t < self.c:
            t += 0x8000
        self.c = t
        self.c <<= self.ct
        self._byteout()
        self.c <<= 8
        self._byteout()
        out = bytearray()
        for b in self.raw:
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


def _enc_dc(enc: QmEncoder, stats: bytearray, ctx: int, diff: int,
            lo: int, up: int) -> int:
    """Encode one DC difference; returns the next conditioning context."""
    if diff == 0:
        enc.encode(stats, ctx, 0)
        return 0
    enc.encode(stats, ctx, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(stats, ctx + 1, sign)
    t = (-diff if sign else diff) - 1
    st = ctx + 2 + sign
    if t == 0:
        enc.encode(stats, st, 0)
        mcat = 0
    else:
        enc.encode(stats, st, 1)
        mcat = 1
        st = 20
        while (mcat << 1) <= t:
            enc.encode(stats, st, 1)
            mcat <<= 1
            st += 1
            if mcat == 0x8000:
                raise ValueError("JPEG: DC difference magnitude overflow")
        enc.encode(stats, st, 0)
    stm = st + 14
    mm = mcat >> 1
    while mm:
        enc.encode(stats, stm, 1 if (t & mm) else 0)
        mm >>= 1
    # F.1.4.4.1.2 conditioning category for the NEXT block
    if mcat < (1 << lo) >> 1:
        return 0
    if mcat > (1 << up) >> 1:
        return 12 + 4 * sign
    return 4 + 4 * sign


def _enc_ac(enc: QmEncoder, stats: bytearray, fixed: bytearray,
            zz: np.ndarray, kx: int) -> None:
    """Encode zigzag AC coefficients zz[1..63] of one block."""
    ke = 0
    for k in range(63, 0, -1):
        if zz[k]:
            ke = k
            break
    k = 1
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(stats, st, 0)  # not EOB
        while zz[k] == 0:
            enc.encode(stats, st + 1, 0)
            st += 3
            k += 1
        enc.encode(stats, st + 1, 1)
        v = int(zz[k])
        sign = 1 if v < 0 else 0
        enc.encode(fixed, 0, sign)
        st += 2
        t = (-v if sign else v) - 1
        if t == 0:
            enc.encode(stats, st, 0)
            mcat = 0
        else:
            enc.encode(stats, st, 1)
            if t == 1:
                enc.encode(stats, st, 0)
                mcat = 1
            else:
                enc.encode(stats, st, 1)
                mcat = 2
                st = 189 if k <= kx else 217
                while (mcat << 1) <= t:
                    enc.encode(stats, st, 1)
                    mcat <<= 1
                    st += 1
                    if mcat == 0x8000:
                        raise ValueError("JPEG: AC magnitude overflow")
                enc.encode(stats, st, 0)
        stm = st + 14
        mm = mcat >> 1
        while mm:
            enc.encode(stats, stm, 1 if (t & mm) else 0)
            mm >>= 1
        k += 1
    if ke < 63:
        enc.encode(stats, 3 * ke, 1)  # EOB at position ke+1


def encode_jpeg_arith(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    qtables: Optional[Tuple] = None,
    restart_interval: int = 0,
) -> bytes:
    """Interleaved top-down pixels → extended sequential arithmetic-coded
    JFIF JPEG (SOF9), 4:4:4, default conditioning (DAC emitted
    explicitly), optional restart markers (statistics areas, DC
    predictors and the coder are re-initialized at each RST, per
    F.1.4.x)."""
    from b_pdf_parser_spark.jpegcodec import _fdct_quant, _frame_segments, _prep_planes, _seg

    padded, quants, bw, bh = _prep_planes(width, height, channels, pixels, qtables)

    out = bytearray(_frame_segments(width, height, channels, quants, 0xC9))
    # DAC: DC table 0/1 with (U<<4)|L, AC table 0/1 with Kx
    dac = bytearray()
    ntab = 2 if channels == 3 else 1
    for tb in range(ntab):
        dac += bytes((0x00 | tb, (_DC_U_DEFAULT << 4) | _DC_L_DEFAULT))
        dac += bytes((0x10 | tb, _AC_KX_DEFAULT))
    out += _seg(0xCC, bytes(dac))
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray((channels,))
    for ci in range(channels):
        sos += bytes((ci + 1, 0x00 if ci == 0 else 0x11))
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, bytes(sos))

    tab_of = [0] + [1] * (channels - 1)

    def fresh_state():
        return (
            QmEncoder(),
            {t: bytearray(_DC_STAT_BINS) for t in range(ntab)},
            {t: bytearray(_AC_STAT_BINS) for t in range(ntab)},
            bytearray((_FIXED_BIN,)),
            [0] * channels,
            [0] * channels,
        )

    enc, dc_stats, ac_stats, fixed, pred, dc_ctx = fresh_state()
    mcu = 0
    rst = 0
    for by in range(bh):
        for bx in range(bw):
            if restart_interval and mcu and mcu % restart_interval == 0:
                out += enc.finish()
                out += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                enc, dc_stats, ac_stats, fixed, pred, dc_ctx = fresh_state()
            for ci in range(channels):
                zz = _fdct_quant(
                    padded[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8],
                    quants[ci],
                )
                t = tab_of[ci]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                dc_ctx[ci] = _enc_dc(
                    enc, dc_stats[t], dc_ctx[ci], diff,
                    _DC_L_DEFAULT, _DC_U_DEFAULT,
                )
                _enc_ac(enc, ac_stats[t], fixed, zz, _AC_KX_DEFAULT)
            mcu += 1
    out += enc.finish()
    out += b"\xff\xd9"
    return bytes(out)


def _roundtrip_bits(bits, n_bins=4):
    """Encode a bit sequence across n_bins adaptive contexts (round-robin)
    and decode it back through the mirrored decoder."""
    enc = QmEncoder()
    stats = bytearray(n_bins)
    for j, b in enumerate(bits):
        enc.encode(stats, j % n_bins, b)
    data = enc.finish() + b"\xff\xd9"  # terminate like a real scan
    dec = QmDecoder(data, 0)
    stats2 = bytearray(n_bins)
    return [dec.decode(stats2, j % n_bins) for j in range(len(bits))], data


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("p_one", [0.02, 0.2, 0.5, 0.9])
def test_qm_coder_roundtrip_random(seed, p_one):
    rng = np.random.RandomState(seed * 17 + int(p_one * 100))
    bits = (rng.random_sample(4000) < p_one).astype(int).tolist()
    got, _ = _roundtrip_bits(bits)
    assert got == bits


def test_qm_coder_roundtrip_adversarial_patterns():
    # long MPS runs, alternations, and bursts — exercises renorm, carry
    # propagation and conditional-exchange paths
    bits = [0] * 500 + [1] * 500 + [0, 1] * 250 + [1, 1, 0] * 100
    got, _ = _roundtrip_bits(bits, n_bins=1)
    assert got == bits


def test_qm_coder_compression_near_entropy():
    # a wrong Table D.3 transition still round-trips (both sides share the
    # table) but shows up here: a p=0.05 source has H ~ 0.286 bits/symbol,
    # so 20k symbols must compress well below 1 kB (plus adaptation ramp)
    rng = np.random.RandomState(42)
    bits = (rng.random_sample(20000) < 0.05).astype(int).tolist()
    got, data = _roundtrip_bits(bits, n_bins=1)
    assert got == bits
    assert len(data) < 1100  # entropy bound ~715 B; allow adaptation slack


def _flat_gray(i, w, h):
    bw = w // 8
    return bytes(
        (i * 31 + ((y // 8) * bw + x // 8) * 17) % 256
        for y in range(h)
        for x in range(w)
    )


@pytest.mark.parametrize("i", [0, 5, 21])
def test_flat_gray_bit_exact(i):
    w, h = 24, 16
    px = _flat_gray(i, w, h)
    data = encode_jpeg_arith(w, h, 1, px, qtables=_Q8)
    assert data[3] != 0xC4  # no DHT in an arithmetic stream
    assert b"\xff\xc9" in data and b"\xff\xcc" in data  # SOF9 + DAC
    assert decode_jpeg(data) == (w, h, 1, px)


@pytest.mark.parametrize("channels", [1, 3])
@pytest.mark.parametrize("seed", [3, 11])
def test_equals_huffman_pipeline_on_random_pixels(channels, seed):
    # arithmetic coding is lossless entropy coding over the SAME quantized
    # coefficients -> decoded output must be byte-identical to the Huffman
    # encoder's decode for any input, not just flat blocks
    rng = np.random.RandomState(seed)
    w, h = 29, 18  # odd dims: pad/crop path included
    px = rng.randint(0, 256, size=h * w * channels, dtype=np.uint8).tobytes()
    huff = decode_jpeg(encode_jpeg(w, h, channels, px))
    arith = decode_jpeg(encode_jpeg_arith(w, h, channels, px))
    assert arith == huff


def test_restart_markers_resync_and_match_plain():
    rng = np.random.RandomState(13)
    w, h = 40, 24
    px = rng.randint(0, 256, size=h * w, dtype=np.uint8).tobytes()
    plain = decode_jpeg(encode_jpeg_arith(w, h, 1, px, qtables=_Q8))
    for interval in (1, 3, 7):
        data = encode_jpeg_arith(
            w, h, 1, px, qtables=_Q8, restart_interval=interval
        )
        assert b"\xff\xd0" in data
        assert decode_jpeg(data) == plain


def test_arith_beats_huffman_on_typical_content():
    # the point of arithmetic coding: on smooth content with default
    # tables it should not be larger than the Huffman encoding
    w, h = 64, 64
    px = bytes(min(255, x * 2 + y) for y in range(h) for x in range(w))
    assert len(encode_jpeg_arith(w, h, 1, px)) < len(encode_jpeg(w, h, 1, px))


def test_progressive_arithmetic_rejected_loud():
    data = bytearray(encode_jpeg_arith(8, 8, 1, _flat_gray(1, 8, 8), qtables=_Q8))
    idx = bytes(data).index(b"\xff\xc9")
    data[idx + 1] = 0xCA  # SOF10: progressive arithmetic
    with pytest.raises(ValueError, match="non-baseline frame"):
        decode_jpeg(bytes(data))


def test_truncation_fails_loud():
    # noisy pixels -> the entropy segment is long, so cutting shortly
    # after SOS leaves the decoder starved mid-scan
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=32 * 32, dtype=np.uint8).tobytes()
    data = encode_jpeg_arith(32, 32, 1, px, qtables=_Q8)
    sos = data.index(b"\xff\xda")
    with pytest.raises(ValueError):
        decode_jpeg(data[: sos + 20])
