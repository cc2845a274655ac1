"""From-scratch baseline JPEG (T.81): flat-block bit-exactness (the
oracle contract), bounded error on arbitrary content, restart-marker
resync, fixed-point YCbCr twins, marker-walk robustness, and loud
failure on unsupported frames (see b_pdf_parser_spark/jpegcodec.py)."""

import numpy as np
import pytest

from b_pdf_parser_spark.jpegcodec import (
    QUANT_CHROMA,
    QUANT_LUM,
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)

_Q8 = ((8,) + QUANT_LUM[1:], (8,) + QUANT_CHROMA[1:])


def _clamp8(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def rgb_to_ycbcr(r: int, g: int, b: int):
    """Scalar form of the codec's fixed-point BT.601 transform:
    ``(k·x + 128) >> 8`` with the rounded 256-scaled coefficients."""
    y = (77 * r + 150 * g + 29 * b + 128) >> 8
    cb = ((-43 * r - 85 * g + 128 * b + 128) >> 8) + 128
    cr = ((128 * r - 107 * g - 21 * b + 128) >> 8) + 128
    return (_clamp8(y), _clamp8(cb), _clamp8(cr))


def ycbcr_to_rgb(y: int, cb: int, cr: int):
    """Scalar inverse of :func:`rgb_to_ycbcr` (same >> 8 convention)."""
    r = y + ((359 * (cr - 128) + 128) >> 8)
    g = y - ((88 * (cb - 128) + 183 * (cr - 128) + 128) >> 8)
    b = y + ((454 * (cb - 128) + 128) >> 8)
    return (_clamp8(r), _clamp8(g), _clamp8(b))


def _flat_gray(i, w, h):
    bw = w // 8
    return bytes(
        (i * 31 + ((y // 8) * bw + x // 8) * 17) % 256
        for y in range(h)
        for x in range(w)
    )


def _flat_rgb(i, w, h):
    bw = w // 8
    out = bytearray()
    for y in range(h):
        for x in range(w):
            b = (y // 8) * bw + x // 8
            out += bytes(((i * 31 + b * 17 + c * 101) % 256) for c in range(3))
    return bytes(out)


@pytest.mark.parametrize("i", [0, 3, 17])
@pytest.mark.parametrize("dims", [(8, 8), (24, 16)])
def test_flat_gray_bit_exact(i, dims):
    # DC quant 8 divides 8*(v-128) for every v: constant blocks survive
    # DCT -> quantize -> Huffman -> decode with zero loss
    w, h = dims
    px = _flat_gray(i, w, h)
    assert decode_jpeg(encode_jpeg(w, h, 1, px, qtables=_Q8)) == (w, h, 1, px)


@pytest.mark.parametrize("i", [1, 9])
def test_flat_color_exact_through_fixed_point_ycbcr(i):
    # color can't be bit-exact (YCbCr is lossy) but must equal the
    # documented integer round trip exactly — what the SQL oracle replays
    w, h = 16, 16
    px = _flat_rgb(i, w, h)
    exp = bytearray()
    for k in range(0, len(px), 3):
        exp += bytes(ycbcr_to_rgb(*rgb_to_ycbcr(px[k], px[k + 1], px[k + 2])))
    assert decode_jpeg(encode_jpeg(w, h, 3, px, qtables=_Q8)) == (w, h, 3, bytes(exp))


def test_unit_quant_near_lossless_on_noise():
    rng = np.random.RandomState(7)
    w, h = 40, 24
    img = rng.randint(0, 256, size=h * w).astype(np.uint8)
    ones = (tuple([1] * 64),) * 2
    _, _, _, out = decode_jpeg(encode_jpeg(w, h, 1, img.tobytes(), qtables=ones))
    err = np.abs(np.frombuffer(out, np.uint8).astype(int) - img.astype(int))
    assert err.max() <= 2  # only DCT float rounding, no quantization loss


def test_restart_markers_do_not_change_output():
    rng = np.random.RandomState(11)
    w, h = 32, 24
    img = rng.randint(0, 256, size=h * w, dtype=np.uint8).tobytes()
    ones = (tuple([1] * 64),) * 2
    plain = decode_jpeg(encode_jpeg(w, h, 1, img, qtables=ones))
    for interval in (1, 3, 7):
        data = encode_jpeg(w, h, 1, img, qtables=ones, restart_interval=interval)
        assert b"\xff\xd0" in data or b"\xff\xd1" in data
        assert decode_jpeg(data) == plain


def test_annexk_default_tables_lossy_but_bounded_on_smooth_gradient():
    w, h = 32, 32
    img = bytes(min(255, x * 4 + y) for y in range(h) for x in range(w))
    _, _, _, out = decode_jpeg(encode_jpeg(w, h, 1, img))
    err = np.abs(
        np.frombuffer(out, np.uint8).astype(int)
        - np.frombuffer(img, np.uint8).astype(int)
    )
    assert err.mean() < 8  # smooth content survives Annex-K quantization


def test_odd_dimensions_pad_and_crop():
    rng = np.random.RandomState(3)
    w, h = 13, 11
    px = rng.randint(0, 256, size=h * w * 3, dtype=np.uint8).tobytes()
    dw, dh, dc, out = decode_jpeg(encode_jpeg(w, h, 3, px, qtables=_Q8))
    assert (dw, dh, dc) == (w, h, 3)
    assert len(out) == w * h * 3


def test_com_and_app_segments_are_skipped():
    data = encode_jpeg(8, 8, 1, _flat_gray(2, 8, 8), qtables=_Q8)
    assert b"synthetic corpus" in data  # COM present -> walk had to skip it
    # splice an extra APP15 segment after SOI: decoder must step over it
    spliced = data[:2] + b"\xff\xef\x00\x04\xab\xcd" + data[2:]
    assert decode_jpeg(spliced) == decode_jpeg(data)


def test_bad_inputs_raise():
    good = encode_jpeg(8, 8, 1, _flat_gray(1, 8, 8), qtables=_Q8)
    with pytest.raises(ValueError):
        decode_jpeg(b"\x89PNG not a jpeg")
    with pytest.raises(ValueError):
        decode_jpeg(good[:-20])  # truncated entropy segment
    with pytest.raises(ValueError):
        # SOF2 marker splice over a baseline stream: the scan script is
        # invalid progressive (full-band interleaved AC), so the decoder
        # must raise rather than mis-decode it as a progressive file
        decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc2"))
    with pytest.raises(ValueError):
        encode_jpeg(8, 8, 2, bytes(128), qtables=_Q8)  # 2-channel unsupported


def test_ycbcr_fixed_point_twins_match_scalar_vs_vectorized():
    # the codec's vectorized transforms (forward in _prep_planes, inverse in
    # _planes_to_pixels) equal the scalar helpers above pixel for pixel
    from b_pdf_parser_spark.jpegcodec import _planes_to_pixels, _prep_planes

    w, h = 25, 8
    px = np.random.RandomState(5).randint(0, 256, w * h * 3).astype(np.uint8).tobytes()
    planes, _, _, _ = _prep_planes(w, h, 3, px, None)
    ycc = [tuple(int(p[i // w, i % w]) for p in planes) for i in range(w * h)]
    assert ycc == [rgb_to_ycbcr(*px[3 * i:3 * i + 3]) for i in range(w * h)]
    back = _planes_to_pixels(planes, w, h)[3]
    assert back == b"".join(bytes(ycbcr_to_rgb(*t)) for t in ycc)
    assert max(abs(a - b) for a, b in zip(back, px)) <= 3


# ---------------------------------------------------------------------------
# Progressive (SOF2, Annex G) — the progressive encoder shares the entire
# coefficient pipeline with the baseline encoder, so a progressive decode
# must be BIT-IDENTICAL to the baseline decode of the same pixels.
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "w,h,c",
    [(8, 8, 1), (16, 16, 3), (13, 11, 3), (29, 17, 1), (64, 48, 3)],
)
def test_progressive_decode_equals_baseline_decode(w, h, c):
    rng = np.random.RandomState(w * 1000 + h * 10 + c)
    px = rng.randint(0, 256, size=h * w * c, dtype=np.uint8).tobytes()
    base = decode_jpeg(encode_jpeg(w, h, c, px, qtables=_Q8))
    prog = encode_jpeg_progressive(w, h, c, px, qtables=_Q8)
    # really SOF2 (before the first SOS), not baseline
    assert prog.index(b"\xff\xc2") < prog.index(b"\xff\xda")
    assert decode_jpeg(prog) == base


def test_progressive_flat_blocks_bit_exact():
    # the oracle contract: flat 8x8 blocks survive DCT+quant exactly,
    # and the progressive scan script must reassemble them exactly too
    for i in (0, 3, 17):
        px = _flat_gray(i, 32, 16)
        dw, dh, dc, out = decode_jpeg(
            encode_jpeg_progressive(32, 16, 1, px, qtables=_Q8)
        )
        assert (dw, dh, dc) == (32, 16, 1)
        assert out == px


def test_progressive_annexk_bounded_on_smooth_gradient():
    w, h = 40, 24
    px = bytes(((x * 3 + y * 2) // 4) % 256 for y in range(h) for x in range(w))
    # gradient is smooth enough that even the lossy Annex-K tables stay close
    _, _, _, base = decode_jpeg(encode_jpeg(w, h, 1, px))
    _, _, _, prog = decode_jpeg(encode_jpeg_progressive(w, h, 1, px))
    assert prog == base  # identical coefficient pipeline -> identical output


def test_progressive_truncated_scan_raises():
    prog = encode_jpeg_progressive(16, 16, 3, bytes(16 * 16 * 3), qtables=_Q8)
    with pytest.raises(ValueError):
        decode_jpeg(prog[:-10])


def test_progressive_frame_without_scans_raises():
    # SOF2 + EOI with the scans stripped must not render fabricated gray
    prog = encode_jpeg_progressive(16, 16, 1, bytes([255] * 256), qtables=_Q8)
    sos = prog.index(b"\xff\xda")
    eoi = prog.rindex(b"\xff\xd9")
    with pytest.raises(ValueError):
        decode_jpeg(prog[:sos] + prog[eoi:])


def test_hostile_sof_dims_rejected_before_allocation():
    # ADVICE r5: a ~25-byte payload declaring 65000x65000x3 must hit the
    # sample-budget guard (ValueError) instead of requesting ~94 GiB of
    # progressive coefficient arrays (MemoryError / executor OOM-kill)
    import struct

    body = struct.pack(">BHHB", 8, 65000, 65000, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    for sof in (0xC0, 0xC2):  # baseline and progressive frames alike
        seg = bytes([0xFF, sof]) + struct.pack(">H", len(body) + 2) + body
        with pytest.raises(ValueError, match="sample budget"):
            decode_jpeg(b"\xff\xd8" + seg)
