"""MJPEG-in-AVI container codec: RIFF walk round-trips, frame order,
header/stream/frame agreement enforcement, and loud failure on
out-of-scope streams (see b_pdf_parser_spark/avicodec.py)."""

import struct

import pytest

from b_pdf_parser_spark.avicodec import decode_avi, encode_avi_mjpeg
from b_pdf_parser_spark.jpegcodec import (
    QUANT_CHROMA,
    QUANT_LUM,
    decode_jpeg,
    encode_jpeg,
)

_Q8 = ((8,) + QUANT_LUM[1:], (8,) + QUANT_CHROMA[1:])


def _flat_frame(i, f, w, h, ch):
    bw = w // 8
    out = bytearray()
    for y in range(h):
        for x in range(w):
            b = (y // 8) * bw + x // 8
            for c in range(ch):
                out.append((i * 31 + f * 53 + b * 17 + c * 101) % 256)
    return bytes(out)


@pytest.mark.parametrize("ch", [1, 3])
def test_roundtrip_matches_per_frame_jpeg(ch):
    w, h, nf = 16, 8, 4
    frames = [_flat_frame(7, f, w, h, ch) for f in range(nf)]
    data = encode_avi_mjpeg(w, h, ch, frames, fps=15, qtables=_Q8)
    dw, dh, fps, n, decoded = decode_avi(data)
    assert (dw, dh, fps, n) == (w, h, 15, nf)
    for f in range(nf):
        # each frame must equal the standalone JPEG pipeline's decode —
        # and frame ORDER must survive the container walk
        assert decoded[f] == decode_jpeg(
            encode_jpeg(w, h, ch, frames[f], qtables=_Q8)
        )
    if ch == 1:  # grayscale flat blocks are bit-exact
        assert [d[3] for d in decoded] == frames


def test_header_frame_count_disagreement_fails_loud():
    data = bytearray(encode_avi_mjpeg(8, 8, 1, [_flat_frame(1, 0, 8, 8, 1)] * 2,
                                      qtables=_Q8))
    pos = bytes(data).index(b"avih") + 8
    # dwTotalFrames is the 5th dword of avih
    struct.pack_into("<I", data, pos + 16, 9)
    with pytest.raises(ValueError, match="promises 9 frames"):
        decode_avi(bytes(data))


def test_frame_dimension_disagreement_fails_loud():
    data = bytearray(encode_avi_mjpeg(8, 8, 1, [_flat_frame(1, 0, 8, 8, 1)],
                                      qtables=_Q8))
    pos = bytes(data).index(b"avih") + 8
    struct.pack_into("<I", data, pos + 32, 16)  # dwWidth
    with pytest.raises(ValueError, match="header says"):
        decode_avi(bytes(data))


def test_non_mjpg_handler_rejected():
    data = bytearray(encode_avi_mjpeg(8, 8, 1, [_flat_frame(1, 0, 8, 8, 1)],
                                      qtables=_Q8))
    pos = bytes(data).index(b"MJPG")
    data[pos : pos + 4] = b"XVID"
    with pytest.raises(ValueError, match="only MJPG"):
        decode_avi(bytes(data))


def test_dib_frames_rejected():
    data = bytearray(encode_avi_mjpeg(8, 8, 1, [_flat_frame(1, 0, 8, 8, 1)],
                                      qtables=_Q8))
    pos = bytes(data).index(b"00dc")  # first movi chunk (idx1 comes later)
    data[pos : pos + 4] = b"00db"
    with pytest.raises(ValueError, match="DIB"):
        decode_avi(bytes(data))


def test_not_an_avi():
    with pytest.raises(ValueError):
        decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        decode_avi(b"garbage")


def test_pixel_budget_is_cumulative_not_header_trusted(monkeypatch):
    # the bomb guard must count frames actually decoded — a header that
    # under-declares dwTotalFrames (or declares 0) must not bypass it
    import b_pdf_parser_spark.avicodec as avicodec

    data = bytearray(encode_avi_mjpeg(8, 8, 1,
                                      [_flat_frame(2, f, 8, 8, 1)
                                       for f in range(4)], qtables=_Q8))
    pos = bytes(data).index(b"avih") + 8
    struct.pack_into("<I", data, pos + 16, 0)  # header claims ZERO frames

    seen = []

    def tiny_budget(n):
        seen.append(n)
        if n > 2 * 8 * 8 * 3:  # allow two frames' worth, then trip
            raise ValueError("decode budget exceeded")

    monkeypatch.setattr(avicodec, "_check_pixel_budget", tiny_budget)
    with pytest.raises(ValueError, match="budget"):
        decode_avi(bytes(data))
    # the guard fired DURING the walk (cumulative), before all 4 frames
    assert len(seen) == 3
