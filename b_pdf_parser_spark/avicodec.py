"""Motion-JPEG video in an AVI (RIFF) container — encoder and decoder,
from scratch, using the public RIFF/AVI layout (Microsoft "AVI RIFF File
Reference": ``RIFF('AVI ' LIST('hdrl' 'avih' LIST('strl' 'strh'
'strf')) LIST('movi' '00dc'...) 'idx1')``) and the from-scratch baseline
JPEG codec for the per-frame payloads.

This closes the last multimodal stub class (compressed VIDEO) with a
real, widely-used codec: MJPEG is plain intra-frame JPEG per frame, so
the whole entropy/DCT surface is the already-value-oracled
:mod:`b_pdf_parser_spark.jpegcodec`, and what this module adds — and
what the corpus oracles check — is the container walk (chunk sizes,
word alignment, header/stream agreement, the movi scan).

Deliberately out of scope (stated, not silently skipped): inter-frame
codecs (H.26x/VPx/AV1 need entropy+motion machinery far beyond this
sandbox's stdlib), uncompressed DIB frames ('00db'), and audio streams
inside AVI — all fail loud with ValueError.

Reference parity note: the reference pipeline (SURVEY.md §2) has no
media handling at all; the contract here is the public spec.
"""

from __future__ import annotations

import struct
from typing import List, Tuple

from .mediacodec import _check_pixel_budget, _fail_loud


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _list(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def encode_avi_mjpeg(
    width: int,
    height: int,
    channels: int,
    frames: List[bytes],
    fps: int = 10,
    qtables=None,
) -> bytes:
    """Interleaved top-down pixel buffers (one per frame) → MJPEG AVI.
    Each frame is encoded with the baseline JPEG encoder (so flat-block
    frames keep the bit-exact decode contract the oracles rely on)."""
    from .jpegcodec import encode_jpeg

    if not frames:
        raise ValueError("AVI: at least one frame required")
    jpegs = [encode_jpeg(width, height, channels, f, qtables=qtables)
             for f in frames]

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0,                 # dwMaxBytesPerSec
        0,                 # dwPaddingGranularity
        0x10,              # dwFlags: AVIF_HASINDEX
        len(frames),       # dwTotalFrames
        0,                 # dwInitialFrames
        1,                 # dwStreams
        max(len(j) for j in jpegs),  # dwSuggestedBufferSize
        width, height,
        0, 0, 0, 0,        # dwReserved
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHH", 0, 0, 0)       # dwFlags, wPriority, wLanguage
        + struct.pack(
            "<8I", 0, 1, fps, 0, len(frames),  # init, scale, rate, start, len
            max(len(j) for j in jpegs), 0xFFFFFFFF, 0,  # bufsize, quality, sampsize
        )
        + struct.pack("<4H", 0, 0, width, height)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG",
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))

    movi_body = bytearray()
    idx = bytearray()
    for j in jpegs:
        # idx1 offsets are relative to the position just after the
        # 'movi' list type fourcc (the common convention)
        idx += b"00dc" + struct.pack("<III", 0x10, 4 + len(movi_body), len(j))
        movi_body += _chunk(b"00dc", j)
    movi = _list(b"movi", bytes(movi_body))

    payload = b"AVI " + hdrl + movi + _chunk(b"idx1", bytes(idx))
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _walk(data: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_len) for the chunks in [pos, end)."""
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (ln,) = struct.unpack_from("<I", data, pos + 4)
        body = pos + 8
        if body + ln > end:
            raise ValueError("AVI: chunk overruns its parent")
        yield fourcc, body, ln
        pos = body + ln + (ln % 2)  # word alignment


@_fail_loud
def decode_avi(data: bytes) -> Tuple[int, int, int, int, List[Tuple[int, int, int, bytes]]]:
    """→ (width, height, fps, n_frames, [(w, h, channels, pixels), ...])
    with every '00dc' MJPEG frame decoded through ``decode_jpeg``. The
    header/stream/frame dimensions must agree and the frame count must
    match avih's dwTotalFrames — disagreement fails loud rather than
    rendering a silently-wrong video.

    Safety: the aggregate pixel budget is enforced CUMULATIVELY over the
    frames actually decoded — the avih frame count is attacker-controlled
    and is only cross-checked against the movi census at the end, so it
    must never be what the bomb guard trusts."""
    from .jpegcodec import decode_jpeg

    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (RIFF/'AVI ' signature missing)")
    (riff_len,) = struct.unpack_from("<I", data, 4)
    end = min(len(data), 8 + riff_len)

    width = height = total = None
    scale = rate = None
    handler_ok = False
    frames: List[Tuple[int, int, int, bytes]] = []
    budget_samples = 0

    for fourcc, body, ln in _walk(data, 12, end):
        if fourcc != b"LIST":
            continue
        ltype = data[body : body + 4]
        if ltype == b"hdrl":
            for f2, b2, l2 in _walk(data, body + 4, body + ln):
                if f2 == b"avih" and l2 >= 40:
                    vals = struct.unpack_from("<10I", data, b2)
                    total, nstreams = vals[4], vals[6]
                    width, height = vals[8], vals[9]
                    if nstreams != 1:
                        raise ValueError("AVI: only single-stream files supported")
                elif f2 == b"LIST" and data[b2 : b2 + 4] == b"strl":
                    for f3, b3, l3 in _walk(data, b2 + 4, b2 + l2):
                        if f3 == b"strh" and l3 >= 36:
                            if data[b3 : b3 + 4] != b"vids":
                                raise ValueError("AVI: non-video stream unsupported")
                            if data[b3 + 4 : b3 + 8] not in (b"MJPG", b"mjpg"):
                                raise ValueError(
                                    "AVI: only MJPG streams decode here "
                                    "(inter-frame codecs are out of scope)"
                                )
                            handler_ok = True
                            scale, rate = struct.unpack_from("<II", data, b3 + 20)
        elif ltype == b"movi":
            if width is None or not handler_ok:
                raise ValueError("AVI: movi before complete headers")
            for f2, b2, l2 in _walk(data, body + 4, body + ln):
                if f2 == b"00dc":
                    # cumulative bomb guard over DECODED frames —
                    # never over the (untrusted) declared count
                    budget_samples += max(width, 1) * max(height, 1) * 3
                    _check_pixel_budget(budget_samples)
                    w, h, ch, px = decode_jpeg(data[b2 : b2 + l2])
                    if (w, h) != (width, height):
                        raise ValueError(
                            f"AVI: frame {len(frames)} is {w}x{h}, "
                            f"header says {width}x{height}"
                        )
                    frames.append((w, h, ch, px))
                elif f2 == b"00db":
                    raise ValueError("AVI: uncompressed DIB frames unsupported")
    if width is None:
        raise ValueError("AVI: no avih header found")
    if not frames:
        raise ValueError("AVI: no MJPEG frames found")
    if total is not None and total != len(frames):
        raise ValueError(
            f"AVI: header promises {total} frames, movi has {len(frames)}"
        )
    if not scale or not rate:
        raise ValueError("AVI: missing stream timing (dwScale/dwRate)")
    return width, height, rate // scale, len(frames), frames
