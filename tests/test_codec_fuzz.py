"""Malformed-input fuzz across every from-scratch image decoder: the
public contract is ValueError (or NotImplementedError) — never
IndexError / KeyError / struct.error / zlib.error escaping to callers
(normalized at the boundary by ``mediacodec._fail_loud``). Mutations: truncation at
every region, single-bit flips, and mid-stream garbage splices; a
mutation that still decodes cleanly is fine — the assertion is only
about HOW failures fail. Seeds derive from crc32, NOT hash(): str
hashing is salted per process, and a salt-dependent seed once hid a
real finding (a bit-flipped dimension field driving a multi-GB
allocation — now blocked by mediacodec._check_pixel_budget)."""

import random
import struct
import zlib

import pytest
from test_arithjpeg import encode_jpeg_arith

from b_pdf_parser_spark.ccittcodec import decode_g3, decode_g4, encode_g3, encode_g4
from b_pdf_parser_spark.jpegcodec import decode_jpeg, encode_jpeg
from b_pdf_parser_spark.jpxcodec import decode_jpx, encode_jpx
from b_pdf_parser_spark.mediacodec import (
    _MAX_SAMPLES,
    decode_bmp,
    decode_png,
    encode_bmp,
    encode_png,
)

_RGB = bytes((k * 31) % 256 for k in range(16 * 8 * 3))
_PAL = [(j * 7 % 256, j * 11 % 256, j * 13 % 256) for j in range(16)]

SAMPLES = {
    "png": (encode_png(9, 7, 3, bytes((k * 7) % 251 for k in range(189))),
            decode_png),
    "png_pal_interlaced": (
        encode_png(9, 7, 1, bytes(k % 16 for k in range(63)),
                   palette=_PAL, depth=4, interlace=True),
        decode_png),
    "bmp24": (encode_bmp(9, 7, bytes((k * 7) % 251 for k in range(189))),
              decode_bmp),
    "bmp8": (encode_bmp(9, 7, bytes(k % 16 for k in range(63)), palette=_PAL),
             decode_bmp),
    "jpeg": (encode_jpeg(16, 8, 3, _RGB), decode_jpeg),
    "jpx": (encode_jpx(11, 9, 3, bytes((k * 29) % 256 for k in range(11 * 9 * 3)),
                       levels=1),
            decode_jpx),
    "jpeg_arith": (encode_jpeg_arith(16, 8, 3, _RGB, restart_interval=2), decode_jpeg),
}

_FAX_PX = bytes(255 if ((x // 3 + y) % 4) else 0 for y in range(7) for x in range(9))


def _mutations(blob: bytes, rng: random.Random, n: int):
    for trial in range(n):
        mode = trial % 3
        if mode == 0:
            yield blob[: rng.randrange(len(blob))]
        elif mode == 1:
            m = bytearray(blob)
            m[rng.randrange(len(m))] ^= 1 << rng.randrange(8)
            yield bytes(m)
        else:
            cut = rng.randrange(len(blob))
            junk = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 30)))
            yield blob[:cut] + junk + blob[cut + 5:]


@pytest.mark.parametrize("name", sorted(SAMPLES))
def test_container_decoders_fail_with_valueerror_only(name):
    blob, dec = SAMPLES[name]
    rng = random.Random(zlib.crc32(name.encode()))
    for m in _mutations(blob, rng, 300):
        try:
            dec(m)
        except (ValueError, NotImplementedError):
            pass  # the contract
        # anything else propagates and fails the test


@pytest.mark.parametrize("codec", ["g3_0", "g3_4", "g4"])
def test_fax_decoders_fail_with_valueerror_only(codec):
    if codec == "g4":
        blob = encode_g4(9, 7, _FAX_PX)
        dec = lambda b: decode_g4(b, 9, 7)  # noqa: E731
    else:
        k = int(codec.split("_")[1])
        blob = encode_g3(9, 7, _FAX_PX, k=k)
        dec = lambda b: decode_g3(b, 9, 7, k=k)  # noqa: E731
    rng = random.Random(len(codec))
    for m in _mutations(blob, rng, 300):
        try:
            dec(m)
        except ValueError:
            pass


def test_dimension_bomb_guard():
    # a forged header claiming huge dimensions must raise BEFORE any
    # gigabyte allocation, whatever the compressed payload says

    # JPEG: a SOF0 claiming 65000 x 65000 x 3 (the ~25-byte hostile shape)
    jpeg = bytearray(SAMPLES["jpeg"][0])
    sof = jpeg.index(b"\xff\xc0")
    jpeg[sof + 5 : sof + 9] = struct.pack(">HH", 65000, 65000)
    with pytest.raises(ValueError, match="bomb"):
        decode_jpeg(bytes(jpeg))
    assert 65000 * 65000 * 3 > _MAX_SAMPLES  # the forgery really crosses it

    # CCITT: /Columns x /Rows come from the untrusted PDF image dictionary
    cols, rows = 1 << 24, 1 << 3
    with pytest.raises(ValueError, match="bomb"):
        decode_g4(encode_g4(9, 7, _FAX_PX), cols, rows)
    with pytest.raises(ValueError, match="bomb"):
        decode_g3(encode_g3(9, 7, _FAX_PX, k=0), cols, rows, k=0)
    assert cols * rows > _MAX_SAMPLES

    # PNG: forge an IHDR with a huge width (CRC recomputed so the claim
    # is "valid" as far as the chunk layer knows)
    png = bytearray(encode_png(4, 4, 3, bytes(48)))
    i = png.index(b"IHDR")
    body = bytearray(png[i + 4 : i + 4 + 13])
    body[0:4] = struct.pack(">I", 1 << 24)
    png[i + 4 : i + 4 + 13] = body
    png[i + 4 + 13 : i + 4 + 17] = (
        zlib.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF).to_bytes(4, "big")
    with pytest.raises(ValueError, match="bomb"):
        decode_png(bytes(png))
    assert (1 << 24) * 4 * 3 > _MAX_SAMPLES
