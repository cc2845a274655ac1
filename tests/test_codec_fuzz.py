"""Malformed-input fuzz across every from-scratch media decoder: the
public contract is ValueError (or NotImplementedError) — never
IndexError / KeyError / struct.error / zlib.error escaping to callers
(normalized at the boundary by ``mediacodec._fail_loud``). Mutations:
truncation at every region, single-bit flips, and mid-stream garbage
splices; a mutation that still decodes cleanly is fine — the assertion
is only about HOW failures fail. Seeds derive from crc32, NOT hash():
str hashing is salted per process, and a salt-dependent seed once hid a
real finding (a bit-flipped GIF dimension field driving a multi-GB
allocation — now blocked by mediacodec._check_pixel_budget)."""

import random
import zlib

import pytest

from b_pdf_parser_spark.ccittcodec import decode_g3, decode_g4, encode_g3, encode_g4
from b_pdf_parser_spark.jpegcodec import decode_jpeg, encode_jpeg
from b_pdf_parser_spark.mediacodec import (
    decode_bmp,
    decode_gif,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_gif,
    encode_png,
    encode_wav,
    encode_wav_adpcm_nibbles,
)

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
    "gif": (encode_gif(9, 7, _PAL, bytes(k % 16 for k in range(63)),
                       interlace=True),
            decode_gif),
    "wav_pcm16": (encode_wav(8000, 2, [((k * 13) % 2003) - 1001
                                       for k in range(100)]),
                  decode_wav),
    "wav_adpcm": (encode_wav_adpcm_nibbles(8000, 5, [k % 16 for k in range(60)]),
                  decode_wav),
    "jpeg": (encode_jpeg(16, 8, 3, bytes((k * 31) % 256 for k in range(16 * 8 * 3))),
             decode_jpeg),
}

from b_pdf_parser_spark.jpxcodec import decode_jpx, encode_jpx  # noqa: E402

SAMPLES["jpx"] = (
    encode_jpx(11, 9, 3, bytes((k * 29) % 256 for k in range(11 * 9 * 3)),
               levels=1),
    decode_jpx,
)

from b_pdf_parser_spark.arithjpeg import encode_jpeg_arith  # noqa: E402

SAMPLES["jpeg_arith"] = (
    encode_jpeg_arith(16, 8, 3, bytes((k * 31) % 256 for k in range(16 * 8 * 3)),
                      restart_interval=2),
    decode_jpeg,
)

from b_pdf_parser_spark.avicodec import decode_avi, encode_avi_mjpeg  # noqa: E402

SAMPLES["avi_mjpeg"] = (
    encode_avi_mjpeg(
        16, 8, 1,
        [bytes((f * 53 + k * 31) % 256 for k in range(16 * 8)) for f in range(3)],
        fps=10,
    ),
    decode_avi,
)

from b_pdf_parser_spark.flaccodec import decode_flac, encode_flac  # noqa: E402

SAMPLES["flac"] = (
    encode_flac(8000, 2, [((k * 13) % 2003) - 1001 for k in range(400)],
                subframe="fixed2", stereo="mid_side", partition_order=1),
    decode_flac,
)

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
    import struct
    import zlib as _z
    from b_pdf_parser_spark.mediacodec import _MAX_SAMPLES

    # GIF: 65535 x 65535 logical screen + image descriptor
    gif = bytearray(encode_gif(4, 4, _PAL[:4], bytes(16)))
    gif[6:10] = struct.pack("<HH", 65535, 65535)
    idesc = gif.index(b"\x2c")
    gif[idesc + 5 : idesc + 9] = struct.pack("<HH", 65535, 65535)
    with pytest.raises(ValueError, match="bomb"):
        decode_gif(bytes(gif))

    # PNG: forge an IHDR with a huge width (CRC recomputed so the claim
    # is "valid" as far as the chunk layer knows)
    png = bytearray(encode_png(4, 4, 3, bytes(48)))
    i = png.index(b"IHDR")
    body = bytearray(png[i + 4 : i + 4 + 13])
    body[0:4] = struct.pack(">I", 1 << 24)
    crc = (_z.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF).to_bytes(4, "big")
    png[i + 4 : i + 4 + 13] = body
    png[i + 4 + 13 : i + 4 + 17] = crc
    with pytest.raises(ValueError, match="bomb"):
        decode_png(bytes(png))
    assert (1 << 24) * 4 * 3 > _MAX_SAMPLES  # the forgery really crosses it
