"""From-scratch PNG and BMP codecs: round trips over every PNG filter
type, channel count, bit depth, palette (with and without tRNS) and
Adam7 interlace, BMP padding/orientation and 8-bit palettes, and loud
failure on corruption (see b_pdf_parser_spark/mediacodec.py); and the
stand-alone ``real_media_features`` kernel that decodes them, with the
JPEG and JPEG 2000 codecs, through Spark."""

import struct
import zlib

import pytest

from b_pdf_parser_spark.mediacodec import (
    decode_bmp,
    decode_png,
    encode_bmp,
    encode_png,
)


def _pixels(i, n):
    return bytes((i * 31 + k * 7) % 251 for k in range(n))


# ---------------------------------------------------------------------------
# PNG: filters, channels, chunk walk
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("ch", [1, 3, 4])
@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_png_roundtrip_all_filters_and_channels(ch, seed):
    # filter_seed + height >= 5 guarantees every filter type 0..4 occurs
    w, h = 11, 9
    px = _pixels(seed * 7 + ch, w * h * ch)
    got = decode_png(encode_png(w, h, ch, px, filter_seed=seed))
    assert got == (w, h, ch, px)


def test_png_multi_idat_and_crc():
    w, h = 40, 30  # big enough that the encoder splits IDAT
    px = _pixels(5, w * h * 3)
    data = encode_png(w, h, 3, px, filter_seed=2)
    assert data.count(b"IDAT") == 2
    assert decode_png(data)[3] == px
    # flip one byte inside a chunk body -> CRC must catch it loudly
    bad = bytearray(data)
    bad[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))


def test_png_rejects_unsupported_shapes():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all----")
    # depth 16 with palette color type: not a legal PNG combination
    # (16-bit truecolor/greyscale ARE supported as of the round-5 close)
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0)
    chunk = (
        len(ihdr).to_bytes(4, "big") + b"IHDR" + ihdr
        + (zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF).to_bytes(4, "big")
    )
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(b"\x89PNG\r\n\x1a\n" + chunk)


def test_png_bad_filter_type_raises_valueerror():
    # every chunk CRC-valid; the second scanline's filter byte is 5, which
    # no PNG defines: the decoder's contract is ValueError, whichever
    # module the row unfilter lives in
    def chunk(typ, body):
        return (len(body).to_bytes(4, "big") + typ + body
                + (zlib.crc32(typ + body) & 0xFFFFFFFF).to_bytes(4, "big"))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    idat = zlib.compress(b"\x00\x10\x20" + b"\x05\x30\x40")
    png = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
           + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="filter type 5"):
        decode_png(png)
    good = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"\x00\x10\x20\x01\x30\x40"))
            + chunk(b"IEND", b""))
    assert decode_png(good) == (2, 2, 1, bytes([0x10, 0x20, 0x30, 0x70]))


def test_png_nonzero_method_bytes_rejected():
    px = bytes((k * 7) % 251 for k in range(4 * 3 * 3))
    good = encode_png(4, 3, 3, px)
    i = good.index(b"IHDR")
    for off in (10, 11):  # compression method, filter method bytes
        bad = bytearray(good)
        bad[i + 4 + off] = 1
        body = bytes(bad[i + 4 : i + 4 + 13])
        crc = (zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF).to_bytes(4, "big")
        bad[i + 4 + 13 : i + 4 + 17] = crc  # keep the CRC honest
        with pytest.raises(ValueError, match="method"):
            decode_png(bytes(bad))


# ---------------------------------------------------------------------------
# PNG: palette (PLTE, tRNS), sub-byte and 16-bit depths, Adam7
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("ch", [1, 3, 4])
def test_png_adam7_roundtrip_8bit(ch, interlace):
    for w, h in ((9, 7), (1, 1), (8, 8), (16, 5), (3, 11), (2, 2)):
        px = bytes((31 * ch + k * 7) % 251 for k in range(w * h * ch))
        got = decode_png(encode_png(w, h, ch, px, filter_seed=3, interlace=interlace))
        assert got == (w, h, ch, px), (ch, w, h, interlace)


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("depth", [1, 2, 4, 8])
def test_png_palette_roundtrip(depth, interlace):
    psize = min(256, 1 << depth)
    pal = [((7 + j * 3) % 256, (11 + j * 5) % 256, (13 + j * 9) % 256)
           for j in range(psize)]
    for w, h in ((9, 7), (5, 3), (8, 2), (1, 4)):
        idx = bytes((k * 7 + 3) % psize for k in range(w * h))
        exp = b"".join(bytes(pal[v]) for v in idx)
        got = decode_png(
            encode_png(w, h, 1, idx, palette=pal, depth=depth, interlace=interlace)
        )
        assert got == (w, h, 3, exp), (depth, w, h, interlace)


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("depth", [1, 2, 4])
def test_png_subbyte_gray_exact_scaling(depth, interlace):
    scale = 255 // ((1 << depth) - 1)
    for w, h in ((9, 7), (13, 4), (1, 5), (8, 1)):
        px = bytes((k * 3 + 1) % (1 << depth) for k in range(w * h))
        got = decode_png(encode_png(w, h, 1, px, depth=depth, interlace=interlace))
        assert got == (w, h, 1, bytes(v * scale for v in px)), (depth, w, h)


def test_png_palette_missing_plte_rejected():
    pal = [(0, 0, 0), (255, 255, 255)]
    data = encode_png(4, 2, 1, bytes([0, 1] * 4), palette=pal, depth=1)
    # excise the PLTE chunk: the decoder must refuse a type-3 image
    i = data.index(b"PLTE") - 4
    ln = int.from_bytes(data[i : i + 4], "big")
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(data[:i] + data[i + 12 + ln :])


def test_png_palette_index_out_of_range_rejected():
    with pytest.raises(ValueError, match="palette"):
        encode_png(2, 1, 1, bytes([0, 5]), palette=[(0, 0, 0), (1, 1, 1)], depth=1)


def test_png_encoder_legacy_path_byte_stable():
    # the pass-geometry refactor must not change non-interlaced 8-bit
    # output: pin a known stream's digest-free invariants instead of a
    # golden (filter rotation + single pass == the original serializer)
    px = bytes((k * 7) % 251 for k in range(9 * 7 * 3))
    a = encode_png(9, 7, 3, px, filter_seed=2)
    w, h, ch, out = decode_png(a)
    assert (w, h, ch, out) == (9, 7, 3, px)
    assert a.count(b"IDAT") >= 1 and a[:8] == b"\x89PNG\r\n\x1a\n"


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("depth", [2, 4, 8])
def test_png_trns_palette_to_rgba(depth, interlace):
    psize = min(256, 1 << depth)
    pal = [((7 + j * 3) % 256, (11 + j * 5) % 256, (13 + j * 9) % 256)
           for j in range(psize)]
    tr = [(19 + j * 7) % 256 for j in range(max(1, psize // 2))]
    for w, h in ((9, 7), (5, 3)):
        idx = bytes((k * 7 + 1) % psize for k in range(w * h))
        exp = bytearray()
        for v in idx:
            exp += bytes(pal[v])
            exp.append(tr[v] if v < len(tr) else 255)  # spec: opaque past end
        got = decode_png(encode_png(w, h, 1, idx, palette=pal, depth=depth,
                                    interlace=interlace, trns=tr))
        assert got == (w, h, 4, bytes(exp)), (depth, w, h, interlace)


def test_png_trns_guards():
    with pytest.raises(ValueError, match="palette"):
        encode_png(2, 1, 3, bytes(6), trns=[1])  # trns without palette
    with pytest.raises(ValueError, match="tRNS"):
        encode_png(2, 1, 1, bytes([0, 1]), palette=[(0, 0, 0), (1, 1, 1)],
                   depth=1, trns=[1, 2, 3])  # longer than the palette


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("ch", [1, 3, 4])
def test_png_16bit_roundtrip_high_byte_canonical(ch, interlace):
    for w, h in ((9, 7), (5, 3), (1, 1)):
        vals = [(4099 + k * 2053) % 65536 for k in range(w * h * ch)]
        got = decode_png(encode_png(w, h, ch, vals, depth=16,
                                    interlace=interlace, filter_seed=2))
        assert got == (w, h, ch, bytes(v >> 8 for v in vals)), (ch, w, h)


def test_png_16bit_guards():
    with pytest.raises(ValueError, match="range"):
        encode_png(1, 1, 1, [70000], depth=16)
    with pytest.raises(ValueError, match="bit depth"):
        # palette at depth 16 is not a legal PNG combination
        encode_png(1, 1, 1, bytes([0]), palette=[(0, 0, 0)], depth=16)


# ---------------------------------------------------------------------------
# BMP: 24-bit and 8-bit indexed
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("w", [9, 10, 11, 12])  # all paddings 0..3 bytes
def test_bmp_roundtrip_every_padding(w):
    h = 5
    px = _pixels(w, w * h * 3)
    assert decode_bmp(encode_bmp(w, h, px)) == (w, h, 3, px)


def test_bmp_order_sensitivity():
    # the decoder must undo bottom-up + BGR: a naive byte copy of the body
    # would keep the sum but break the position-weighted sum
    w, h = 4, 3
    px = _pixels(9, w * h * 3)
    data = encode_bmp(w, h, px)
    body = data[54:]
    assert body != px  # really stored transformed (BGR, bottom-up, padded)
    _, _, _, decoded = decode_bmp(data)
    assert decoded == px


def test_bmp_top_down_negative_height():
    # the spec's other orientation: h < 0 stores rows top-down; build one
    # by rewriting an encoded BMP's height field and reordering its rows
    import struct as _s

    w, h = 5, 4
    px = _pixels(3, w * h * 3)
    data = bytearray(encode_bmp(w, h, px))
    stride = w * 3 + ((-(w * 3)) % 4)
    rows = [bytes(data[54 + r * stride : 54 + (r + 1) * stride]) for r in range(h)]
    data[14:34] = _s.pack("<IiiHHI", 40, w, -h, 1, 24, 0)
    data[54:] = b"".join(reversed(rows))  # bottom-up -> top-down storage
    assert decode_bmp(bytes(data)) == (w, h, 3, px)


@pytest.mark.parametrize("psize", [2, 16, 256])
def test_bmp_palette_roundtrip_all_paddings(psize):
    pal = [((7 + j * 3) % 256, (11 + j * 5) % 256, (13 + j * 9) % 256)
           for j in range(psize)]
    for w, h in ((9, 7), (10, 3), (11, 2), (12, 5), (1, 1)):
        idx = bytes((k * 7 + 1) % psize for k in range(w * h))
        exp = b"".join(bytes(pal[v]) for v in idx)
        got = decode_bmp(encode_bmp(w, h, idx, palette=pal))
        assert got == (w, h, 3, exp), (psize, w, h)


def test_bmp_palette_guards():
    pal = [(0, 0, 0), (255, 255, 255)]
    with pytest.raises(ValueError, match="index out of range"):
        encode_bmp(2, 1, bytes([0, 5]), palette=pal)
    data = bytearray(encode_bmp(2, 2, bytes([0, 1, 1, 0]), palette=pal))
    # point a pixel past the 2-entry color table: decoder must refuse
    off = struct.unpack("<I", data[10:14])[0]
    data[off] = 7
    with pytest.raises(ValueError, match="palette index"):
        decode_bmp(bytes(data))


def test_bmp_truncation_raises_valueerror_not_indexerror():
    # the module contract: malformed input -> ValueError, never
    # IndexError/struct.error escaping to callers
    pal = [(0, 0, 0), (255, 255, 255)]
    full8 = encode_bmp(6, 4, bytes(k % 2 for k in range(24)), palette=pal)
    full24 = encode_bmp(6, 4, bytes((k * 7) % 251 for k in range(72)))
    for blob in (full8[:-5], full24[:-5], full8[:40], b"BM" + b"\x00" * 20):
        with pytest.raises(ValueError):
            decode_bmp(blob)


# ---------------------------------------------------------------------------
# Stand-alone payloads through Spark
# ---------------------------------------------------------------------------


def test_decode_features_real_formats_through_spark(spark):
    # real_media_features decodes every stratum of the stand-alone corpus
    # inside arrow_kernel (no error row), and turns a malformed or
    # undecodable payload into an error row instead of failing the batch
    from b_pdf_parser_spark.operators.multimodal import (
        MEDIA_SCHEMA_DDL,
        real_media_features,
        synth_real_media_df,
    )

    out = real_media_features(synth_real_media_df(spark, 72, num_partitions=4)).collect()
    assert len(out) == 72 and all(r["error"] is None for r in out)
    assert {r["fmt"] for r in out} == {"jpeg", "jp2k", "png", "bmp"}
    assert all(r["channels"] in (1, 3, 4) and r["n_values"] > 0 for r in out)

    def error_of(payload):
        df = spark.createDataFrame([(0, "img", bytearray(payload))], MEDIA_SCHEMA_DDL)
        return real_media_features(df).collect()[0]["error"]

    # truncated JPEG, PNG and BMP payloads hit the real decoders and must
    # fail loudly
    for bad in (b"\xff\xd8\xff\xe0" + bytes(32), b"\x89PNG\r\n\x1a\n" + bytes(32),
                b"BM" + bytes(20)):
        err = error_of(bad)
        assert err and "ValueError" in err, (bad, err)
    # payloads no codec here decodes: a JPEG 2000 signature box (only bare
    # codestreams decode), TIFF in either byte order, and empty
    for magic in (b"\x00\x00\x00\x0cjP  \r\n\x87\n", b"II*\x00", b"MM\x00*"):
        err = error_of(magic + bytes(32))
        assert err and "NotImplementedError" in err, (magic, err)
    assert "NotImplementedError" in error_of(b"")
