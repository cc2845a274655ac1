"""From-scratch PNG/BMP/WAV codecs: round-trips over every PNG filter
type and channel count, BMP padding/orientation, WAV chunk-walk, and
loud failure on corruption — the decode third of the multimodal axis
that needs no native libs (see b_pdf_parser_spark/mediacodec.py)."""

import struct
import zlib

import pytest

from b_pdf_parser_spark.mediacodec import (
    decode_bmp,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_png,
    encode_wav,
)


def _pixels(i, n):
    return bytes((i * 31 + k * 7) % 251 for k in range(n))


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


def test_wav_roundtrip_chunk_walk_and_stereo():
    samples = [((11 * k) % 2003) - 1001 for k in range(501)]  # odd count
    data = encode_wav(16000, 1, samples)
    assert b"LIST" in data  # junk chunk the walk must skip
    assert decode_wav(data) == (16000, 1, samples)
    stereo = [((7 * k) % 1999) - 999 for k in range(400)]
    assert decode_wav(encode_wav(44100, 2, stereo)) == (44100, 2, stereo)


def test_wav_rejects_non_pcm():
    data = bytearray(encode_wav(8000, 1, [0, 1, 2, 3]))
    fmt_at = data.find(b"fmt ") + 8
    data[fmt_at] = 3  # IEEE float format code
    with pytest.raises(ValueError, match="unsupported WAV"):
        decode_wav(bytes(data))


def test_decode_features_real_formats_through_spark(spark):
    # real_media_features must REALLY decode the real corpus inside
    # arrow_kernel (no error row), and turn a malformed or undecodable
    # payload into an error row instead of failing the batch
    from b_pdf_parser_spark.operators.multimodal import (
        MEDIA_SCHEMA_DDL,
        real_media_features,
        synth_real_media_df,
    )

    out = real_media_features(synth_real_media_df(spark, 24)).collect()
    assert len(out) == 24 and all(r["error"] is None for r in out)
    assert all(r["channels"] is not None and r["n_values"] > 0 for r in out)

    def error_of(payload):
        df = spark.createDataFrame([(0, "img", bytearray(payload))], MEDIA_SCHEMA_DDL)
        return real_media_features(df).collect()[0]["error"]

    # a truncated JPEG hits the REAL decoder and must fail loudly
    err = error_of(b"\xff\xd8\xff\xe0" + bytes(32))
    assert err and "ValueError" in err
    # containers with no decoder keep the honest stub: a JPEG 2000
    # signature box, and TIFF in either byte order
    for magic in (b"\x00\x00\x00\x0cjP  \r\n\x87\n", b"II*\x00", b"MM\x00*"):
        err = error_of(magic + bytes(32))
        assert err and "NotImplementedError" in err, (magic, err)


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


# ---------------------------------------------------------------------------
# Round-5-close PNG extensions: palette (PLTE), sub-byte depths, Adam7
# ---------------------------------------------------------------------------

from b_pdf_parser_spark.mediacodec import (  # noqa: E402
    _IMA_STEPS,
    _ima_step,
    decode_wav as _decode_wav,
    encode_wav_adpcm_nibbles,
)


def _ima_adpcm_encode(samples, pred, idx=0):
    """Greedy standard IMA encoder: nibble per sample tracking the shared
    predictor state (lossy — the decoder reproduces the encoder's internal
    predictor exactly, not the input)."""
    out = []
    for s in samples:
        step = _IMA_STEPS[idx]
        delta = s - pred
        n = 0
        if delta < 0:
            n = 8
            delta = -delta
        if delta >= step:
            n |= 4
            delta -= step
        if delta >= step >> 1:
            n |= 2
            delta -= step >> 1
        if delta >= step >> 2:
            n |= 1
        out.append(n)
        pred, idx = _ima_step(n, pred, idx)
    return out


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


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (WAVE format 0x11)
# ---------------------------------------------------------------------------


def test_adpcm_closed_form_stratum_exact():
    # nibble&7 <= 3 pins the step index at 0 (step 7): the decode is the
    # closed form first + sum of signed (3*bit1 + bit0) — the corpus slice
    i = 64
    n = 160 + 2 * (i % 20)
    first = ((i * 13) % 2003) - 1001
    nibs = [((i * 5 + k * 3) % 4) | (8 if (i + k) % 7 < 3 else 0)
            for k in range(n)]
    rate, ch, samples, codec = _decode_wav(
        encode_wav_adpcm_nibbles(8000, first, nibs), return_codec=True
    )
    assert (rate, ch, codec) == (8000, 1, "adpcm")
    exp, acc = [first], first
    for k in range(n):
        nb = (i * 5 + k * 3) % 4
        d = 3 * ((nb >> 1) & 1) + (nb & 1)
        acc += -d if (i + k) % 7 < 3 else d
        exp.append(acc)
    assert samples == exp


def test_adpcm_index_and_predictor_clamps():
    pred, idx = 0, 0
    for _ in range(200):
        pred, idx = _ima_step(7, pred, idx)
    assert idx == 88  # index clamps at the top of the step table
    pred, idx = 32000, 88
    for _ in range(10):
        pred, idx = _ima_step(7, pred, idx)
    assert pred == 32767  # int16 clamp, positive
    pred, idx = -32000, 88
    for _ in range(10):
        pred, idx = _ima_step(15, pred, idx)
    assert pred == -32768  # int16 clamp, negative


def test_adpcm_greedy_encoder_tracks_slew_bounded_signal():
    sig = [0]
    for k in range(800):
        sig.append(sig[-1] + (3 if (k // 40) % 2 == 0 else -3))
    nibs = _ima_adpcm_encode(sig[1:], sig[0], 0)
    rate, ch, dec = _decode_wav(encode_wav_adpcm_nibbles(22050, sig[0], nibs))
    assert len(dec) == len(sig) and dec[0] == sig[0]
    # decode must equal the encoder's internal predictor trajectory, and
    # that trajectory must stay within one step of the input everywhere
    pred, idx = sig[0], 0
    traj = [pred]
    for s, nb in zip(sig[1:], nibs):
        step = _IMA_STEPS[idx]
        pred, idx = _ima_step(nb, pred, idx)
        traj.append(pred)
        assert abs(pred - s) <= step
    assert dec == traj


def test_adpcm_fact_truncates_pad_nibble():
    rate, ch, smp = _decode_wav(encode_wav_adpcm_nibbles(8000, 100, [1, 2, 3]))
    assert len(smp) == 4  # 1 seed + 3 nibbles; the pad nibble is dropped


def test_adpcm_channel_count_guard():
    # stereo is supported now; an absurd channel count still fails loud
    data = bytearray(encode_wav_adpcm_nibbles(8000, 0, [0, 0]))
    off = data.index(b"fmt ") + 8 + 2
    data[off:off + 2] = struct.pack("<H", 9)
    with pytest.raises(ValueError, match="channel count"):
        _decode_wav(bytes(data))


def test_adpcm_bad_step_index_rejected():
    data = bytearray(encode_wav_adpcm_nibbles(8000, 0, [0, 0]))
    off = data.index(b"data") + 8 + 2  # block header index byte
    data[off] = 89
    with pytest.raises(ValueError, match="index"):
        _decode_wav(bytes(data))


# ---------------------------------------------------------------------------
# G.711 A-law + unsigned PCM8
# ---------------------------------------------------------------------------

from b_pdf_parser_spark.mediacodec import alaw_expand  # noqa: E402


def test_alaw_spec_anchor_points_and_monotonicity():
    assert alaw_expand(0x55) == -8    # u=0x00: segment 0, mantissa 0, negative
    assert alaw_expand(0xD5) == 8     # u=0x80: same, positive
    assert alaw_expand(0xAA) == 32256  # u=0xFF: full-scale positive
    prev = None
    for m in range(16):  # positive codes of one segment grow monotonically
        x = alaw_expand((0x80 | (3 << 4) | m) ^ 0x55)
        if prev is not None:
            assert x > prev
        prev = x


def test_alaw_pcm8_wav_roundtrip_and_codec_names():
    b = [(17 * k + 11) % 256 for k in range(300)]
    for kw, codec, exp in (
        ({"alaw": True}, "alaw", [alaw_expand(v) for v in b]),
        ({"pcm8": True}, "pcm8", [(v - 128) * 256 for v in b]),
    ):
        rate, ch, smp, got = _decode_wav(
            encode_wav(8000, 1, b, **kw), return_codec=True
        )
        assert (got, smp, rate, ch) == (codec, exp, 8000, 1), codec


def test_encode_wav_rejects_conflicting_codecs():
    with pytest.raises(ValueError, match="at most one"):
        encode_wav(8000, 1, [0], ulaw=True, alaw=True)


# ---------------------------------------------------------------------------
# Review-pass regressions: chunk-order independence, fail-loud shapes
# ---------------------------------------------------------------------------


def test_wav_fact_chunk_after_data_still_truncates():
    # RIFF does not mandate fact-before-data: decode must defer until the
    # walk completes, or the pad nibble becomes a phantom sample
    from b_pdf_parser_spark.mediacodec import encode_wav_adpcm_nibbles
    wav = bytearray(encode_wav_adpcm_nibbles(8000, 100, [1, 2, 3]))
    fi = wav.index(b"fact")
    fact = bytes(wav[fi : fi + 12])
    del wav[fi : fi + 12]
    wav += fact  # move the fact chunk after data
    rate, ch, smp = _decode_wav(bytes(wav))
    assert len(smp) == 4  # still 1 seed + 3 nibbles, pad dropped


def test_wav_multiple_data_chunks_rejected():
    data = bytearray(encode_wav(8000, 1, [1, 2, 3]))
    di = data.index(b"data")
    extra = bytes(data[di : di + 8 + 6])
    data += extra
    # fix the RIFF size so the walk reaches the second data chunk
    struct.pack_into("<I", data, 4, len(data) - 8)
    with pytest.raises(ValueError, match="multiple data"):
        _decode_wav(bytes(data))


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
# 8-bit indexed BMP
# ---------------------------------------------------------------------------


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
# PNG tRNS (palette transparency -> RGBA)
# ---------------------------------------------------------------------------


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
# Stereo IMA ADPCM (interleaved 4-byte nibble groups per channel)
# ---------------------------------------------------------------------------

from b_pdf_parser_spark.mediacodec import encode_wav_adpcm_multi  # noqa: E402


def _ima_replay(first, nibs):
    out, pred, idx = [first], first, 0
    for nb in nibs:
        pred, idx = _ima_step(nb, pred, idx)
        out.append(pred)
    return out


def test_adpcm_stereo_matches_per_channel_replay():
    nl = [(k * 7) % 16 for k in range(64)]
    nr = [(k * 11 + 5) % 16 for k in range(64)]
    rate, ch, smp, codec = _decode_wav(
        encode_wav_adpcm_multi(8000, [100, -200], [nl, nr]), return_codec=True
    )
    assert (rate, ch, codec) == (8000, 2, "adpcm")
    assert smp[0::2] == _ima_replay(100, nl)
    assert smp[1::2] == _ima_replay(-200, nr)


def test_adpcm_stereo_pad_nibbles_not_decoded():
    # 5 nibbles per channel: padded to 8 on the wire, fact truncates back
    rate, ch, smp = _decode_wav(
        encode_wav_adpcm_multi(8000, [10, 20], [[1] * 5, [2] * 5])
    )
    assert len(smp) == 2 * 6  # (1 seed + 5 nibbles) per channel


def test_adpcm_stereo_guards():
    with pytest.raises(ValueError, match="same length"):
        encode_wav_adpcm_multi(8000, [0, 0], [[1, 2], [1]])
    with pytest.raises(ValueError, match="per channel"):
        encode_wav_adpcm_multi(8000, [0, 0], [[1, 2]])
    # non-4-byte-aligned group region in a stereo file must fail loud
    # (claim block_align 13: 8 header bytes + a 5-byte group region)
    data = bytearray(encode_wav_adpcm_multi(8000, [0, 0], [[1] * 8, [2] * 8]))
    off = data.index(b"fmt ") + 8 + 12
    struct.pack_into("<H", data, off, 13)
    with pytest.raises(ValueError, match="4-byte groups"):
        _decode_wav(bytes(data))


def test_adpcm_mono_walk_unchanged():
    # mono blocks need no 4-byte grouping (the corpus writes odd counts)
    rate, ch, smp = _decode_wav(
        __import__("b_pdf_parser_spark.mediacodec", fromlist=["x"])
        .encode_wav_adpcm_nibbles(8000, 5, [1, 2, 3])
    )
    assert smp == _ima_replay(5, [1, 2, 3])[:4]


def test_wav_float32_exact_family_and_clamp():
    # n/32768 is exactly representable in float32, so the 2^15-scaled
    # int16 canonicalization recovers n bit-exactly
    ns = [((17 * k) % 65535) - 32767 for k in range(300)]
    rate, ch, smp, codec = _decode_wav(
        encode_wav(48000, 2, [n / 32768.0 for n in ns], float32=True),
        return_codec=True,
    )
    assert (rate, ch, codec, smp) == (48000, 2, "float32", ns)
    # out-of-range floats clamp to int16
    _, _, smp = _decode_wav(encode_wav(8000, 1, [2.0, -3.0], float32=True))
    assert smp == [32767, -32768]


def test_encode_wav_float32_conflicts_rejected():
    with pytest.raises(ValueError, match="at most one"):
        encode_wav(8000, 1, [0.0], float32=True, ulaw=True)
