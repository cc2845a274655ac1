"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata.

Decode status, honestly labeled per format:

* **REAL, from scratch (round 5)**: PNG, BMP, WAV/μ-law and GIF decode
  via ``b_pdf_parser_spark.mediacodec`` (stdlib-only: zlib/struct, full
  chunk walks with CRC/padding/filter/LZW handling) and JPEG — baseline
  SOF0/SOF1 and progressive SOF2 (Annex-G scan scripts) — via
  ``b_pdf_parser_spark.jpegcodec`` (Huffman entropy decode, DCT,
  fixed-point YCbCr) — all value-oracled through the
  real-roundtrip-vs-formula pattern (``synth_real_media_df`` →
  ``real_media_features`` → DuckDB recomputes exact integer pixel/sample
  sums from the generating formulas), and CCITT Group 4 fax (ITU-T T.6)
  via ``b_pdf_parser_spark.ccittcodec`` (2D mode coding over the T.4 run
  alphabets — lossless, so its features are exact by construction).
  ``pdf_pixel_features`` closes the loop with the PDF walk: DCTDecode,
  JPXDecode and CCITTFaxDecode image XObjects (after any earlier filters
  in their chain) decode to pixels through one filter → codec table.
* **STUBBED**: inter-frame VIDEO codecs need decoders we haven't built
  or the absent native libs (PIL/ffmpeg/opencv are not in this runtime)
  — those payloads, and every container ``_decode_media`` has no decoder
  for, land in the ``error`` column, never crash the batch.
  No longer stubbed: compressed AUDIO (mono/stereo IMA ADPCM,
  ``mediacodec.decode_wav`` format 0x11; FLAC, ``flaccodec``), JPEG 2000
  codestreams (``jpxcodec``), arithmetic-coded JPEG (SOF9 + DAC,
  ``arithjpeg``) and MJPEG video in AVI (``avicodec``).

Everything Spark-side is real and tested: schema, Arrow batch shape,
partitioning, the ``arrow_kernel`` feature-extraction signature.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from . import arrow_kernel

__all__ = [
    "MEDIA_SCHEMA_DDL",
    "REAL_FEATURES_SCHEMA_DDL",
    "IMAGEDOC_SCHEMA_DDL",
    "IMAGE_INV_SCHEMA_DDL",
    "PIXEL_SCHEMA_DDL",
    "real_media_dims",
    "encode_real_media",
    "synth_real_media_df",
    "real_media_features",
    "synth_imagedoc_df",
    "pdf_image_features",
    "synth_jpegdoc_df",
    "synth_jpxdoc_df",
    "synth_ccittdoc_df",
    "pdf_pixel_features",
]

MEDIA_SCHEMA_DDL = "media_id BIGINT, kind STRING, payload BINARY"


def _value_features(vals) -> dict:
    """The exact integer reduction every decode oracle recomputes: count,
    sum and the (k+1)-weighted sum — position-sensitive, so a row-order,
    channel-order or padding bug changes it even when the plain sum
    survives."""
    return {
        "n_values": len(vals),
        "value_sum": int(sum(vals)),
        "weighted_sum": int(sum((k + 1) * v for k, v in enumerate(vals))),
    }


# ---------------------------------------------------------------------------
# REAL container formats (PNG / BMP / WAV) — from-scratch decode, oracle-able
# ---------------------------------------------------------------------------

REAL_FEATURES_SCHEMA_DDL = (
    "media_id BIGINT, fmt STRING, width INT, height INT, channels INT, "
    "sample_rate INT, n_values BIGINT, value_sum BIGINT, weighted_sum BIGINT, "
    "error STRING"
)


def real_media_dims(i: int) -> dict:
    """The generating formulas for real-media doc ``i`` — shared by the
    corpus builder, the feature expectations and the DuckDB oracle, so the
    SQL can restate them as closed forms. PNG/BMP pixels:
    ``p[k] = (i*31 + k*7) % 251``; PCM WAV samples:
    ``s[k] = ((i*13 + k*7) % 2003) - 1001``; GIF palette indices:
    ``idx[k] = (i*31 + k*7) % psize`` through palette entry
    ``((i*7+j*3)%256, (i*11+j*5)%256, (i*13+j*9)%256)``; μ-law code
    bytes: ``b[k] = (i*17 + k*11) % 256`` through the G.711 expansion;
    JPEG flat 8×8 blocks: channel value ``(i*31 + b*17 + c*101) % 256``
    for block ``b`` — with DC quant 8 the decode is bit-exact (grayscale)
    or exact through the fixed-point integer YCbCr round trip (color), so
    the oracle restates lossy-codec output as integer SQL.

    Docs ``i >= 60`` are the round-5-close EXTENSION strata — the PNG
    features the base corpus didn't reach plus IMA ADPCM audio, all still
    pure functions of ``i``:

    * ``e0`` — palette PNG (color type 3, depth 8), PLTE entries from the
      GIF palette formulas, Adam7 on alternating docs;
    * ``e1`` — sub-byte palette PNG (depth 1/2/4 rotating, palette size
      ``2**depth``), Adam7 on alternating docs;
    * ``e2`` — sub-byte greyscale PNG: sample ``(i*31+k*7) % 2**d``
      scales to canonical 8-bit by the exact factor ``255 // (2**d-1)``;
    * ``e3`` — RGBA Adam7: same ``%251`` ramp as base PNG, the interlace
      reassembly is the hazard;
    * ``e4`` — mono IMA ADPCM WAV: nibble ``((i*5+k*3)%4) | 8·[(i+k)%7<3]``
      keeps ``nibble&7 <= 3`` so the step index stays clamped at 0 (step
      7) and the decode is the CLOSED FORM ``first + Σ ±(3·bit1 + bit0)``
      — the tractable-slice trick that lets a lossy, state-machine codec
      carry a SQL value oracle (the general table walk still runs);
    * ``e5`` — depth-2 greyscale Adam7 (sub-byte × interlace
      intersection).

    Docs ``96 <= i < 108`` complete the G.711 pair and the PCM family:
    ``a0`` (even i) — A-law code bytes ``(i*17+k*11) % 256`` through the
    XOR-0x55 segment/mantissa expansion; ``a1`` (odd i) — UNSIGNED 8-bit
    PCM ``(i*23+k*5) % 256`` canonicalized as ``(v-128)*256``.

    Docs ``108 <= i < 120`` are 8-bit INDEXED BMP (``p0``): the same
    palette formulas as GIF/palette-PNG through a BGRX color table,
    bottom-up padded rows — the third container sharing one palette
    oracle.

    Docs ``120 <= i < 132`` are palette PNG **with tRNS transparency**
    (``t0``): canonical output becomes RGBA, alpha ``(i*19+j*7) % 256``
    for palette entries ``j < psize//2`` and 255 (opaque, the spec
    default for entries past the tRNS end) otherwise; Adam7 on
    alternating docs.

    Docs ``132 <= i < 144`` are **16-bit PNG** (``s0``): gray/RGB/RGBA
    rotating, sample ``(i*4099 + k*2053) % 65536`` stored big-endian and
    canonicalized to its high byte (the spec's depth-scaling
    truncation), so the oracle value is simply the formula ``// 256``;
    Adam7 on alternating docs.

    Docs ``i >= 144`` are **STEREO IMA ADPCM** (``u0``): per-channel
    block headers + interleaved 4-byte nibble groups, each channel an
    independent index-pinned closed form (left ``(i*5+k*3)%4`` signed by
    ``(i+k)%7<3``, right ``(i*3+k*5)%4`` signed by ``(i+k)%5<2``) — the
    decode is two prefix sums interleaved sample-major, which the SQL
    restates with a channel-partitioned window SUM.

    Docs ``i >= 156`` are **IEEE float32 WAV** (format 3): samples are
    the EXACTLY-representable family ``n/32768`` with
    ``n = ((i*29+k*23) % 65535) - 32767``, so the 2^15-scaled canonical
    int16 decode recovers ``n`` bit-exactly and the SQL oracle is the
    integer formula itself.

    Docs ``i >= 168`` are **JPEG 2000 codestreams** (``j0``, round 6):
    the same ``%251`` byte ramp as the base PNG/BMP strata through the
    from-scratch ``jpxcodec`` (MQ coder + EBCOT Tier-1 + reversible 5/3
    — LOSSLESS, so the oracle value IS the ramp), with the wavelet
    decomposition level rotating 0/1/2 as a pure decode-path hazard.

    Docs ``i >= 180`` are **ARITHMETIC-coded JPEG** (``ja``, round 6,
    T.81 SOF9 + DAC through ``arithjpeg``): the same flat-8×8-block
    pixel formula as the baseline JPEG stratum — arithmetic coding is
    lossless ENTROPY coding over the identical quantized-coefficient
    pipeline, so the flat-block oracle formulas hold unchanged while the
    QM coder, the Annex-F DC/AC statistical models and the
    restart-rotation resync (0/2/3) are all value-checked.

    Docs ``i >= 192`` are **MJPEG VIDEO in AVI** (``v0``, round 6,
    ``avicodec``): 2–4 frames per file, frame ``f`` using the flat-block
    formula with an extra ``f*53`` term — the canonical value stream is
    frames in presentation order, so the weighted sum pins frame ORDER,
    the RIFF chunk walk, header/stream agreement and the per-frame JPEG
    decode; ``sample_rate`` carries the fps from dwRate/dwScale.

    Docs ``i >= 204`` are **FLAC** (``f1``, round 6, ``flaccodec``):
    the same sample formula as the base PCM WAV stratum — FLAC is
    LOSSLESS, so the oracle value is the formula — while the subframe
    strategy (fixed 0-4 / verbatim / LPC), the Rice partition order and
    the stereo decorrelation mode (independent / left-side / mid-side)
    all rotate as pure decode-path hazards; the decoder additionally
    verifies CRC-8/CRC-16 per frame and the STREAMINFO MD5 of the whole
    stream."""
    if i >= 204:
        jf = i - 204
        ch = 1 + jf % 2
        return {
            "fmt": "flac", "ext": "flac", "ch": ch,
            "rate": 8000 + ((jf // 2) % 3) * 4000,
            "n": (180 + i % 50) * ch,
            "subframe": ("fixed1", "fixed2", "lpc", "fixed3",
                         "verbatim", "fixed4")[jf % 6],
            "stereo": ("indep", "left_side", "mid_side")[(jf // 2) % 3],
            "po": jf % 2,
        }
    if i >= 192:
        jv = i - 192
        return {
            "fmt": "mjpeg", "ext": "mjpeg",
            "w": 8 * (1 + jv % 3), "h": 8 * (1 + (jv // 3) % 2),
            "ch": 1 if jv % 2 == 0 else 3,
            "nf": 2 + jv % 3,
            "rate": 10 + (jv % 3) * 5,
        }
    if i >= 180:
        ja = i - 180
        return {
            "fmt": "jpeg", "ext": "jarith",
            "w": 8 * (1 + ja % 3), "h": 8 * (1 + (ja // 3) % 2),
            "ch": 1 if ja % 2 == 0 else 3,
            "restart": (0, 2, 3)[ja % 3],
        }
    if i >= 168:
        j8 = i - 168
        return {
            "fmt": "jp2k", "ext": "jp2k",
            "w": 9 + i % 8, "h": 7 + i % 6,
            "ch": 1 if i % 2 == 0 else 3,
            "levels": j8 % 3,
        }
    if i >= 156:
        j7 = i - 156
        ch = 1 + j7 % 2
        return {
            "fmt": "float32", "ext": "float32", "ch": ch,
            "rate": 8000 + ((j7 // 2) % 3) * 4000,
            "n": (120 + i % 40) * ch,
        }
    if i >= 144:
        j6 = i - 144
        n = 96 + 2 * (i % 20)
        return {
            "fmt": "adpcm", "ext": "adpcm2", "ch": 2,
            "rate": 8000 + ((j6 // 2) % 3) * 4000,
            "n": n, "nv": 2 * (n + 1),
        }
    if i >= 132:
        j5 = i - 132
        return {
            "fmt": "png", "ext": "png16",
            "w": 9 + i % 8, "h": 7 + i % 6,
            "ch": (1, 3, 4)[j5 % 3], "depth": 16,
            "interlace": (j5 // 3) % 2 == 1,
        }
    if i >= 120:
        j4 = i - 120
        d = (2, 4, 8)[j4 % 3]
        return {
            "fmt": "png", "ext": "pngtrns",
            "w": 9 + i % 8, "h": 7 + i % 6, "ch": 4,
            "depth": d, "psize": min(256, 1 << d),
            "interlace": (j4 // 3) % 2 == 1,
        }
    if i >= 108:
        return {
            "fmt": "bmp", "ext": "bmp8",
            "w": 9 + i % 8, "h": 7 + i % 6, "ch": 3,
            "psize": (4, 16, 64, 256)[(i - 108) % 4],
        }
    if i >= 96:
        j2 = i - 96
        return {
            "fmt": "alaw" if i % 2 == 0 else "pcm8",
            "ext": "alaw" if i % 2 == 0 else "pcm8",
            "ch": 1 + (j2 // 2) % 2,
            "rate": 8000 + ((j2 // 2) % 3) * 4000,
            "n": (150 + i % 60) * (1 + (j2 // 2) % 2),
        }
    if i >= 60:
        j = i - 60
        st = j % 6
        base = {"w": 9 + i % 8, "h": 7 + i % 6}
        if st == 0:
            return {**base, "fmt": "png", "ext": "pal8", "ch": 3, "depth": 8,
                    "psize": (4, 16, 64, 256)[(j // 6) % 4],
                    "interlace": (j // 6) % 2 == 1}
        if st == 1:
            d = (1, 2, 4)[(j // 6) % 3]
            return {**base, "fmt": "png", "ext": "palsub", "ch": 3, "depth": d,
                    "psize": 1 << d, "interlace": (j // 6) % 2 == 1}
        if st == 2:
            return {**base, "fmt": "png", "ext": "graysub", "ch": 1,
                    "depth": (1, 2, 4)[(j // 6) % 3], "interlace": False}
        if st == 3:
            return {**base, "fmt": "png", "ext": "rgba7", "ch": 4, "depth": 8,
                    "interlace": True}
        if st == 4:
            return {"fmt": "adpcm", "ext": "adpcm", "ch": 1,
                    "rate": 8000 + ((j // 6) % 3) * 4000,
                    "n": 160 + 2 * (i % 20)}
        return {**base, "fmt": "png", "ext": "gray2i", "ch": 1, "depth": 2,
                "interlace": True}
    fmt = ("png", "bmp", "wav", "gif", "ulaw", "jpeg")[i % 6]
    if fmt == "png":
        return {
            "fmt": fmt,
            "w": 9 + i % 8,
            "h": 7 + i % 6,
            "ch": (1, 3, 4)[(i // 6) % 3],
        }
    if fmt == "bmp":
        return {"fmt": fmt, "w": 9 + i % 8, "h": 7 + i % 6, "ch": 3}
    if fmt == "gif":
        return {
            "fmt": fmt,
            "w": 9 + i % 8,
            "h": 7 + i % 6,
            "ch": 3,
            "psize": (4, 16, 64, 256)[(i // 6) % 4],
            "interlace": (i // 6) % 2 == 1,
        }
    if fmt == "ulaw":
        return {
            "fmt": fmt,
            "rate": 8000 + ((i // 6) % 3) * 4000,
            "ch": 1 + i % 2,
            "n": (150 + i % 60) * (1 + i % 2),
        }
    if fmt == "jpeg":
        j = i // 6
        return {
            "fmt": fmt,
            # whole 8x8 blocks only: flat-block exactness is the contract
            "w": 8 * (1 + j % 3),
            "h": 8 * (1 + (j // 3) % 2),
            "ch": (1, 3)[j % 2],
            "restart": (0, 2, 3)[j % 3],
            # progressive (SOF2, Annex G) on half the restart-free docs:
            # identical coefficient pipeline -> identical decoded pixels,
            # so the oracle formulas are unchanged while the multi-scan
            # successive-approximation decode path is value-checked
            "prog": j % 3 == 0 and (j // 3) % 2 == 0,
        }
    return {
        "fmt": fmt,
        # (i//6) % 3, not i % 6 — wav docs share one residue mod 6, so the
        # latter would freeze every sample rate at one value
        "rate": 8000 + ((i // 6) % 3) * 4000,
        "ch": 1 + i % 2,
        "n": (200 + i % 77) * (1 + i % 2),
    }


def _jpeg_flat_pixels(i: int, w: int, h: int, ch: int, f: int = 0) -> bytes:
    """Flat-per-8×8-block pixel buffer: block ``b`` (row-major), channel
    ``c`` of video frame ``f`` gets ``(i*31 + f*53 + b*17 + c*101) % 256``
    — the ONE formula the DuckDB oracle's generalized jp chain evaluates
    per decoded value position (single-frame strata pass ``f=0``, whose
    term vanishes). One function, every flat-block stratum — splitting it
    per stratum is how a formula tweak desynchronizes from the SQL."""
    bw = w // 8
    out = bytearray()
    for y in range(h):
        for x in range(w):
            b = (y // 8) * bw + (x // 8)
            for c in range(ch):
                out.append((i * 31 + f * 53 + b * 17 + c * 101) % 256)
    return bytes(out)


def _q8_tables():
    """Annex-K tables with the DC step forced to 8, for every flat-block
    stratum: 8 divides 8*(v-128) for every integer v, so flat blocks
    decode bit-exactly (the AC steps are irrelevant — a flat block's 63
    AC coefficients are 0)."""
    from ..jpegcodec import QUANT_CHROMA, QUANT_LUM

    return ((8,) + QUANT_LUM[1:], (8,) + QUANT_CHROMA[1:])


def _shared_palette(i: int, psize: int):
    """The one palette formula all three indexed containers (GIF,
    palette-PNG, 8-bit BMP) and the DuckDB oracle share — change it in
    exactly two places (here and the SQL) or the hashes break."""
    return [
        ((i * 7 + j * 3) % 256, (i * 11 + j * 5) % 256, (i * 13 + j * 9) % 256)
        for j in range(psize)
    ]


def _palette_indices(i: int, psize: int, npix: int) -> bytes:
    """Companion index formula for :func:`_shared_palette`."""
    return bytes((i * 31 + k * 7) % psize for k in range(npix))


def encode_real_media(i: int) -> bytes:
    """Real PNG/BMP/WAV/GIF/μ-law/JPEG/ADPCM payload for doc ``i`` (pure
    function, no RNG)."""
    from ..mediacodec import (
        encode_bmp,
        encode_gif,
        encode_png,
        encode_wav,
        encode_wav_adpcm_nibbles,
    )

    d = real_media_dims(i)
    ext = d.get("ext")
    if ext == "flac":
        from ..flaccodec import encode_flac

        samples = [((i * 13 + k * 7) % 2003) - 1001 for k in range(d["n"])]
        return encode_flac(
            d["rate"], d["ch"], samples,
            subframe=d["subframe"], stereo=d["stereo"],
            partition_order=d["po"], lpc_coefs=(3, -3, 1), lpc_shift=1,
        )
    if ext == "mjpeg":
        from ..avicodec import encode_avi_mjpeg

        frames = [
            _jpeg_flat_pixels(i, d["w"], d["h"], d["ch"], f=f)
            for f in range(d["nf"])
        ]
        return encode_avi_mjpeg(d["w"], d["h"], d["ch"], frames,
                                fps=d["rate"], qtables=_q8_tables())
    if ext == "jarith":
        from ..arithjpeg import encode_jpeg_arith

        px = _jpeg_flat_pixels(i, d["w"], d["h"], d["ch"])
        return encode_jpeg_arith(
            d["w"], d["h"], d["ch"], px,
            qtables=_q8_tables(), restart_interval=d["restart"],
        )
    if ext == "jp2k":
        from ..jpxcodec import encode_jpx

        n = d["w"] * d["h"] * d["ch"]
        px = bytes((i * 31 + k * 7) % 251 for k in range(n))
        return encode_jpx(d["w"], d["h"], d["ch"], px, levels=d["levels"])
    if ext == "bmp8":
        psize = d["psize"]
        return encode_bmp(
            d["w"], d["h"], _palette_indices(i, psize, d["w"] * d["h"]),
            palette=_shared_palette(i, psize),
        )
    if ext == "alaw":
        codes = [(i * 17 + k * 11) % 256 for k in range(d["n"])]
        return encode_wav(d["rate"], d["ch"], codes, alaw=True)
    if ext == "pcm8":
        codes = [(i * 23 + k * 5) % 256 for k in range(d["n"])]
        return encode_wav(d["rate"], d["ch"], codes, pcm8=True)
    if ext == "float32":
        fs = [(((i * 29 + k * 23) % 65535) - 32767) / 32768.0
              for k in range(d["n"])]
        return encode_wav(d["rate"], d["ch"], fs, float32=True)
    if ext == "adpcm":
        first = ((i * 13) % 2003) - 1001
        nibs = [((i * 5 + k * 3) % 4) | (8 if (i + k) % 7 < 3 else 0)
                for k in range(d["n"])]
        return encode_wav_adpcm_nibbles(d["rate"], first, nibs)
    if ext == "adpcm2":
        from ..mediacodec import encode_wav_adpcm_multi

        n = d["n"]
        fl = ((i * 13) % 2003) - 1001
        fr = ((i * 17) % 1999) - 999
        nl = [((i * 5 + k * 3) % 4) | (8 if (i + k) % 7 < 3 else 0)
              for k in range(n)]
        nr = [((i * 3 + k * 5) % 4) | (8 if (i + k) % 5 < 2 else 0)
              for k in range(n)]
        return encode_wav_adpcm_multi(d["rate"], [fl, fr], [nl, nr])
    if ext == "png16":
        vals = [(i * 4099 + k * 2053) % 65536
                for k in range(d["w"] * d["h"] * d["ch"])]
        return encode_png(d["w"], d["h"], d["ch"], vals, filter_seed=i,
                          depth=16, interlace=d["interlace"])
    if ext in ("pal8", "palsub", "pngtrns"):
        psize = d["psize"]
        trns = None
        if ext == "pngtrns":
            trns = [(i * 19 + j * 7) % 256 for j in range(max(1, psize // 2))]
        return encode_png(d["w"], d["h"], 1,
                          _palette_indices(i, psize, d["w"] * d["h"]),
                          filter_seed=i, palette=_shared_palette(i, psize),
                          depth=d["depth"], interlace=d["interlace"],
                          trns=trns)
    if ext in ("graysub", "gray2i"):
        dep = d["depth"]
        px = bytes((i * 31 + k * 7) % (1 << dep) for k in range(d["w"] * d["h"]))
        return encode_png(d["w"], d["h"], 1, px, filter_seed=i,
                          depth=dep, interlace=d["interlace"])
    if ext == "rgba7":
        px = bytes((i * 31 + k * 7) % 251 for k in range(d["w"] * d["h"] * 4))
        return encode_png(d["w"], d["h"], 4, px, filter_seed=i, interlace=True)
    if d["fmt"] == "jpeg":
        from ..jpegcodec import encode_jpeg, encode_jpeg_progressive

        q8 = _q8_tables()
        px = _jpeg_flat_pixels(i, d["w"], d["h"], d["ch"])
        if d["prog"]:
            return encode_jpeg_progressive(d["w"], d["h"], d["ch"], px, qtables=q8)
        return encode_jpeg(
            d["w"], d["h"], d["ch"], px,
            qtables=q8, restart_interval=d["restart"],
        )
    if d["fmt"] == "wav":
        samples = [((i * 13 + k * 7) % 2003) - 1001 for k in range(d["n"])]
        return encode_wav(d["rate"], d["ch"], samples)
    if d["fmt"] == "ulaw":
        code_bytes = [(i * 17 + k * 11) % 256 for k in range(d["n"])]
        return encode_wav(d["rate"], d["ch"], code_bytes, ulaw=True)
    if d["fmt"] == "gif":
        psize = d["psize"]
        return encode_gif(
            d["w"], d["h"], _shared_palette(i, psize),
            _palette_indices(i, psize, d["w"] * d["h"]),
            interlace=d["interlace"],
        )
    pixels = bytes(
        (i * 31 + k * 7) % 251 for k in range(d["w"] * d["h"] * d["ch"])
    )
    if d["fmt"] == "png":
        # filter_seed=i rotates the row filter start → all 5 PNG filter
        # types occur across the corpus and within taller images
        return encode_png(d["w"], d["h"], d["ch"], pixels, filter_seed=i)
    return encode_bmp(d["w"], d["h"], pixels)


def synth_real_media_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """Row ``i`` is ``(i, real_media_dims(i)["fmt"], encode_real_media(i))``,
    a pure function of ``i``."""
    return arrow_kernel(
        spark.range(0, n, 1, num_partitions),
        lambda bs: ([
            {"media_id": i, "kind": real_media_dims(i)["fmt"],
             "payload": encode_real_media(i)}
            for i in b["id"].tolist()
        ] for b in bs),
        MEDIA_SCHEMA_DDL,
    )


def _decode_media(payload: bytes) -> dict:
    """The one container dispatch: magic bytes → from-scratch decoder →
    ``fmt``, ``channels``, ``width``/``height`` for pictures,
    ``sample_rate`` for sound (an AVI has all four), and ``vals``, the
    canonical value stream: top-down interleaved pixels (an AVI's frames in
    presentation order, so order-sensitive sums see frame ORDER) or
    interleaved signed samples. A container with no decoder raises
    ``NotImplementedError``."""
    if payload[:4] == b"fLaC":
        from ..flaccodec import decode_flac

        rate, ch, vals = decode_flac(payload)
        return {"fmt": "flac", "sample_rate": rate, "channels": ch, "vals": vals}
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        from ..avicodec import decode_avi

        w, h, fps, _nf, frames = decode_avi(payload)
        vals = []
        ch = frames[0][2]
        for fw, fh, fch, px in frames:
            if fch != ch:
                raise ValueError("AVI: mixed frame channel counts")
            vals.extend(px)
        return {"fmt": "mjpeg", "width": w, "height": h, "channels": ch,
                "sample_rate": fps, "vals": vals}
    if payload[:4] == b"RIFF":
        from ..mediacodec import decode_wav

        rate, ch, vals, codec = decode_wav(payload, return_codec=True)
        return {"fmt": "wav" if codec == "pcm16" else codec,
                "sample_rate": rate, "channels": ch, "vals": vals}
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from ..mediacodec import decode_png as decode
        fmt = "png"
    elif payload[:2] == b"BM":
        from ..mediacodec import decode_bmp as decode
        fmt = "bmp"
    elif payload[:4] == b"GIF8":
        from ..mediacodec import decode_gif as decode
        fmt = "gif"
    elif payload[:3] == b"\xff\xd8\xff":
        from ..jpegcodec import decode_jpeg as decode
        fmt = "jpeg"
    elif payload[:4] == b"\xff\x4f\xff\x51":
        from ..jpxcodec import decode_jpx as decode
        fmt = "jp2k"
    else:
        raise NotImplementedError(
            f"no from-scratch decoder for this container (magic {payload[:4]!r})"
        )
    w, h, ch, vals = decode(payload)
    return {"fmt": fmt, "width": w, "height": h, "channels": ch, "vals": vals}


def _real_decode_one(media_id: int, payload: Optional[bytes]) -> dict:
    row = {
        "media_id": media_id, "fmt": None, "width": None, "height": None,
        "channels": None, "sample_rate": None, "n_values": None,
        "value_sum": None, "weighted_sum": None, "error": None,
    }
    try:
        if not payload:
            raise ValueError("empty payload")
        d = _decode_media(bytes(payload))
        row.update(_value_features(d.pop("vals")), **d)
    except Exception as e:  # malformed/unsupported → error row, batch survives
        row["error"] = f"{type(e).__name__}: {e}"
    return row


def real_media_features(media: DataFrame) -> DataFrame:
    """REAL decode (``_decode_media``: PNG/BMP/GIF/JPEG/JPEG 2000,
    WAV/μ-law/A-law/ADPCM/FLAC, MJPEG AVI) → exact integer features per
    payload.

    One Arrow-batch Python dispatch per payload; the decoded canonical
    values (top-down RGB pixels / int16 samples) reduce to order-sensitive
    integer sums a SQL oracle can recompute from the generating formulas."""

    def run(batches):
        for b in batches:
            yield [
                _real_decode_one(i, p)
                for i, p in zip(b["media_id"].tolist(), b["payload"].tolist())
            ]

    return arrow_kernel(media, run, REAL_FEATURES_SCHEMA_DDL)


# ---------------------------------------------------------------------------
# PDF-embedded images (the multimodal face of the PDF walk)
# ---------------------------------------------------------------------------

IMAGEDOC_SCHEMA_DDL = "doc_id BIGINT, pdf BINARY"
IMAGE_INV_SCHEMA_DDL = (
    "doc_id BIGINT, page INT, name STRING, width INT, height INT, "
    "filter STRING, n_bytes BIGINT"
)

_IMG_FILTERS = ("DCTDecode", "CCITTFaxDecode", "JPXDecode")


def _synth_pdfdoc_df(spark, n, num_partitions, caption, images, tail=()) -> DataFrame:
    """The one image-PDF generator shell: doc ``i`` is one page with the
    line ``f"{caption} doc {i}"`` (plus ``tail`` spans) and the XObjects
    ``images(i)``, classic xref on odd ``i`` and an xref stream on even —
    every byte a pure function of ``i``, so the DuckDB oracles recompute
    the expected rows from the same formulas."""

    def gen(batches):
        from b_pdf_parser_spark.pdfwriter import build_pdf

        for b in batches:
            yield [
                {"doc_id": i, "pdf": build_pdf(
                    [[(40.0, 700.0, f"{caption} doc {i}"), *tail]],
                    xref_stream=(i % 2 == 0), images=images(i),
                )}
                for i in b["id"].tolist()
            ]

    return arrow_kernel(spark.range(0, n, 1, num_partitions), gen, IMAGEDOC_SCHEMA_DDL)


def synth_imagedoc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` PDFs carrying ``doc_id % 4`` pseudo-byte image XObjects each
    (filters rotating DCT/CCITT/JPX) — the inventory corpus: the Spark
    path runs the REAL writer → parser roundtrip."""

    def images(i):
        from b_pdf_parser_spark.pdfwriter import make_image

        return [
            make_image(0, 8 + (i + j) % 32, 8 + (i * j) % 24,
                       _IMG_FILTERS[(i + j) % 3], seed=i * 17 + j)
            for j in range(i % 4)
        ]

    return _synth_pdfdoc_df(spark, n, num_partitions, "image", images,
                            tail=((40.0, 680.0, "with pictures"),))


def pdf_image_features(docs: DataFrame) -> DataFrame:
    """Inventory every image XObject in each PDF payload (one Arrow-batch
    Python dispatch per document; pixels are never decoded — see
    ``pdfmodel.image_inventory``)."""

    def run(batches):
        from b_pdf_parser_spark.pdfmodel import image_inventory

        for b in batches:
            rows = []
            for did, pdf in zip(b["doc_id"].tolist(), b["pdf"].tolist()):
                try:
                    for rec in image_inventory(bytes(pdf)):
                        rows.append({"doc_id": int(did), **rec})
                except Exception as e:  # corrupt doc → error row, job survives
                    rows.append({
                        "doc_id": int(did), "page": -1, "name": "",
                        "width": 0, "height": 0,
                        "filter": f"error:{type(e).__name__}", "n_bytes": 0,
                    })
            yield rows

    return arrow_kernel(docs, run, IMAGE_INV_SCHEMA_DDL)


# ---------------------------------------------------------------------------
# PDF image XObjects → pixels: one filter-routed kernel over the codecs
# ---------------------------------------------------------------------------

PIXEL_SCHEMA_DDL = (
    "doc_id BIGINT, page INT, name STRING, width INT, height INT, "
    "channels INT, n_values BIGINT, value_sum BIGINT, weighted_sum BIGINT, "
    "error STRING"
)


def _decode_dct(rec: dict):
    from b_pdf_parser_spark.jpegcodec import decode_jpeg

    return decode_jpeg(rec["data"])


def _decode_jpx(rec: dict):
    from b_pdf_parser_spark.jpxcodec import decode_jpx

    return decode_jpx(rec["data"])


def _decode_ccitt(rec: dict):
    """Routed by /K as a conforming reader must: Group 4 for K < 0,
    Group 3 otherwise; /EncodedByteAlign passes through, and /BlackIs1
    (black decodes to 1-bits) inverts the conforming sample values."""
    from b_pdf_parser_spark.ccittcodec import decode_g3, decode_g4

    w, h, k = rec["width"], rec["height"], rec.get("ccitt_k", 0)
    eba = rec.get("ccitt_byte_align", False)
    if k < 0:
        px = decode_g4(rec["data"], w, h, byte_align=eba)
    else:
        px = decode_g3(rec["data"], w, h, k=k, byte_align=eba)
    if rec.get("ccitt_black1", False):
        px = bytes(255 - v for v in px)
    return w, h, 1, px


# /Filter of the image XObject → codec returning (w, h, channels, pixels)
_PIXEL_CODECS = {
    "DCTDecode": _decode_dct,
    "JPXDecode": _decode_jpx,
    "CCITTFaxDecode": _decode_ccitt,
}


def pdf_pixel_features(docs: DataFrame, filter_name: str) -> DataFrame:
    """PDF walk → the ``filter_name`` image XObjects' codec input (every
    earlier filter in the chain applied,
    ``image_inventory(with_data=filter_name)``) → REAL from-scratch decode
    → exact integer pixel features, one row per image. Images under other
    filters are routed past the codec with their streams undecoded (the
    corpora plant a pseudo-byte decoy per doc, so a routing bug becomes
    an error row); a decode whose dimensions disagree with the XObject's
    /Width /Height fails. A corrupt document, or a corrupt stream under
    ``filter_name``, yields one error row for the document. One Arrow-batch Python dispatch per document."""
    decode = _PIXEL_CODECS[filter_name]

    def run(batches):
        from b_pdf_parser_spark.pdfmodel import image_inventory

        for b in batches:
            rows = []
            for did, pdf in zip(b["doc_id"].tolist(), b["pdf"].tolist()):
                try:
                    for rec in image_inventory(bytes(pdf), with_data=filter_name):
                        if rec["filter"] != filter_name:
                            continue
                        w, h, ch, px = decode(rec)
                        if (w, h) != (rec["width"], rec["height"]):
                            raise ValueError(
                                f"XObject dims {rec['width']}x{rec['height']}"
                                f" != {filter_name} dims {w}x{h}"
                            )
                        rows.append({
                            "doc_id": int(did), "page": rec["page"],
                            "name": rec["name"], "width": w, "height": h,
                            "channels": ch, **_value_features(px),
                            "error": None,
                        })
                except Exception as e:  # corrupt doc/stream → error row
                    rows.append({
                        "doc_id": int(did), "page": -1, "name": "",
                        "width": None, "height": None, "channels": None,
                        "n_values": None, "value_sum": None,
                        "weighted_sum": None,
                        "error": f"{type(e).__name__}: {e}",
                    })
            yield rows

    return arrow_kernel(docs, run, PIXEL_SCHEMA_DDL)


def _jpeg_xobject_dims(i: int, j: int) -> dict:
    """Generating formulas for embedded JPEG ``j`` of doc ``i`` — shared
    by the corpus builder and the DuckDB oracle. Pixel seed ``s = i*13 +
    j*7`` feeds the same flat-block formula as the real-media corpus."""
    return {
        "w": 8 * (1 + (i + j) % 3),
        "h": 8 * (1 + j % 2),
        "ch": (1, 3)[(i + j) % 2],
        "restart": (0, 2, 3)[(i + j) % 3],
        # progressive SOF2 on half the restart-free XObjects (decoded
        # pixels — and hence the oracle formulas — are identical)
        "prog": (i + j) % 3 == 0 and i % 2 == 0,
        "seed": i * 13 + j * 7,
    }


def synth_jpegdoc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` deterministic PDFs, each embedding ``i % 3`` REAL JPEGs
    (flat 8×8 blocks, DC quant 8 — the bit-exact stratum; baseline SOF0
    with restart rotation + progressive SOF2 on half the restart-free
    slots) as /DCTDecode image XObjects, plus one pseudo-byte CCITT
    decoy per doc."""

    def images(i):
        from b_pdf_parser_spark.jpegcodec import encode_jpeg, encode_jpeg_progressive
        from b_pdf_parser_spark.pdfwriter import make_image

        q8 = _q8_tables()
        imgs = []
        for j in range(i % 3):
            d = _jpeg_xobject_dims(i, j)
            px = _jpeg_flat_pixels(d["seed"], d["w"], d["h"], d["ch"])
            if d["prog"]:
                payload = encode_jpeg_progressive(
                    d["w"], d["h"], d["ch"], px, qtables=q8,
                )
            else:
                payload = encode_jpeg(
                    d["w"], d["h"], d["ch"], px,
                    qtables=q8, restart_interval=d["restart"],
                )
            imgs.append({
                "page": 0, "width": d["w"], "height": d["h"],
                "filter": "DCTDecode", "data": payload,
            })
        return imgs + [make_image(0, 16, 8, "CCITTFaxDecode", seed=i)]

    return _synth_pdfdoc_df(spark, n, num_partitions, "jpeg", images)


def _jpx_xobject_dims(i: int, j: int) -> dict:
    """Generating formulas for embedded JPEG 2000 image ``j`` of doc
    ``i`` — shared by the corpus builder and the DuckDB oracle. The
    pixel at (x, y, channel c) is ``(s + 7x + 11y + 97c) % 256`` with
    seed ``s = i*13 + j*7``; the 5/3+MQ path is LOSSLESS so the decoded
    samples ARE the formula (no quantization argument needed).
    ``levels`` rotates 0/1/2 wavelet decompositions — the decoded pixels
    are identical across levels, so the oracle is level-independent
    while the transform/packet routing is pinned (the same cheap hazard
    trick as the CCITT /K rotation)."""
    return {
        "w": 6 + (i * 5 + j * 3) % 19,
        "h": 5 + (i * 2 + j) % 14,
        "ch": (1, 3)[(i + j) % 2],
        "levels": (i + j) % 3,
        "seed": i * 13 + j * 7,
    }


def _jpx_pixels(s: int, w: int, h: int, ch: int) -> bytes:
    return bytes(
        (s + 7 * x + 11 * y + 97 * c) % 256
        for y in range(h) for x in range(w) for c in range(ch)
    )


def synth_jpxdoc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` deterministic PDFs, each embedding ``i % 3`` REAL JPEG 2000
    codestreams (from-scratch ``jpxcodec``: MQ coder, EBCOT Tier-1,
    reversible 5/3 — lossless) as /JPXDecode image XObjects with the
    wavelet level count rotating 0/1/2, plus one pseudo-byte DCTDecode
    decoy per doc."""

    def images(i):
        from b_pdf_parser_spark.jpxcodec import encode_jpx
        from b_pdf_parser_spark.pdfwriter import make_image

        imgs = []
        for j in range(i % 3):
            d = _jpx_xobject_dims(i, j)
            px = _jpx_pixels(d["seed"], d["w"], d["h"], d["ch"])
            imgs.append({
                "page": 0, "width": d["w"], "height": d["h"],
                "filter": "JPXDecode",
                "data": encode_jpx(d["w"], d["h"], d["ch"], px,
                                   levels=d["levels"]),
            })
        return imgs + [make_image(0, 16, 8, "DCTDecode", seed=i)]

    return _synth_pdfdoc_df(spark, n, num_partitions, "jpx", images)


def _ccitt_xobject_dims(i: int, j: int) -> dict:
    """Generating formulas for embedded CCITT G4 image ``j`` of doc ``i``
    — shared by the corpus builder and the DuckDB oracle. Widths are
    mostly NOT byte multiples (fax rows are bit-packed, so alignment bugs
    only show on odd widths)."""
    return {
        "w": 21 + (i * 13 + j * 5) % 17,
        "h": 10 + (i * 3 + j) % 9,
    }


def _ccitt_pattern_pixels(i: int, j: int, w: int, h: int) -> bytes:
    """Bi-level test pattern (0 = black, 255 = white): white iff
    ``(x//3 + y//2 + i*7 + j*3) % 5 < 3``. The 3-wide runs exercise
    horizontal mode, the every-2-rows phase shift exercises the vertical
    modes, and the wrap of the modulus produces pass-mode rows — while
    staying a closed form a SQL oracle can restate per pixel."""
    return bytes(
        255 if ((x // 3 + y // 2 + i * 7 + j * 3) % 5) < 3 else 0
        for y in range(h)
        for x in range(w)
    )


def synth_ccittdoc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` deterministic PDFs, each embedding ``1 + i % 2`` REAL CCITT
    bi-level images as /CCITTFaxDecode XObjects (/DeviceGray, 1 bpc —
    the scanned-document-PDF shape) with the /K regime rotating over
    Group 4 (/K -1), Group 3 1-D (/K 0) and Group 3 2-D (/K 4) by
    ``(i + j) % 3`` — half the K=0 images in the PDF-DEFAULT
    /EndOfLine-false shape (rows packed with NO EOL framing, which the
    decoder must auto-detect), a quarter of all images byte-aligned per
    row (/EncodedByteAlign), a fifth carrying /BlackIs1 (the coded runs
    are unchanged; the conforming sample values invert, and the oracle
    inverts in lockstep) — plus one pseudo-byte DCTDecode decoy per doc.
    Together the corpus rotates the ENTIRE practical /CCITTFaxDecode
    parameter surface: K, EndOfLine, EncodedByteAlign, BlackIs1,
    Columns, Rows. The decoded pixels are identical across regimes
    (bi-level fax coding is lossless), so the oracle formulas don't
    depend on K — only the decode PATH does, which is exactly what the
    rotation pins."""

    def images(i):
        from b_pdf_parser_spark.ccittcodec import encode_g3, encode_g4
        from b_pdf_parser_spark.pdfwriter import make_image

        imgs = []
        for j in range(1 + i % 2):
            d = _ccitt_xobject_dims(i, j)
            px = _ccitt_pattern_pixels(i, j, d["w"], d["h"])
            k = (-1, 0, 4)[(i + j) % 3]
            # half the K=0 images ship the PDF-DEFAULT shape:
            # /EndOfLine false, rows packed with no framing
            eol = not (k == 0 and (i // 3) % 2 == 0)
            byte_align = (i * 3 + j) % 4 == 1
            black1 = (i + j) % 5 == 2
            if k < 0:
                enc = encode_g4(d["w"], d["h"], px, byte_align=byte_align)
            else:
                enc = encode_g3(d["w"], d["h"], px, k=k, eol=eol,
                                byte_align=byte_align)
            imgs.append({
                "page": 0, "width": d["w"], "height": d["h"],
                "filter": "CCITTFaxDecode", "k": k, "eol": eol,
                "byte_align": byte_align, "black_is_1": black1,
                "data": enc,
            })
        return imgs + [make_image(0, 16, 8, "DCTDecode", seed=i)]

    return _synth_pdfdoc_df(spark, n, num_partitions, "ccitt", images)
