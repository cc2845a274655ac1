"""From-scratch stdlib-only media codecs: PNG, BMP, WAV, GIF — REAL decoders.

PIL/ffmpeg/opencv are absent from this runtime, but these container
formats need nothing beyond the standard library, so their decode paths
are implemented for real here, from the public specs:

* **PNG** (RFC 2083 / W3C PNG spec): greyscale (depths 1/2/4/8, sub-byte
  samples scaled to canonical 8-bit by the exact ``255//(2**d-1)``
  factor), truecolor, RGBA and palette (color type 3, PLTE) images, both
  sequential and **Adam7-interlaced**; chunk walk with CRC-32
  verification, multi-IDAT concatenation, zlib inflate, and per-row
  unfiltering for ALL five filter types (None/Sub/Up/Average/Paeth —
  ``pdfmodel._png_unfilter_row``, the one unfilter the PDF Flate/LZW
  predictors also run).
* **BMP** (BITMAPINFOHEADER, BI_RGB): 24-bit uncompressed, bottom-up rows,
  BGR order, 4-byte row padding — decoded back to canonical top-down RGB.
* **WAV** (RIFF/WAVE): 16-bit little-endian PCM, 8-bit G.711 μ-law
  (ITU-T G.711 — decoded by the public complement/exponent/mantissa
  integer expansion, so a SQL oracle can restate it) and mono **IMA/DVI
  ADPCM** (format 0x11 — the first compressed audio codec here: block
  header seed + 89-entry step-table walk); fmt/fact/data chunk walk
  (unknown chunks skipped per spec), any channel count for PCM/μ-law.
* **GIF** (GIF89a, first image): the LSB-first variable-code-width LZW
  that is the bit-order twin of the PDF ``LZWDecode`` filter
  (pdfmodel._lzw is MSB-first with EarlyChange; GIF packs codes
  little-endian with a per-image minimum code size and no early change),
  global color table lookup back to canonical RGB, sub-block
  reassembly, extension-block skipping, and both sequential and 4-pass
  interlaced row order.

Every decoder returns canonical values (top-down RGB pixel bytes / int16
samples) so value-level oracles can recompute exact integer features
(sums, position-weighted sums) from the generating formulas — the
real-roundtrip-vs-formula pattern. Encoders exist to build the test
corpus deterministically; the PNG encoder rotates the row filter type so
the decoder's whole unfilter surface is exercised by round-trips.

JPEG (entropy-coded DCT: baseline SOF0/SOF1, progressive SOF2, and —
since round 6 — arithmetic-coded SOF9 via ``arithjpeg.py``) lives in
the sibling module ``jpegcodec.py``, CCITT Group 3/Group 4 fax
(ITU-T T.4/T.6) in ``ccittcodec.py``, and JPEG 2000 Part-1 codestreams
in ``jpxcodec.py`` — all implemented from scratch. A container with no
decoder here takes the NotImplementedError path in
operators/multimodal.py.
"""

from __future__ import annotations

import functools
import struct
import zlib
from typing import List, Optional, Tuple

from .pdfmodel import PdfError, _paeth, _png_unfilter_row


def _fail_loud(fn):
    """Every decoder here promises ValueError (or NotImplementedError)
    on malformed input. The bodies index, struct-unpack and inflate
    freely, so truncated or bit-flipped bytes can surface as
    IndexError/KeyError/struct.error/zlib.error — and the shared
    ``pdfmodel`` helpers raise ``PdfError`` — normalize those at the
    public boundary instead of sprinkling guards through every parser
    (fuzz-pinned in tests/test_codec_fuzz.py)."""

    @functools.wraps(fn)
    def wrap(*a, **kw):
        try:
            return fn(*a, **kw)
        except (ValueError, NotImplementedError):
            raise
        except (struct.error, zlib.error, IndexError, KeyError, OverflowError,
                PdfError) as e:
            raise ValueError(
                f"{fn.__name__}: malformed input ({type(e).__name__}: {e})"
            ) from e

    return wrap

__all__ = [
    "encode_png",
    "decode_png",
    "encode_bmp",
    "decode_bmp",
    "encode_wav",
    "decode_wav",
    "encode_wav_adpcm_multi",
    "encode_wav_adpcm_nibbles",
    "alaw_expand",
    "encode_gif",
    "decode_gif",
    "ulaw_expand",
]

# Decompression-bomb guard: a bit-flipped or hostile dimension field must
# not make a decoder allocate gigabytes before any other validation can
# catch it (LZW/deflate can legally expand >1000x, so input size alone
# cannot bound the output). 2^26 samples (64M — a 4K RGBA frame is 33M)
# is far above anything this pipeline decodes and far below memory harm.
_MAX_SAMPLES = 1 << 26


def _check_pixel_budget(n_samples: int) -> None:
    if n_samples > _MAX_SAMPLES:
        raise ValueError(
            f"image exceeds the decoder's {_MAX_SAMPLES}-sample budget "
            f"({n_samples} samples) — decompression-bomb guard"
        )


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CT_TO_CH = {0: 1, 2: 3, 3: 1, 6: 4}  # gray / truecolor / palette / RGBA
_CH_TO_CT = {1: 0, 3: 2, 4: 6}

# Adam7 interlace passes: (x0, y0, dx, dy) — PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _pack_samples(samples, depth: int) -> bytes:
    """Pack per-pixel sample values (< 2**depth) into scanline bytes:
    MSB-first within each byte for sub-byte depths, zero-padded to a
    byte boundary (PNG spec §7.2); two big-endian bytes per sample at
    depth 16."""
    if depth == 16:
        out = bytearray()
        for v in samples:
            out += int(v).to_bytes(2, "big")
        return bytes(out)
    if depth == 8:
        return bytes(samples)
    out = bytearray()
    acc = 0
    nbits = 0
    for v in samples:
        acc = (acc << depth) | (v & ((1 << depth) - 1))
        nbits += depth
        if nbits == 8:
            out.append(acc)
            acc = 0
            nbits = 0
    if nbits:
        out.append(acc << (8 - nbits))
    return bytes(out)


def _unpack_samples(row: bytes, n: int, depth: int):
    """Inverse of :func:`_pack_samples`: first ``n`` samples of a packed
    scanline."""
    if depth == 16:
        return [int.from_bytes(row[2 * k : 2 * k + 2], "big") for k in range(n)]
    if depth == 8:
        return list(row[:n])
    out = []
    per_byte = 8 // depth
    mask = (1 << depth) - 1
    for k in range(n):
        byte = row[k // per_byte]
        shift = 8 - depth * (k % per_byte + 1)
        out.append((byte >> shift) & mask)
    return out


def _chunk(typ: bytes, body: bytes) -> bytes:
    return (
        len(body).to_bytes(4, "big")
        + typ
        + body
        + (zlib.crc32(typ + body) & 0xFFFFFFFF).to_bytes(4, "big")
    )


def _filter_row(f: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``f`` to a raw row (encoder side)."""
    n = len(row)
    out = bytearray(n)
    for x in range(n):
        a = row[x - bpp] if x >= bpp else 0
        b = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        if f == 0:
            v = row[x]
        elif f == 1:
            v = row[x] - a
        elif f == 2:
            v = row[x] - b
        elif f == 3:
            v = row[x] - (a + b) // 2
        else:
            v = row[x] - _paeth(a, b, c)
        out[x] = v & 0xFF
    return bytes(out)


def _png_pass_geometry(width: int, height: int, interlace: bool):
    """Yield (x0, y0, dx, dy, pass_w, pass_h) for each non-empty pass —
    one full-image pass when non-interlaced, the 7 Adam7 reduced images
    otherwise (empty passes are simply absent from the stream)."""
    if not interlace:
        yield 0, 0, 1, 1, width, height
        return
    for x0, y0, dx, dy in _ADAM7:
        pw = (width - x0 + dx - 1) // dx
        ph = (height - y0 + dy - 1) // dy
        if pw > 0 and ph > 0:
            yield x0, y0, dx, dy, pw, ph


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    filter_seed: int = 0,
    *,
    palette: Optional[List[Tuple[int, int, int]]] = None,
    depth: int = 8,
    interlace: bool = False,
    trns: Optional[List[int]] = None,
) -> bytes:
    """Serialize canonical top-down pixels as a real PNG. Three shapes:

    * default — 8-bit greyscale/RGB/RGBA (``channels`` ∈ {1,3,4}),
      ``pixels`` is the flat sample buffer;
    * ``palette=[...]`` — color type 3: ``pixels`` is one palette index
      per pixel, ``depth`` ∈ {1,2,4,8} with ``len(palette) <= 2**depth``
      (a PLTE chunk is written). ``trns`` adds a tRNS chunk of per-entry
      alpha values (may be shorter than the palette — omitted entries
      are opaque, per the spec);
    * ``depth`` < 8 with ``channels == 1`` and no palette — sub-byte
      greyscale: ``pixels`` is one sample value < ``2**depth`` per pixel;
    * ``depth == 16`` — greyscale/RGB/RGBA at 16 bits/sample: ``pixels``
      is a sequence of per-sample values < 65536 (so a list, not bytes),
      length ``w*h*channels``, stored big-endian per spec.

    The per-row filter type rotates ``(filter_seed + y) % 5`` so
    round-trips cover the full unfilter surface (sub-byte rows filter
    over packed bytes with bpp=1, per spec); ``interlace=True`` writes
    the 7 Adam7 reduced images; the IDAT stream is split into two chunks
    when big enough to exercise concatenation."""
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError("depth must be 1, 2, 4, 8 or 16")
    plte = b""
    if palette is not None:
        if depth == 16:
            raise ValueError("unsupported bit depth 16 for palette images")
        if not 1 <= len(palette) <= min(256, 1 << depth):
            raise ValueError("palette length must fit the bit depth")
        ct = 3
        spp = 1
        if max(pixels, default=0) >= len(palette):
            raise ValueError("palette index out of range")
        plte = _chunk(b"PLTE", b"".join(bytes(e) for e in palette))
        if trns is not None:
            if not 1 <= len(trns) <= len(palette):
                raise ValueError("tRNS length must be 1..len(palette)")
            plte += _chunk(b"tRNS", bytes(trns))
    elif trns is not None:
        raise ValueError("trns is only supported with a palette")
    elif depth < 8:
        if channels != 1:
            raise ValueError("sub-byte depth requires greyscale (channels=1)")
        ct = 0
        spp = 1
        if max(pixels, default=0) >= (1 << depth):
            raise ValueError("sample value out of range for depth")
    else:
        if channels not in _CH_TO_CT:
            raise ValueError("channels must be 1, 3 or 4")
        ct = _CH_TO_CT[channels]
        spp = channels
        if depth == 16 and max(pixels, default=0) > 0xFFFF:
            raise ValueError("sample value out of range for depth 16")
    if len(pixels) != width * height * spp:
        raise ValueError("pixel buffer does not match dimensions")
    ihdr = struct.pack(
        ">IIBBBBB", width, height, depth, ct, 0, 0, 1 if interlace else 0
    )
    bpp = max(1, depth * spp // 8)
    raw = bytearray()
    for x0, y0, dx, dy, pw, ph in _png_pass_geometry(width, height, interlace):
        row_bytes = (pw * spp * depth + 7) // 8
        prev = bytes(row_bytes)
        for py in range(ph):
            y = y0 + py * dy
            samples = []
            for px_i in range(pw):
                x = x0 + px_i * dx
                o = (y * width + x) * spp
                samples.extend(pixels[o : o + spp])
            row = _pack_samples(samples, depth)
            f = (filter_seed + py) % 5
            raw.append(f)
            raw += _filter_row(f, row, prev, bpp)
            prev = row
    comp = zlib.compress(bytes(raw), 6)
    mid = len(comp) // 2 if len(comp) > 64 else len(comp)
    idat = _chunk(b"IDAT", comp[:mid])
    if mid < len(comp):
        idat += _chunk(b"IDAT", comp[mid:])
    return _PNG_SIG + _chunk(b"IHDR", ihdr) + plte + idat + _chunk(b"IEND", b"")


@_fail_loud
def decode_png(data: bytes) -> Tuple[int, int, int, bytes]:
    """→ (width, height, channels, canonical top-down pixel bytes).

    Handles color types 0 (greyscale, depths 1/2/4/8 — sub-byte samples
    scale to 8-bit by the exact integer factor ``255 // (2**d - 1)``),
    2 (RGB), 3 (palette, depths 1/2/4/8 — mapped through PLTE to
    canonical RGB, or to RGBA when a tRNS chunk provides per-entry
    alpha, entries past its end opaque per spec) and 6 (RGBA), both
    sequential and Adam7-interlaced. Canonical output is always
    8-bit."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    idat: List[bytes] = []
    plte: List[Tuple[int, int, int]] = []
    trns: List[int] = []
    w = h = None
    depth = ct = interlace = 0
    while pos + 12 <= len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + ln]
        crc = int.from_bytes(data[pos + 8 + ln : pos + 12 + ln], "big")
        if (zlib.crc32(typ + body) & 0xFFFFFFFF) != crc:
            raise ValueError(f"PNG chunk {typ!r} CRC mismatch")
        if typ == b"IHDR":
            w, h, depth, ct, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if ct not in _CT_TO_CH:
                raise ValueError(f"unsupported color type {ct}")
            allowed = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                       6: (8, 16)}[ct]
            if depth not in allowed:
                raise ValueError(f"unsupported bit depth {depth} for type {ct}")
            if comp != 0 or filt != 0:
                # only method 0 exists in the spec; decoding anything else
                # with method-0 semantics would be silent corruption
                raise ValueError(
                    f"bad PNG compression/filter method ({comp}, {filt})"
                )
            if interlace not in (0, 1):
                raise ValueError(f"bad interlace method {interlace}")
        elif typ == b"PLTE":
            if ln % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = [tuple(body[3 * j : 3 * j + 3]) for j in range(ln // 3)]
        elif typ == b"tRNS":
            if ct != 3:
                raise ValueError("tRNS only supported for palette images")
            trns = list(body)
        elif typ == b"IDAT":
            idat.append(body)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if w is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    if ct == 3 and not plte:
        raise ValueError("palette image missing PLTE")
    spp = 1 if ct in (0, 3) else _CT_TO_CH[ct]
    bpp = max(1, depth * spp // 8)
    _check_pixel_budget(w * h * spp)
    # reconstruct the per-pixel sample grid across all passes
    grid = [0] * (w * h * spp)
    raw = zlib.decompress(b"".join(idat))
    p = 0
    for x0, y0, dx, dy, pw, ph in _png_pass_geometry(w, h, interlace == 1):
        row_bytes = (pw * spp * depth + 7) // 8
        prev = bytes(row_bytes)
        for py in range(ph):
            if p >= len(raw):
                raise ValueError("decompressed stream shorter than image")
            f = raw[p]
            row = _png_unfilter_row(
                f, bytearray(raw[p + 1 : p + 1 + row_bytes]), prev, bpp
            )
            if len(row) != row_bytes:
                raise ValueError("decompressed stream shorter than image")
            p += 1 + row_bytes
            samples = _unpack_samples(bytes(row), pw * spp, depth)
            y = y0 + py * dy
            for px_i in range(pw):
                x = x0 + px_i * dx
                o = (y * w + x) * spp
                grid[o : o + spp] = samples[px_i * spp : (px_i + 1) * spp]
            prev = bytes(row)
    if p != len(raw):
        raise ValueError("decompressed size does not match dimensions")
    if ct == 3:  # palette → canonical RGB (RGBA when tRNS is present)
        och = 4 if trns else 3
        out = bytearray(w * h * och)
        for k, v in enumerate(grid):
            if v >= len(plte):
                raise ValueError("palette index out of range")
            o = och * k
            out[o], out[o + 1], out[o + 2] = plte[v]
            if trns:
                # entries past the tRNS end are fully opaque (spec §11.3.2)
                out[o + 3] = trns[v] if v < len(trns) else 255
        return w, h, och, bytes(out)
    if depth < 8:  # sub-byte greyscale → exact 8-bit scaling
        scale = 255 // ((1 << depth) - 1)
        return w, h, 1, bytes(v * scale for v in grid)
    if depth == 16:  # canonicalize to the high byte (spec's depth scaling)
        return w, h, spp, bytes(v >> 8 for v in grid)
    return w, h, spp, bytes(grid)


def encode_bmp(
    width: int,
    height: int,
    pixels_rgb: bytes,
    palette: Optional[List[Tuple[int, int, int]]] = None,
) -> bytes:
    """Canonical top-down pixels → BI_RGB BMP (bottom-up rows padded to
    4 bytes — the format's actual on-disk shape). Default: 24-bit,
    ``pixels_rgb`` is RGB triples, stored BGR. With ``palette`` (≤256
    entries): 8-bit indexed — ``pixels_rgb`` is one palette index per
    pixel, the color table is stored as BGRX quads and ``biClrUsed``
    records its length."""
    if palette is not None:
        if not 1 <= len(palette) <= 256:
            raise ValueError("palette length must be 1..256")
        if len(pixels_rgb) != width * height:
            raise ValueError("index buffer does not match dimensions")
        if max(pixels_rgb, default=0) >= len(palette):
            raise ValueError("palette index out of range")
        bpp = 8
        stride = width
        table = b"".join(bytes((b, g, r, 0)) for r, g, b in palette)
    else:
        if len(pixels_rgb) != width * height * 3:
            raise ValueError("pixel buffer does not match dimensions")
        bpp = 24
        stride = width * 3
        table = b""
    pad = (-stride) % 4
    rows = []
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        if palette is not None:
            row += pixels_rgb[y * width : (y + 1) * width]
        else:
            for x in range(width):
                o = (y * width + x) * 3
                r, g, b = pixels_rgb[o], pixels_rgb[o + 1], pixels_rgb[o + 2]
                row += bytes((b, g, r))  # BGR on disk
        row += bytes(pad)
        rows.append(bytes(row))
    body = b"".join(rows)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, bpp, 0, len(body), 2835, 2835,
        len(palette) if palette is not None else 0, 0,
    )
    off = 14 + 40 + len(table)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    return hdr + dib + table + body


@_fail_loud
def decode_bmp(data: bytes) -> Tuple[int, int, int, bytes]:
    """→ (width, height, 3, canonical top-down RGB pixel bytes).
    Handles 24-bit BI_RGB and 8-bit indexed (BGRX color table after the
    BITMAPINFOHEADER, ``biClrUsed`` entries — 0 meaning the full 256),
    both bottom-up and top-down (negative height)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    if len(data) < 34:
        raise ValueError("BMP header truncated")
    _sig, _size, _r1, _r2, off = struct.unpack("<2sIHHI", data[:14])
    hsz, w, h, _planes, bpp, comp = struct.unpack("<IiiHHI", data[14:34])
    if bpp not in (8, 24) or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
    bottom_up = h > 0
    h = abs(h)
    pal: List[Tuple[int, int, int]] = []
    if bpp == 8:
        if len(data) < 50:
            raise ValueError("BMP header truncated")
        clr_used = struct.unpack("<I", data[46:50])[0]
        n = clr_used or 256
        base = 14 + hsz
        if base + 4 * n > len(data):
            raise ValueError("BMP color table out of range")
        for j in range(n):
            b, g, r, _x = data[base + 4 * j : base + 4 * j + 4]
            pal.append((r, g, b))
    px_bytes = w * (1 if bpp == 8 else 3)
    pad = (-px_bytes) % 4
    stride = px_bytes + pad
    if h and off + (h - 1) * stride + px_bytes > len(data):
        raise ValueError("BMP pixel data truncated")
    _check_pixel_budget(w * h * 3)
    out = bytearray(w * h * 3)
    for row_i in range(h):
        y = (h - 1 - row_i) if bottom_up else row_i  # canonical row index
        base = off + row_i * stride
        for x in range(w):
            if bpp == 8:
                v = data[base + x]
                if v >= len(pal):
                    raise ValueError("BMP palette index out of range")
                r, g, b = pal[v]
            else:
                b, g, r = data[base + 3 * x : base + 3 * x + 3]
            o = (y * w + x) * 3
            out[o], out[o + 1], out[o + 2] = r, g, b
    return w, h, 3, bytes(out)


def encode_wav(
    sample_rate: int,
    channels: int,
    samples: List[int],
    ulaw: bool = False,
    alaw: bool = False,
    pcm8: bool = False,
    float32: bool = False,
) -> bytes:
    """Interleaved samples → RIFF/WAVE. PCM16 by default (``samples`` are
    int16); with ``ulaw=True``/``alaw=True`` the samples are raw G.711
    code bytes (0–255) and the fmt chunk says audio format 7/6 at 8
    bits; with ``pcm8=True`` they are UNSIGNED 8-bit PCM bytes (format
    1 at 8 bits — the WAV convention for 8-bit); with ``float32=True``
    they are floats in [-1, 1) stored as IEEE format 3 at 32 bits (a
    ``fact`` chunk is written, as required for non-PCM). A junk
    ``LIST`` chunk is inserted before ``data`` so decoders must
    actually walk chunks."""
    if sum((ulaw, alaw, pcm8, float32)) > 1:
        raise ValueError("pick at most one of ulaw/alaw/pcm8/float32")
    if float32:
        body = struct.pack(f"<{len(samples)}f", *samples)
        fmt = struct.pack(
            "<HHIIHH", 3, channels, sample_rate,
            sample_rate * channels * 4, channels * 4, 32,
        )
    elif ulaw or alaw or pcm8:
        body = bytes(samples)
        fmt = struct.pack(
            "<HHIIHH", 7 if ulaw else (6 if alaw else 1), channels,
            sample_rate, sample_rate * channels, channels, 8,
        )
    else:
        body = struct.pack(f"<{len(samples)}h", *samples)
        fmt = struct.pack(
            "<HHIIHH", 1, channels, sample_rate,
            sample_rate * channels * 2, channels * 2, 16,
        )
    junk = b"INFOsynthetic corpus\x00"
    fact = b""
    if float32:  # non-PCM formats carry a fact chunk (per-channel count)
        fact = b"fact" + struct.pack("<II", 4, len(samples) // max(1, channels))
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + fact
        + b"LIST" + struct.pack("<I", len(junk)) + junk + (b"\x00" if len(junk) % 2 else b"")
        + b"data" + struct.pack("<I", len(body)) + body
        + (b"\x00" if len(body) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


# ---------------------------------------------------------------------------
# IMA/DVI ADPCM (WAVE format tag 0x11) — the first *compressed* audio codec
# here, from the public IMA "Recommended Practices for Enhancing Digital
# Audio Compatibility" algorithm (the same tables live in RFC 3551 §4.5.1).
# Each block carries an exact int16 predictor seed + step index, then 4-bit
# nibbles advance the predictor through the 89-entry step table.
# ---------------------------------------------------------------------------

_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544,
    598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707,
    1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871,
    5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_step(nibble: int, pred: int, idx: int) -> Tuple[int, int]:
    """One IMA ADPCM decode step: (predictor, step index) → next state.
    Pure integer arithmetic; magnitude is ``step>>3 (+step>>2 if bit0)
    (+step>>1 if bit1) (+step if bit2)``, bit3 is the sign."""
    step = _IMA_STEPS[idx]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX[nibble & 7]))
    return pred, idx


def encode_wav_adpcm_nibbles(
    sample_rate: int, first_sample: int, nibbles: List[int], index0: int = 0
) -> bytes:
    """Mono single-block IMA ADPCM RIFF/WAVE from an explicit nibble
    stream: 4-byte block header (int16 predictor seed = the first output
    sample, step index, reserved 0) then nibbles packed LOW-first two per
    byte. A ``fact`` chunk records the exact sample count so an odd
    nibble count's pad nibble is not decoded as audio."""
    n = len(nibbles)
    body = struct.pack("<hBB", first_sample, index0, 0)
    packed = bytearray()
    for j in range(0, n, 2):
        lo = nibbles[j] & 0x0F
        hi = (nibbles[j + 1] & 0x0F) if j + 1 < n else 0
        packed.append(lo | (hi << 4))
    body += bytes(packed)
    block_align = len(body)
    samples_per_block = 1 + 2 * len(packed)  # what a full block would hold
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, sample_rate,
        (sample_rate * block_align) // max(1, samples_per_block),
        block_align, 4, 2, samples_per_block,
    )
    fact = struct.pack("<I", 1 + n)
    junk = b"INFOsynthetic corpus\x00"
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"LIST" + struct.pack("<I", len(junk)) + junk + (b"\x00" if len(junk) % 2 else b"")
        + b"data" + struct.pack("<I", len(body)) + body
        + (b"\x00" if len(body) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def encode_wav_adpcm_multi(
    sample_rate: int,
    firsts: List[int],
    nibble_streams: List[List[int]],
    index0: int = 0,
) -> bytes:
    """Multi-channel single-block IMA ADPCM RIFF/WAVE from explicit
    per-channel nibble streams (all the same length): one 4-byte header
    per channel, then 4-byte nibble groups (8 samples each, LOW-first)
    cycling channel 0..ch-1 — the standard interleaved layout. Streams
    are zero-padded to a multiple of 8 nibbles; the ``fact`` chunk
    records the true per-channel sample count so pads are not decoded
    as audio."""
    ch = len(firsts)
    if ch < 1 or len(nibble_streams) != ch:
        raise ValueError("need one nibble stream per channel")
    n = len(nibble_streams[0])
    if any(len(s) != n for s in nibble_streams):
        raise ValueError("nibble streams must be the same length")
    npad = -(-n // 8) * 8
    body = bytearray()
    for c in range(ch):
        body += struct.pack("<hBB", firsts[c], index0, 0)
    for g in range(npad // 8):
        for c in range(ch):
            chunk8 = (nibble_streams[c] + [0] * (npad - n))[g * 8 : (g + 1) * 8]
            for j in range(0, 8, 2):
                body.append((chunk8[j] & 0x0F) | ((chunk8[j + 1] & 0x0F) << 4))
    block_align = len(body)
    samples_per_block = 1 + (block_align - 4 * ch) * 2 // ch
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, ch, sample_rate,
        (sample_rate * block_align) // max(1, samples_per_block),
        block_align, 4, 2, samples_per_block,
    )
    fact = struct.pack("<I", 1 + n)  # per-channel, like the mono writer
    junk = b"INFOsynthetic corpus\x00"
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"LIST" + struct.pack("<I", len(junk)) + junk + (b"\x00" if len(junk) % 2 else b"")
        + b"data" + struct.pack("<I", len(body)) + body
        + (b"\x00" if len(body) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def ulaw_expand(b: int) -> int:
    """ITU-T G.711 μ-law code byte → linear int16 sample (the public
    complement / exponent / mantissa integer expansion — pure integer
    arithmetic, so a SQL oracle can restate it verbatim)."""
    u = ~b & 0xFF
    mag = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    mag -= 0x84
    return -mag if u & 0x80 else mag


def alaw_expand(b: int) -> int:
    """ITU-T G.711 A-law code byte → linear sample (the other G.711
    half: even bits invert (XOR 0x55), segment 0 is linear with a +8
    rounding offset, segments 1–7 shift the mantissa under an implicit
    leading 1 — again pure integer arithmetic a SQL oracle can restate).
    Sign convention per the spec: MSB set means positive."""
    u = b ^ 0x55
    seg = (u >> 4) & 0x07
    mant = u & 0x0F
    if seg == 0:
        t = (mant << 4) + 8
    elif seg == 1:
        t = (mant << 4) + 0x108
    else:
        t = ((mant << 4) + 0x108) << (seg - 1)
    return t if u & 0x80 else -t


@_fail_loud
def decode_wav(
    data: bytes, return_codec: bool = False
) -> Tuple[int, ...]:
    """→ (sample_rate, channels, interleaved linear int16 samples)
    [+ codec name ``"pcm16"``/``"ulaw"``/``"adpcm"`` when
    ``return_codec``].

    Accepts PCM16 and unsigned PCM8 (audio format 1 — 8-bit scales to
    int16 as ``(v-128)*256``), G.711 μ-law (format 7, 8-bit), G.711
    A-law (format 6, 8-bit) and mono IMA/DVI ADPCM (format 0x11, 4-bit —
    decoded block by block: int16 predictor seed + step index header,
    then low-nibble-first codes through the 89-entry step table,
    truncated to the ``fact`` chunk's sample count); all forms return
    canonical linear int16."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    rate = ch = None
    audio_fmt = None
    bits = 0
    block_align = 0
    fact_samples: Optional[int] = None
    body: Optional[bytes] = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        ln = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        chunk = data[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            audio_fmt, ch, rate, _br, block_align, bits = struct.unpack(
                "<HHIIHH", chunk[:16]
            )
            if (audio_fmt, bits) not in (
                (1, 16), (1, 8), (3, 32), (6, 8), (7, 8), (0x11, 4)
            ):
                raise ValueError(f"unsupported WAV (fmt={audio_fmt}, bits={bits})")
            if audio_fmt == 0x11 and not 1 <= ch <= 8:
                raise ValueError(f"bad IMA ADPCM channel count {ch}")
        elif cid == b"fact":
            fact_samples = struct.unpack("<I", chunk[:4])[0]
        elif cid == b"data":
            if rate is None:
                raise ValueError("data chunk before fmt")
            if body is not None:
                raise ValueError("multiple data chunks")
            body = chunk
        pos += 8 + ln + (ln % 2)  # chunks are word-aligned
    if rate is None:
        raise ValueError("missing fmt chunk")
    # decode AFTER the walk so fact/data chunk order doesn't matter
    # (RIFF does not mandate fact before data)
    samples: List[int] = []
    if body is not None:
        if audio_fmt == 7:
            samples = [ulaw_expand(v) for v in body]
        elif audio_fmt == 6:
            samples = [alaw_expand(v) for v in body]
        elif audio_fmt == 1 and bits == 8:
            # WAV 8-bit PCM is unsigned; canonicalize to int16
            samples = [(v - 128) * 256 for v in body]
        elif audio_fmt == 3:
            # IEEE float32 in [-1, 1): canonicalize by the exact 2^15
            # scale (values n/32768 round-trip bit-exactly), clamped to
            # int16 for out-of-range floats
            nf = len(body) // 4
            floats = struct.unpack(f"<{nf}f", body[: nf * 4])
            samples = [
                max(-32768, min(32767, round(f * 32768))) for f in floats
            ]
        elif audio_fmt == 0x11:
            if block_align < 4 * ch:
                raise ValueError("ADPCM block align too small")
            # per-channel streams: each block carries one 4-byte header
            # per channel, then 4-byte nibble groups (8 samples) cycling
            # channel 0..ch-1 — the standard interleaved layout; mono
            # degenerates to the plain sequential walk
            chans: List[List[int]] = [[] for _ in range(ch)]
            for b0 in range(0, len(body), block_align):
                block = body[b0 : b0 + block_align]
                if len(block) < 4 * ch:
                    raise ValueError("truncated ADPCM block header")
                preds = []
                idxs = []
                for c in range(ch):
                    pred, idx, _rsv = struct.unpack(
                        "<hBB", block[4 * c : 4 * c + 4]
                    )
                    if idx > 88:
                        raise ValueError(f"ADPCM step index {idx} out of range")
                    preds.append(pred)
                    idxs.append(idx)
                    chans[c].append(pred)
                groups = block[4 * ch :]
                if ch == 1:
                    # mono: plain sequential nibble walk, any byte count
                    for byte in groups:
                        for nib in (byte & 0x0F, byte >> 4):
                            preds[0], idxs[0] = _ima_step(nib, preds[0], idxs[0])
                            chans[0].append(preds[0])
                else:
                    if len(groups) % 4:
                        raise ValueError("ADPCM data not in 4-byte groups")
                    for g in range(0, len(groups), 4):
                        c = (g // 4) % ch
                        for byte in groups[g : g + 4]:
                            for nib in (byte & 0x0F, byte >> 4):
                                preds[c], idxs[c] = _ima_step(nib, preds[c], idxs[c])
                                chans[c].append(preds[c])
            if fact_samples is not None:  # fact counts samples PER CHANNEL
                chans = [s[:fact_samples] for s in chans]
            n_per = min(len(s) for s in chans)
            samples = [chans[c][m] for m in range(n_per) for c in range(ch)]
        else:
            n2 = len(body) // 2
            samples = list(struct.unpack(f"<{n2}h", body[: n2 * 2]))
    if return_codec:
        codec = {3: "float32", 6: "alaw", 7: "ulaw", 0x11: "adpcm"}.get(
            audio_fmt, "pcm8" if bits == 8 else "pcm16"
        )
        return rate, ch, samples, codec
    return rate, ch, samples


# ---------------------------------------------------------------------------
# GIF — the LSB-first LZW sibling of the PDF LZWDecode filter
# ---------------------------------------------------------------------------

# GIF's 4-pass interlace: (first row, row step) per pass
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_interlace_order(height: int) -> List[int]:
    return [y for start, step in _GIF_INTERLACE for y in range(start, height, step)]


def _gif_lzw_compress(indices: bytes, mcs: int) -> bytes:
    """Real dictionary LZW, GIF flavor: codes packed LSB-first, width
    grows 1 past each power of two the *decoder's* table crosses (the
    encoder runs one dictionary entry ahead of the decoder, hence the
    ``next_code == (1 << width) + 1`` bump — no EarlyChange, unlike the
    PDF filter), clear code emitted whenever the table fills at 4096."""
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = mcs + 1
    emit(clear, width)
    w = b""
    for byte in indices:
        wk = w + bytes([byte])
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = mcs + 1
        w = bytes([byte])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_decompress(data: bytes, mcs: int, expect: int) -> bytes:
    """Inverse of :func:`_gif_lzw_compress`; stops after ``expect`` output
    bytes or the EOI code."""
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    table: List[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = mcs + 1
    prev: bytes = b""
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                width = mcs + 1
                prev = b""
                continue
            if code == eoi:
                return bytes(out)
            if not prev:
                if code >= len(table):
                    raise ValueError("GIF LZW: bad first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("GIF LZW: code out of range")
            out += entry
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= expect:
                return bytes(out[:expect])
    raise ValueError("GIF LZW: ran out of data before EOI")


def encode_gif(
    width: int,
    height: int,
    palette: List[Tuple[int, int, int]],
    indices: bytes,
    interlace: bool = False,
) -> bytes:
    """Palette (power-of-two length 2–256) + per-pixel palette indices →
    a real GIF89a. A comment extension and a graphic control extension
    precede the image so decoders must walk 0x21 blocks; ``interlace``
    writes rows in the 4-pass order."""
    psize = len(palette)
    if psize < 2 or psize & (psize - 1):
        raise ValueError("palette length must be a power of two in [2, 256]")
    if len(indices) != width * height:
        raise ValueError("index buffer does not match dimensions")
    if max(indices) >= psize:
        raise ValueError("palette index out of range")
    depth = psize.bit_length() - 1  # log2
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes((0x80 | ((depth - 1) & 7) << 4 | (depth - 1) & 7, 0, 0))
    for r, g, b in palette:
        out += bytes((r, g, b))
    # graphic control + comment extensions: decoders must skip these
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    out += b"\x21\xfe\x10synthetic corpus\x00"
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height)
    out += bytes((0x40 if interlace else 0,))
    if interlace:
        rows = _gif_interlace_order(height)
        body = b"".join(indices[y * width : (y + 1) * width] for y in rows)
    else:
        body = indices
    mcs = max(2, depth)
    out.append(mcs)
    comp = _gif_lzw_compress(body, mcs)
    for off in range(0, len(comp), 255):
        block = comp[off : off + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"
    return bytes(out)


@_fail_loud
def decode_gif(data: bytes) -> Tuple[int, int, int, bytes]:
    """→ (width, height, 3, canonical top-down RGB pixel bytes): walks the
    header/extensions, reassembles sub-blocks, LZW-decodes the index
    stream, undoes interlacing, and maps through the color table."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF (bad signature)")
    sw, sh = struct.unpack("<HH", data[6:10])
    packed, _bg, _aspect = data[10], data[11], data[12]
    pos = 13
    gct: List[Tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 7)
        for j in range(n):
            o = pos + 3 * j
            gct.append((data[o], data[o + 1], data[o + 2]))
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label byte then sub-blocks
            pos += 1
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        left, top, w, h = struct.unpack("<HHHH", data[pos : pos + 8])
        flags = data[pos + 8]
        pos += 9
        pal = gct
        if flags & 0x80:  # local color table
            n = 2 << (flags & 7)
            pal = [
                (data[pos + 3 * j], data[pos + 3 * j + 1], data[pos + 3 * j + 2])
                for j in range(n)
            ]
            pos += 3 * n
        if not pal:
            raise ValueError("GIF image has no color table")
        _check_pixel_budget(w * h * 3)
        mcs = data[pos]
        pos += 1
        comp = bytearray()
        while data[pos]:
            ln = data[pos]
            comp += data[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1
        idx = _gif_lzw_decompress(bytes(comp), mcs, w * h)
        if flags & 0x40:  # undo 4-pass interlace
            ordered = bytearray(w * h)
            for src, y in enumerate(_gif_interlace_order(h)):
                ordered[y * w : (y + 1) * w] = idx[src * w : (src + 1) * w]
            idx = bytes(ordered)
        out = bytearray(w * h * 3)
        for k, v in enumerate(idx):
            if v >= len(pal):
                raise ValueError("GIF palette index out of range")
            out[3 * k], out[3 * k + 1], out[3 * k + 2] = pal[v]
        return w, h, 3, bytes(out)
    raise ValueError("GIF contains no image descriptor")
