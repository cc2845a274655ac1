"""From-scratch stdlib-only PNG and BMP codecs, and the decode guards
every image codec here shares.

* ``_fail_loud`` normalises malformed-input errors to ``ValueError`` at
  each decoder's public boundary, and ``_check_pixel_budget`` is the
  decompression-bomb guard; ``jpegcodec``, ``jpxcodec`` and
  ``ccittcodec`` import both. Both are fuzz-pinned in
  tests/test_codec_fuzz.py.
* **PNG** (RFC 2083 / W3C PNG spec): greyscale (depths 1/2/4/8/16,
  sub-byte samples scaled to canonical 8-bit by the exact
  ``255//(2**d-1)`` factor), truecolor, RGBA and palette (color type 3,
  PLTE, optional tRNS) images, both sequential and Adam7-interlaced;
  chunk walk with CRC-32 verification, multi-IDAT concatenation, zlib
  inflate, and per-row unfiltering for all five filter types
  (``pdfmodel._png_unfilter_row``, the one unfilter the PDF Flate/LZW
  predictors also run).
* **BMP** (BITMAPINFOHEADER, BI_RGB): 24-bit and 8-bit indexed,
  bottom-up or top-down rows, BGR order, 4-byte row padding.

Both decoders return canonical top-down 8-bit pixel bytes, so the
``real_media_decode`` oracle recomputes exact integer features from the
generating formulas. The encoders build that corpus; the PNG encoder
rotates the row filter type so round trips cover the whole unfilter
surface.
"""

from __future__ import annotations

import functools
import struct
import zlib
from typing import List, Optional, Tuple

from .pdfmodel import PdfError, _paeth, _png_unfilter_row


def _fail_loud(fn):
    """Every decoder promises ValueError (or NotImplementedError) on
    malformed input. The bodies index, struct-unpack and inflate freely,
    so truncated or bit-flipped bytes can surface as
    IndexError/KeyError/struct.error/zlib.error, and the shared
    ``pdfmodel`` helpers raise ``PdfError``: normalize those at the
    public boundary instead of sprinkling guards through every parser."""

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


__all__ = ["encode_png", "decode_png", "encode_bmp", "decode_bmp"]

# Decompression-bomb guard: a bit-flipped or hostile dimension field must
# not make a decoder allocate gigabytes before any other validation can
# catch it (entropy coding and deflate can legally expand >1000x, so input
# size alone cannot bound the output). 2^26 samples (64M — a 4K RGBA frame
# is 33M) is far above anything this pipeline decodes and far below memory
# harm.
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
