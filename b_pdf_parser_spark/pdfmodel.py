"""From-scratch PDF object model and text extraction — pure Python over ``bytes``.

This is the Spark-side replacement for the reference's third-party PDF
backends (parity target: ``/root/reference/pdfparser/pymupdf_parser.py:50-77``
— open document, per-page plain text in reading order, pages concatenated
with a trailing ``"\\n"`` each). No PDF library is available in the runtime,
so the full object model is implemented here from the public PDF 1.7 spec:

* lexer for the 8 object types (null/bool/number/string/name/array/dict/stream):
  one master token regex (``_OTOK_RE``) and an explicit stack of open arrays
  and dictionaries, so nesting never recurses; past ``_MAX_NESTING`` levels a
  value is a ``PdfError``
* classic ``xref`` tables AND cross-reference streams (``/Type /XRef`` with
  ``/W`` column widths and PNG predictors), ``/Prev`` chains, hybrid
  ``/XRefStm``
* object streams (``/Type /ObjStm``)
* ``FlateDecode`` (+ PNG predictor rows 0-4, TIFF predictor 2),
  ``ASCIIHexDecode``, ``ASCII85Decode``
* page-tree walk with attribute inheritance
* content-stream interpreter for the text operators
  ``BT ET Tf Td TD Tm T* TL Tj TJ ' "`` and the graphics operators
  ``q Q cm`` (everything else is consumed and ignored): the tokenizer
  (``_content_ops``) yields one event per operator, operands already
  counted and coerced, whether a fused regex alternative or the generic
  token path read it; an unterminated literal string runs to the end of the
  stream, so each stream is scanned once
* XY-cut-style line assembly: positioned spans are clustered into lines by
  baseline Y, sorted left-to-right, and lines are emitted top-to-bottom.

Design rule for Spark: these are pure ``bytes -> str`` functions with **no**
I/O and no global state, so they can run inside Arrow batch kernels
(``mapInArrow`` workers) with one Python dispatch per document (never per
row of output). Errors raise ``PdfError``; the Spark operator catches it and
fills the ``error`` column (reference semantics:
``/root/reference/pdfparser/batch.py:183-189`` — a bad document never fails
the batch).
"""

from __future__ import annotations

import math
import re
import struct
import zlib
from typing import Any, Dict, Iterator, List, Optional, Tuple, Union

from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

__all__ = [
    "PdfError",
    "Name",
    "Ref",
    "StreamObject",
    "PdfDocument",
    "extract_pdf_pages",
    "extract_pdf_text",
]


class PdfError(Exception):
    """Raised for any structural problem in a PDF payload."""


class Name(str):
    """A PDF name object (``/Foo``). Subclass of str for easy dict keys."""

    __slots__ = ()


class Ref(tuple):
    """An indirect reference ``N G R``."""

    __slots__ = ()

    def __new__(cls, num: int, gen: int):
        return super().__new__(cls, (num, gen))

    @property
    def num(self) -> int:
        return self[0]

    @property
    def gen(self) -> int:
        return self[1]


class StreamObject:
    """A stream object: its dictionary plus the raw (still encoded) bytes."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: Dict[str, Any], raw: bytes):
        self.dict = d
        self.raw = raw


# ---------------------------------------------------------------------------
# Lexer
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_OBJ_HEAD_RE = re.compile(rb"(\d{1,10})\s+(\d{1,5})\s+obj\b")

# lexical fragments of the object lexer and the content tokenizer: whitespace
# byte, regular byte (§7.2.2), number, whitespace/comment run. Number and run
# are possessive, so a failing match never retries every split of a long digit
# run or '%' comment (thousands of digits used to cost seconds per token)
_WSB = rb"[\x00\t\n\x0c\r ]"
_REGULAR = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
_NUMBER = rb"[+-]?(?:\d++(?:\.\d*+)?|\.\d++)"
_SKIP = rb"(?:" + _WSB + rb"++|%[^\r\n]*+)*+"
_SKIP_RE = re.compile(_SKIP)
# two unsigned integers: an xref subsection header or an object-stream pair
_INT_PAIR_RE = re.compile(_SKIP + rb"(\d++)" + _SKIP + rb"(\d++)" + _SKIP)

# one match per object-syntax token, leading whitespace and comments folded in;
# an integer's optional "G R" suffix makes a reference ("-3 0 R"; not "1.5 0 R")
_OTOK_RE = re.compile(
    _SKIP + rb"(?:"
    rb"(?P<int>[+-]?\d++)(?!\.)"
    rb"(?:" + _SKIP + rb"(?P<ref>\d++)" + _SKIP + rb"R(?!" + _REGULAR + rb"))?"
    rb"|(?P<real>" + _NUMBER + rb")"
    rb"|/(?P<name>" + _REGULAR + rb"*)"
    rb"|(?P<arr>\[)|(?P<dict><<)|(?P<earr>\])|(?P<edict>>>)"
    rb"|(?P<lit>\()|(?P<hex><)"
    rb"|(?P<kw>" + _REGULAR + rb"*))"
)
_KEYWORDS = {b"true": True, b"false": False, b"null": None}

# open arrays and dictionaries one value may nest: far past any real document;
# it also bounds the recursion of walks over a parsed value (_decrypt_object)
_MAX_NESTING = 64


def _parse_name(buf: bytes, i: int) -> Tuple[Name, int]:
    # a name with '#' escapes, after its '/': both token regexes take names
    # without '#' whole and call this only for the escaped ones
    n = len(buf)
    out = bytearray()
    while i < n:
        c = buf[i]
        if c in _WS or c in _DELIM:
            break
        if c == 0x23 and i + 2 < n:  # '#' hex escape
            try:
                out.append(int(buf[i + 1 : i + 3], 16))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return Name(out.decode("latin-1")), i


# a literal string's bytes up to and including its next unescaped parenthesis;
# an escape is skipped whole, so an escaped parenthesis neither opens nor closes
_LIT_SCAN_RE = re.compile(rb"(?:[^()\\]++|\\.)*+[()]", re.S)
# one escape (§7.3.4.2): 1-3 octal digits, a line continuation, or one byte
_LIT_ESC_RE = re.compile(rb"\\([0-7]{1,3}|\r\n?|.)", re.S)
_STR_ESCAPES = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\x0c",
                b"\n": b"", b"\r": b"", b"\r\n": b""}


def _unescape(m: "re.Match[bytes]") -> bytes:
    e = m.group(1)
    if 0x30 <= e[0] <= 0x37:
        return bytes((int(e, 8) & 0xFF,))
    return _STR_ESCAPES.get(e, e)  # an unknown escape is the byte itself


def _parse_literal_string(buf: bytes, i: int) -> Tuple[bytes, int]:
    # caller consumed '('; one scan match per parenthesis, unescaped ones nest
    scan = _LIT_SCAN_RE.match
    depth = 1
    j = i
    while depth:
        m = scan(buf, j)
        if m is None:
            raise PdfError("unterminated literal string")
        j = m.end()
        depth += 1 if buf[j - 1] == 0x28 else -1
    s = buf[i : j - 1]
    return (_LIT_ESC_RE.sub(_unescape, s) if b"\\" in s else s), j


def _parse_hex_string(buf: bytes, i: int) -> Tuple[bytes, int]:
    # caller consumed '<'
    end = buf.find(b">", i)
    if end < 0:
        raise PdfError("unterminated hex string")
    hexdigits = buf[i:end].translate(None, _WS)
    if len(hexdigits) % 2:
        hexdigits += b"0"
    try:
        return bytes.fromhex(hexdigits.decode("ascii")), end + 1
    except ValueError as e:
        raise PdfError(f"bad hex string: {e}") from e


def parse_value(buf: bytes, i: int) -> Tuple[Any, int]:
    """Parse one PDF object value at position ``i``; returns (value, next_pos).

    One ``_OTOK_RE`` match per token; open arrays and dictionaries wait on an
    explicit stack (no recursion), at most ``_MAX_NESTING`` deep."""
    scan = _OTOK_RE.match
    outer: List[Tuple[Any, Any]] = []  # (container, pending key) of enclosing levels
    cur: Any = None  # innermost open list or dict; None at the top level
    key: Any = None  # cur's pending dictionary key; None while it awaits one
    try:
        while True:
            m = scan(buf, i)
            kind = m.lastgroup
            i = m.end()
            if kind == "name":
                raw = m.group("name")
                if b"#" in raw:
                    v, i = _parse_name(buf, m.start("name"))
                else:
                    v = Name(raw.decode("latin-1"))
                if key is None and type(cur) is dict:
                    key = str(v)
                    continue
            elif key is None and type(cur) is dict:
                if kind != "edict":
                    raise PdfError(f"dictionary key must be a name at {m.start(kind)}")
                v = cur
                cur, key = outer.pop()
            elif kind == "ref":
                v = Ref(int(m.group("int")), int(m.group("ref")))
            elif kind == "int":
                v = int(m.group("int"))
            elif kind == "real":
                v = float(m.group("real"))
            elif kind == "arr" or kind == "dict":
                if len(outer) == _MAX_NESTING:
                    raise PdfError(f"arrays and dictionaries nested deeper than {_MAX_NESTING}")
                outer.append((cur, key))
                cur, key = ([] if kind == "arr" else {}), None
                continue
            elif kind == "earr" and type(cur) is list:
                v = cur
                cur, key = outer.pop()
            elif kind == "lit":
                v, i = _parse_literal_string(buf, i)
            elif kind == "hex":
                v, i = _parse_hex_string(buf, i)
            else:  # a keyword, or a closer that closes nothing open
                tok = m.group(kind)
                if tok not in _KEYWORDS:
                    tok = tok or buf[i:i + 1] or b"end of data"
                    raise PdfError(f"unexpected {tok[:20]!r} at {i}")
                v = _KEYWORDS[tok]
            if cur is None:
                return v, i
            if key is None:
                cur.append(v)
            else:
                cur[key] = v
                key = None
    except ValueError as e:  # an integer past int()'s digit limit
        raise PdfError(f"bad number: {e}") from None


# ---------------------------------------------------------------------------
# Filters
# ---------------------------------------------------------------------------


# output cap of one Flate, LZW or RunLength stage: zlib reaches ~1030:1, LZW
# past 2000:1 and each RunLength stage 64:1 (a filter chain multiplies them),
# so a small stream in outside input could otherwise inflate to gigabytes
# inside a worker
_FLATE_MAX = 256 << 20


def _flate(data: bytes) -> bytes:
    """zlib stream, else raw deflate; a truncated stream yields the output
    decoded so far and trailing bytes after the stream end are ignored."""
    err: Optional[zlib.error] = None
    for wbits in (15, -15):
        d = zlib.decompressobj(wbits)
        try:
            out = d.decompress(data, _FLATE_MAX)
        except zlib.error as e:
            err = e
            continue
        if d.unconsumed_tail:
            raise PdfError(f"flate stream inflates past {_FLATE_MAX} bytes")
        return out
    raise PdfError(f"flate decode failed: {err}") from err


def _lzw(data: bytes, early_change: int = 1) -> bytes:
    """LZWDecode (PDF 1.7 §7.4.4 — the TIFF/GIF variable-code LZW with
    9→12-bit codes, clear=256, EOD=257, and the spec's EarlyChange code-width
    bump one code before the table fills). Common in 1990s-era web PDFs.
    The table stops growing at 4,096 entries (12-bit codes reach no
    further) and the output is capped at ``_FLATE_MAX``."""
    out = bytearray()
    table: List[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    prev: Optional[bytes] = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise PdfError("LZW: bad first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK: a 12-bit code keeps it ≤ 4,095
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise PdfError("LZW: code out of range")
            out += entry
            if len(out) > _FLATE_MAX:
                raise PdfError(f"LZW stream decodes past {_FLATE_MAX} bytes")
            prev = entry
            if len(table) + early_change >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _runlength(data: bytes) -> bytes:
    """RunLengthDecode (PDF 1.7 §7.4.5): length byte 0-127 → copy n+1
    literal bytes; 129-255 → repeat next byte 257-n times; 128 → EOD. The
    output is capped at ``_FLATE_MAX``."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        l = data[i]
        i += 1
        if l == 128:
            break
        if l < 128:
            out += data[i : i + l + 1]
            i += l + 1
        else:
            if i < n:
                out += bytes([data[i]]) * (257 - l)
                i += 1
        if len(out) > _FLATE_MAX:
            raise PdfError(f"RunLength stream decodes past {_FLATE_MAX} bytes")
    return bytes(out)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter_row(ft: int, row: bytearray, prev: bytes, bpp: int) -> bytearray:
    """Invert PNG row filter ``ft`` (RFC 2083 §6) on ``row`` in place;
    ``prev`` is the previous unfiltered row (zeros before the first) and
    ``bpp`` the bytes per complete pixel. The one PNG unfilter: the
    Flate/LZW predictors here, ``mediacodec``'s PNG decoder and TIFF
    Predictor 2 (the Sub filter with bpp = samples per pixel) all call it."""
    n = len(row)
    if ft == 1:  # Sub
        for k in range(bpp, n):
            row[k] = (row[k] + row[k - bpp]) & 0xFF
    elif ft == 2:  # Up
        for k in range(n):
            row[k] = (row[k] + prev[k]) & 0xFF
    elif ft == 3:  # Average
        for k in range(n):
            left = row[k - bpp] if k >= bpp else 0
            row[k] = (row[k] + ((left + prev[k]) >> 1)) & 0xFF
    elif ft == 4:  # Paeth
        for k in range(n):
            left = row[k - bpp] if k >= bpp else 0
            ul = prev[k - bpp] if k >= bpp else 0
            row[k] = (row[k] + _paeth(left, prev[k], ul)) & 0xFF
    elif ft != 0:
        raise PdfError(f"unknown PNG filter type {ft}")
    return row


def _apply_png_predictor(data: bytes, columns: int, colors: int, bpc: int) -> bytes:
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    stride = rowlen + 1
    if stride > len(data):  # not one whole row: nothing to allocate or decode
        return b""
    out = bytearray()
    prev = bytes(rowlen)
    for r in range(0, len(data) - stride + 1, stride):
        prev = _png_unfilter_row(data[r], bytearray(data[r + 1 : r + stride]), prev, bpp)
        out += prev
    return bytes(out)


def _apply_predictor(data: bytes, parms: Dict[str, Any]) -> bytes:
    pred = int(parms.get("Predictor", 1) or 1)
    if pred <= 1:
        return data
    columns = int(parms.get("Columns", 1) or 1)
    colors = int(parms.get("Colors", 1) or 1)
    bpc = int(parms.get("BitsPerComponent", 8) or 8)
    if min(columns, colors, bpc) < 1:
        raise PdfError(f"bad predictor parameters {columns}/{colors}/{bpc}")
    if pred == 2:  # TIFF horizontal differencing (8-bit only) = PNG Sub
        if bpc != 8:
            raise PdfError("TIFF predictor requires 8 bits per component")
        rowlen = columns * colors
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            out[r : r + rowlen] = _png_unfilter_row(1, out[r : r + rowlen], b"", colors)
        return bytes(out)
    if pred >= 10:
        return _apply_png_predictor(data, columns, colors, bpc)
    raise PdfError(f"unsupported predictor {pred}")


def _ascii_hex(data: bytes) -> bytes:
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    hexdigits = bytes(c for c in data if c not in _WS)
    if len(hexdigits) % 2:
        hexdigits += b"0"
    return bytes.fromhex(hexdigits.decode("ascii"))


def _ascii85(data: bytes) -> bytes:
    import base64

    data = bytes(c for c in data if c not in _WS)
    if data.startswith(b"<~"):
        data = data[2:]
    if data.endswith(b"~>"):
        data = data[:-2]
    return base64.a85decode(data)


# ---------------------------------------------------------------------------
# Encryption — standard security handler (PDF 1.7 §7.6.2–7.6.3)
#
# Web PDFs are very commonly "encrypted" with an EMPTY user password (the
# owner set print/copy restrictions, but any reader can open the file).
# Supported: RC4 (V 1/2, R 2/3), AES-128 /AESV2 (V 4/R 4) and AES-256 /AESV3
# (V 5/R 6). The key derivations (MD5/SHA-2 from ``hashlib``) and the PDF
# framing of AES payloads are implemented here from the spec; the RC4 and AES
# primitives come from ``cryptography`` (OpenSSL).
# ---------------------------------------------------------------------------

# the 32-byte padding string of Algorithm 2 (PDF 1.7 §7.6.3.3, Table 21 area)
_PW_PAD = bytes(
    [0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
     0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
     0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A]
)


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 (length-preserving). PDF keys run 5..16 bytes in single steps
    (file key ``/Length``/8, object key +5), but ``ARC4()`` accepts only
    5/7/8/10/16/20/24/32-byte keys, so the key is set without its size check;
    OpenSSL's RC4 takes any length from 1 to 256 bytes (an empty key would
    crash the process, hence the guard)."""
    if not 1 <= len(key) <= 256:
        raise PdfError(f"RC4 key of {len(key)} bytes")
    algo = ARC4.__new__(ARC4)
    algo.key = key
    return Cipher(algo, mode=None).encryptor().update(data)


def _aes_cbc_nopad_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-CBC over a 16-byte multiple, no padding (``ValueError`` otherwise).
    One block under a zero IV is a single ECB block."""
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return enc.update(data) + enc.finalize()


def _aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF string/stream decryption (§7.6.3): leading 16-byte IV, PKCS#7 unpad.
    An empty payload (exactly the IV, or nothing) yields ``b""`` — writers
    emit zero-length encrypted strings. A mid-IV truncation, an unaligned
    tail or bad PKCS#7 bytes raise ``ValueError``, so a corrupted AES stream
    becomes an error row instead of truncated or empty text."""
    if len(data) in (0, 16):
        return b""
    if len(data) < 16:
        raise ValueError("AES-CBC payload truncated inside the IV")
    if len(data) % 16:
        raise ValueError("AES-CBC payload is not a 16-byte multiple")
    dec = Cipher(algorithms.AES(key), modes.CBC(data[:16])).decryptor()
    out = dec.update(data[16:]) + dec.finalize()
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad PKCS#7 padding in AES stream")
    return out[:-pad]


def _std_file_key(enc: Dict[str, Any], file_id: bytes, user_pw: bytes = b"") -> bytes:
    """Algorithm 2: file encryption key from the (padded) user password."""
    import hashlib

    r = int(enc.get("R", 2))
    n = int(enc.get("Length", 40)) // 8 if r >= 3 else 5
    o = enc.get("O")
    if not isinstance(o, bytes):
        raise PdfError("encryption dictionary missing /O string")
    h = hashlib.md5()
    h.update((user_pw + _PW_PAD)[:32])
    h.update(o[:32])
    h.update(struct.pack("<i", int(enc.get("P", -1))))
    h.update(file_id)
    if r >= 4 and enc.get("EncryptMetadata", True) is False:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _std_user_check(enc: Dict[str, Any], file_id: bytes, file_key: bytes) -> bool:
    """Algorithms 4/5: does the empty user password open this file?"""
    import hashlib

    r = int(enc.get("R", 2))
    u = enc.get("U")
    if not isinstance(u, bytes):
        return False
    if r == 2:
        return _rc4(file_key, _PW_PAD) == u[:32]
    x = hashlib.md5(_PW_PAD + file_id).digest()
    x = _rc4(file_key, x)
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in file_key), x)
    return x == u[:16]


def _object_key(file_key: bytes, num: int, gen: int, aes: bool = False) -> bytes:
    """Algorithm 1: per-object key = MD5(file_key + objnum[3] + gen[2]);
    /AESV2 appends the spec's 4-byte 'sAlT' before hashing."""
    import hashlib

    ext = (num & 0xFFFFFF).to_bytes(3, "little") + (gen & 0xFFFF).to_bytes(2, "little")
    if aes:
        ext += b"sAlT"
    return hashlib.md5(file_key + ext).digest()[: min(len(file_key) + 5, 16)]


def _hash_2b(pw: bytes, salt: bytes, udata: bytes) -> bytes:
    """Algorithm 2.B (ISO 32000-2 §7.6.4.3.4): the hardened SHA-2 hash for
    R6 AES-256 keys — iterated SHA-256/384/512 selected by an AES-CBC
    feedback block."""
    import hashlib

    k = hashlib.sha256(pw + salt + udata).digest()
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = _aes_cbc_nopad_encrypt(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


# ---------------------------------------------------------------------------
# Document
# ---------------------------------------------------------------------------

_STARTXREF_RE = re.compile(rb"startxref\s+(\d+)", re.S)


class PdfDocument:
    """Parsed PDF: cross-reference map + lazy object cache + page walk."""

    def __init__(self, data: bytes):
        if not data.lstrip()[:5].startswith(b"%PDF-"):
            raise PdfError("missing %PDF header")
        self.data = data
        self.xref: Dict[int, Tuple[str, int, int]] = {}
        self.trailer: Dict[str, Any] = {}
        self._cache: Dict[int, Any] = {}
        self._objstm_cache: Dict[int, Dict[int, Any]] = {}
        self._objstm_loading: set = set()  # object streams being opened
        self._font_cache: Dict[Ref, Optional["_Type0Decoder"]] = {}
        self._file_key: Optional[bytes] = None
        self._cipher = "rc4"
        try:
            self._load_xref_chain()
        except (PdfError, ValueError, IndexError, TypeError):
            # ValueError/IndexError/TypeError: malformed numeric fields (a
            # reference or name where /W or /Index wants a number) or
            # truncated tables must fall into the same _rebuild_xref salvage
            # path so the errors-raise-PdfError contract holds for any
            # corrupt input
            self.xref.clear()
            self.trailer.clear()
        if not self.xref or "Root" not in self.trailer:
            self._rebuild_xref()
        if "Root" not in self.trailer:
            raise PdfError("no document catalog (/Root)")
        if "Encrypt" in self.trailer:
            try:
                self._setup_encryption()
            except (ValueError, TypeError, struct.error) as e:  # /V /R /Length /P not an int
                raise PdfError(f"malformed encryption dictionary: {e}") from None

    def _setup_encryption(self) -> None:
        """Standard security handler, empty user password (§7.6.3 and, for
        R6, ISO 32000-2 §7.6.4). The Encrypt dictionary is resolved BEFORE
        the key is installed, so its own /O //U strings land in the object
        cache undecrypted (per spec they are never encrypted). Supported:
        RC4 (V1/V2, R2/R3), AES-128 /AESV2 (V4/R4), AES-256 /AESV3
        (V5/R6)."""
        import hashlib

        enc = self.resolve(self.trailer["Encrypt"])
        if not isinstance(enc, dict):
            raise PdfError("/Encrypt is not a dictionary")
        if str(enc.get("Filter")) != "Standard":
            raise PdfError(f"unsupported security handler {enc.get('Filter')!r}")
        v = int(self.resolve(enc.get("V", 0)) or 0)
        r = int(self.resolve(enc.get("R", 2)) or 2)
        ids = self.resolve(self.trailer.get("ID"))
        file_id = ids[0] if isinstance(ids, list) and ids and isinstance(ids[0], bytes) else b""
        if v in (1, 2) and r in (2, 3):
            key = _std_file_key(enc, file_id)
            if not _std_user_check(enc, file_id, key):
                raise PdfError("password-protected PDF (user password required)")
            self._cipher = "rc4"
            self._file_key = key
            return
        if v == 4 and r == 4:
            cf = self.resolve(enc.get("CF")) or {}
            stdcf = self.resolve(cf.get("StdCF")) if isinstance(cf, dict) else None
            cfm = str(self.resolve((stdcf or {}).get("CFM", "")))
            if cfm not in ("AESV2", "V2"):
                raise PdfError(f"unsupported V4 crypt filter {cfm!r}")
            # key length: the StdCF /Length (spec'd in BYTES for crypt
            # filters, though some writers put bits there) wins over the
            # top-level /Length — a V4 file declaring its key size only in
            # StdCF would otherwise derive a wrong key and be misreported
            # as password-protected. The bytes→bits scaling applies ONLY to
            # the StdCF value: the top-level /Length is defined in bits and
            # 40 is a legal bit count there (RC4-40).
            length = self.resolve((stdcf or {}).get("Length"))
            if length is not None:
                length = int(length or 128)
                if length <= 40:  # crypt-filter byte count (5..40) → bits
                    length *= 8
            else:
                length = int(self.resolve(enc.get("Length", 128)) or 128)
            key = _std_file_key(dict(enc, Length=length), file_id)
            if not _std_user_check(enc, file_id, key):
                raise PdfError("password-protected PDF (user password required)")
            self._cipher = "aesv2" if cfm == "AESV2" else "rc4"
            self._file_key = key
            return
        if v == 5 and r == 6:
            u = enc.get("U")
            ue = enc.get("UE")
            if not (isinstance(u, bytes) and len(u) >= 48
                    and isinstance(ue, bytes) and len(ue) >= 32):
                raise PdfError("malformed R6 /U //UE entries")
            vsalt, ksalt = u[32:40], u[40:48]
            if _hash_2b(b"", vsalt, b"") != u[:32]:
                raise PdfError("password-protected PDF (user password required)")
            # UE → file key: AES-256-CBC, zero IV, no padding
            unwrap = Cipher(algorithms.AES(_hash_2b(b"", ksalt, b"")),
                            modes.CBC(bytes(16))).decryptor()
            self._file_key = unwrap.update(ue[:32]) + unwrap.finalize()
            self._cipher = "aesv3"
            return
        raise PdfError(f"unsupported encryption V={v} R={r}")

    def _decrypt_object(self, obj: Any, num: int, gen: int) -> Any:
        """Apply the per-object cipher to every string and stream payload
        (strings inside object streams are excluded by construction — they
        are covered by the ObjStm's own stream encryption)."""
        cipher = self._cipher
        if cipher == "rc4":
            key = _object_key(self._file_key, num, gen)
            dec = lambda b: _rc4(key, b)  # noqa: E731
        else:
            if cipher == "aesv2":
                key = _object_key(self._file_key, num, gen, aes=True)
            else:  # aesv3: the file key is used directly (ISO 32000-2)
                key = self._file_key

            def dec(b: bytes) -> bytes:
                # corruption inside an AES payload (mid-IV truncation,
                # unaligned tail, bad PKCS#7) raises ValueError in the
                # cipher layer — surface it as THIS module's error type so
                # a spliced document lands in the error column instead of
                # crashing the batch (PdfError-only contract, splice fuzz)
                try:
                    return _aes_cbc_decrypt(key, b)
                except ValueError as e:
                    raise PdfError(f"corrupt AES payload in object {num}: {e}")

        def walk(v: Any) -> Any:
            if isinstance(v, bytes):
                return dec(v)
            if isinstance(v, dict):
                return {k: walk(x) for k, x in v.items()}
            if isinstance(v, StreamObject):
                return StreamObject(walk(v.dict), dec(v.raw))
            if isinstance(v, list) and not isinstance(v, Ref):
                return [walk(x) for x in v]
            return v

        return walk(obj)

    # -- xref loading -------------------------------------------------------

    def _load_xref_chain(self) -> None:
        tail = self.data[-2048:]
        matches = list(_STARTXREF_RE.finditer(tail))
        if not matches:
            raise PdfError("startxref not found")
        offset = int(matches[-1].group(1))
        seen = set()
        while offset and offset not in seen:
            seen.add(offset)
            offset = self._load_xref_section(offset)

    def _load_xref_section(self, offset: int) -> int:
        """Load one xref section (classic or stream). Returns /Prev or 0."""
        if not 0 <= offset < len(self.data):
            raise PdfError(f"xref offset {offset} outside the file")
        i = _SKIP_RE.match(self.data, offset).end()
        if self.data[i : i + 4] == b"xref":
            return self._load_classic_xref(i + 4)
        # cross-reference stream: "N G obj << ... >> stream"
        obj = self._parse_object_at(i)
        if not isinstance(obj, StreamObject):
            raise PdfError("xref offset does not point at xref table or stream")
        return self._load_xref_stream(obj)

    def _load_classic_xref(self, i: int) -> int:
        data = self.data
        while True:
            i = _SKIP_RE.match(data, i).end()
            if data[i : i + 7] == b"trailer":
                tdict, i = parse_value(data, i + 7)
                if not isinstance(tdict, dict):
                    raise PdfError("trailer is not a dictionary")
                for k, v in tdict.items():
                    self.trailer.setdefault(k, v)
                # hybrid-reference file: also load the xref stream
                if "XRefStm" in tdict:
                    try:
                        self._load_xref_section(int(tdict["XRefStm"]))
                    except PdfError:
                        pass
                return int(tdict.get("Prev", 0) or 0)
            m = _INT_PAIR_RE.match(data, i)
            if not m:
                raise PdfError(f"malformed xref subsection header at {i}")
            start, count = int(m.group(1)), int(m.group(2))
            i = m.end()
            for k in range(count):
                entry = data[i : i + 20]
                if len(entry) < 18:
                    raise PdfError("truncated xref entry")
                off = int(entry[0:10])
                gen = int(entry[11:16])
                kind = entry[17:18]
                num = start + k
                if num not in self.xref:
                    if kind == b"n":
                        self.xref[num] = ("n", off, gen)
                    else:
                        self.xref[num] = ("f", 0, gen)
                # entries are 20 bytes ("... n \r\n"/" \r"/" \n"), but some
                # writers end lines with a bare EOL → 19-byte stride. Detect:
                # byte 18 is the EOL itself and byte 19 already belongs to the
                # next entry (not a second EOL byte).
                bare_eol = entry[18:19] in (b"\r", b"\n") and entry[19:20] not in (b"\r", b"\n")
                i += 19 if bare_eol else 20

    def _load_xref_stream(self, obj: StreamObject) -> int:
        d = obj.dict
        if str(d.get("Type")) != "XRef":
            raise PdfError("object at xref offset is not /Type /XRef")
        data = self.decode_stream(obj)
        w = [int(x) for x in d.get("W", [])]
        if len(w) < 3:
            raise PdfError("xref stream missing /W")
        size = int(d.get("Size", 0))
        index = d.get("Index", [0, size])
        rowlen = sum(w)
        pos = 0
        pairs = [(int(index[j]), int(index[j + 1])) for j in range(0, len(index), 2)]
        for start, count in pairs:
            for k in range(count):
                if pos + rowlen > len(data):
                    break
                row = data[pos : pos + rowlen]
                pos += rowlen
                f = [0, 0, 0]
                o = 0
                for fi in range(3):
                    f[fi] = int.from_bytes(row[o : o + w[fi]], "big") if w[fi] else (1 if fi == 0 else 0)
                    o += w[fi]
                num = start + k
                if num in self.xref:
                    continue
                if f[0] == 1:
                    self.xref[num] = ("n", f[1], f[2])
                elif f[0] == 2:
                    self.xref[num] = ("o", f[1], f[2])  # (objstm num, index)
                else:
                    self.xref[num] = ("f", 0, 0)
        for k, v in d.items():
            if k not in ("Type", "W", "Index", "Length", "Filter", "DecodeParms"):
                self.trailer.setdefault(k, v)
        return int(d.get("Prev", 0) or 0)

    def _rebuild_xref(self) -> None:
        """Brute-force recovery: scan for 'N G obj' headers (web-scale robustness)."""
        for m in _OBJ_HEAD_RE.finditer(self.data):
            num, gen = int(m.group(1)), int(m.group(2))
            # keep the LAST occurrence (later updates win in damaged files)
            self.xref[num] = ("n", m.start(), gen)
        if "Root" not in self.trailer:
            tpos = self.data.rfind(b"trailer")
            if tpos >= 0:
                try:
                    tdict, _ = parse_value(self.data, tpos + 7)
                    if isinstance(tdict, dict):
                        for k, v in tdict.items():
                            self.trailer.setdefault(k, v)
                except PdfError:
                    pass
        if "Root" not in self.trailer:
            # last resort: find the catalog object
            for num in list(self.xref):
                try:
                    obj = self.get_object(num)
                except PdfError:
                    continue
                d = obj.dict if isinstance(obj, StreamObject) else obj
                if isinstance(d, dict) and str(d.get("Type")) == "Catalog":
                    self.trailer["Root"] = Ref(num, self.xref[num][2])
                    break

    # -- object access ------------------------------------------------------

    def _parse_object_at(self, offset: int) -> Any:
        data = self.data
        if not 0 <= offset < len(data):
            raise PdfError(f"object offset {offset} outside the file")
        m = _OBJ_HEAD_RE.match(data, _SKIP_RE.match(data, offset).end())
        if not m:
            raise PdfError(f"no object header at offset {offset}")
        val, i = parse_value(data, m.end())
        i = _SKIP_RE.match(data, i).end()
        if data[i : i + 6] == b"stream":
            if not isinstance(val, dict):
                raise PdfError("stream keyword after non-dictionary")
            i += 6
            if data[i : i + 2] == b"\r\n":
                i += 2
            elif data[i : i + 1] in (b"\n", b"\r"):
                i += 1
            length = val.get("Length")
            if isinstance(length, Ref):
                try:
                    length = self.resolve(length)
                except PdfError:
                    length = None
            if isinstance(length, (int, float)) and length >= 0 and i + int(length) <= len(data):
                raw = data[i : i + int(length)]
                tail = data[i + int(length) : i + int(length) + 20]
                if b"endstream" not in tail:
                    end = data.find(b"endstream", i)
                    raw = data[i:end] if end >= 0 else raw
            else:
                end = data.find(b"endstream", i)
                if end < 0:
                    raise PdfError("endstream not found")
                raw = data[i:end].rstrip(b"\r\n")
            return StreamObject(val, raw)
        return val

    def get_object(self, num: int, gen: int = 0) -> Any:
        if num in self._cache:
            return self._cache[num]
        entry = self.xref.get(num)
        if entry is None or entry[0] == "f":
            return None
        kind, a, b = entry
        if kind == "n":
            obj = self._parse_object_at(a)
            if self._file_key is not None:
                obj = self._decrypt_object(obj, num, b)
        else:  # 'o': in object stream a, index b
            obj = self._load_from_objstm(a, num)
        self._cache[num] = obj
        return obj

    def _load_from_objstm(self, stm_num: int, want: int) -> Any:
        objs = self._objstm_cache.get(stm_num)
        if objs is None:
            # an xref that files an object stream inside itself (directly or
            # through other streams) would otherwise recurse without end
            if stm_num in self._objstm_loading:
                raise PdfError(f"object stream {stm_num} is stored inside itself")
            self._objstm_loading.add(stm_num)
            try:
                stm = self.get_object(stm_num)
            finally:
                self._objstm_loading.discard(stm_num)
            if not isinstance(stm, StreamObject) or str(stm.dict.get("Type")) != "ObjStm":
                raise PdfError(f"object {stm_num} is not an object stream")
            payload = self.decode_stream(stm)
            n = int(self.resolve(stm.dict.get("N", 0)))
            first = int(self.resolve(stm.dict.get("First", 0)))
            objs = {}
            pos = 0
            header: List[Tuple[int, int]] = []
            for _ in range(n):
                m = _INT_PAIR_RE.match(payload, pos)
                if m is None:
                    raise PdfError("malformed object-stream header")
                pos = m.end()
                header.append((int(m.group(1)), int(m.group(2))))
            for onum, ooff in header:
                val, _ = parse_value(payload, first + ooff)
                objs[onum] = val
            self._objstm_cache[stm_num] = objs
        if want not in objs:
            raise PdfError(f"object {want} not in object stream {stm_num}")
        return objs[want]

    def resolve(self, v: Any, _depth: int = 0) -> Any:
        while isinstance(v, Ref):
            if _depth > 32:
                raise PdfError("reference cycle")
            v = self.get_object(v.num, v.gen)
            _depth += 1
        return v

    # -- stream decoding ----------------------------------------------------

    def decode_stream(self, stm: StreamObject) -> bytes:
        filters = self.resolve(stm.dict.get("Filter"))
        parms = self.resolve(stm.dict.get("DecodeParms")) or self.resolve(stm.dict.get("DP"))
        if filters is None:
            return stm.raw
        if not isinstance(filters, list):
            filters = [filters]
            parms = [parms]
        elif not isinstance(parms, list):
            parms = [parms] + [None] * (len(filters) - 1)
        data = stm.raw
        for f, p in zip(filters, list(parms) + [None] * len(filters)):
            fname = str(self.resolve(f))
            p = self.resolve(p)
            if not isinstance(p, dict):
                p = {}
            if fname in ("FlateDecode", "Fl"):
                data = _flate(data)
                data = _apply_predictor(data, {k: self.resolve(v) for k, v in p.items()})
            elif fname in ("LZWDecode", "LZW"):
                data = _lzw(data, int(self.resolve(p.get("EarlyChange", 1)) or 0)
                            if "EarlyChange" in p else 1)
                data = _apply_predictor(data, {k: self.resolve(v) for k, v in p.items()})
            elif fname in ("RunLengthDecode", "RL"):
                data = _runlength(data)
            elif fname in ("ASCIIHexDecode", "AHx"):
                data = _ascii_hex(data)
            elif fname in ("ASCII85Decode", "A85"):
                data = _ascii85(data)
            elif fname in ("DCTDecode", "JPXDecode", "CCITTFaxDecode", "JBIG2Decode"):
                return data  # image data: not text, return as-is
            else:
                raise PdfError(f"unsupported filter {fname}")
        return data

    # -- page tree ----------------------------------------------------------

    _INHERITABLE = ("Resources", "MediaBox", "CropBox", "Rotate")

    def pages(self) -> List[Dict[str, Any]]:
        root = self.resolve(self.trailer["Root"])
        if not isinstance(root, dict):
            raise PdfError("catalog is not a dictionary")
        top = self.resolve(root.get("Pages"))
        if not isinstance(top, dict):
            raise PdfError("catalog has no /Pages")
        out: List[Dict[str, Any]] = []
        seen: set = set()
        # depth-first in document order: kids go on in reverse, and a kid is
        # marked seen when taken off, where a recursive walk would reach it
        stack: List[Tuple[Any, Dict[str, Any]]] = [(top, {})]
        while stack:
            kid, inherited = stack.pop()
            key = kid if isinstance(kid, Ref) else id(kid)
            if key in seen:
                continue
            seen.add(key)
            node = self.resolve(kid)
            if not isinstance(node, dict):
                continue
            if len(out) > 100_000:
                raise PdfError("page tree too large")
            inh = dict(inherited)
            for k in self._INHERITABLE:
                if k in node:
                    inh[k] = node[k]
            ntype = str(node.get("Type", ""))
            kids = node.get("Kids")
            if ntype == "Page" or (kids is None and "Contents" in node):
                page = dict(inh)
                page.update(node)
                out.append(page)
                continue
            stack.extend((k, inh) for k in reversed(self.resolve(kids) or []))
        return out

    def page_fonts(self, page: Dict[str, Any]) -> Dict[str, "_Type0Decoder"]:
        """Resource-name → decoder for the page's composite (Type0/CID)
        fonts. Simple single-byte fonts get no entry — the interpreter's
        default latin-1 path handles them (SURVEY §7.1). Decoders are cached
        per font object so a ToUnicode CMap parses once per document."""
        out: Dict[str, _Type0Decoder] = {}
        try:
            res = self.resolve(page.get("Resources"))
            fdict = self.resolve(res.get("Font")) if isinstance(res, dict) else None
            if not isinstance(fdict, dict):
                return out
            for name, ref in fdict.items():
                key = ref if isinstance(ref, Ref) else None
                if key is not None and key in self._font_cache:
                    dec = self._font_cache[key]
                    if dec is not None:
                        out[str(name)] = dec
                    continue
                dec = None
                font = self.resolve(ref)
                if isinstance(font, dict) and str(font.get("Subtype")) == "Type0":
                    cmap: Dict[int, str] = {}
                    nbytes = 2
                    tu = self.resolve(font.get("ToUnicode"))
                    if isinstance(tu, StreamObject):
                        try:
                            cmap, nbytes = _parse_tounicode(self.decode_stream(tu))
                        except (PdfError, ValueError):  # ValueError: malformed hex
                            pass
                    dec = _Type0Decoder(cmap, nbytes)
                elif isinstance(font, dict):
                    # simple font with an /Encoding /Differences table
                    # (§9.6.6): codes named in the array decode through the
                    # glyph-name map instead of the latin-1 default
                    encd = self.resolve(font.get("Encoding"))
                    if isinstance(encd, dict):
                        diffs = self.resolve(encd.get("Differences"))
                        if isinstance(diffs, list) and diffs:
                            dec = _SimpleFontDecoder(
                                [self.resolve(x) for x in diffs]
                            )
                if key is not None:
                    self._font_cache[key] = dec
                if dec is not None:
                    out[str(name)] = dec
        except PdfError:
            pass  # malformed font resources never fail text extraction
        return out

    def page_content(self, page: Dict[str, Any]) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, StreamObject):
            return self.decode_stream(contents)
        if isinstance(contents, list):
            parts = []
            for c in contents:
                c = self.resolve(c)
                if isinstance(c, StreamObject):
                    parts.append(self.decode_stream(c))
            return b"\n".join(parts)
        return b""


# ---------------------------------------------------------------------------
# Content-stream text interpreter
# ---------------------------------------------------------------------------

Matrix = Tuple[float, float, float, float, float, float]
_IDENTITY: Matrix = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(a: Matrix, b: Matrix) -> Matrix:
    return (
        a[0] * b[0] + a[1] * b[2],
        a[0] * b[1] + a[1] * b[3],
        a[2] * b[0] + a[3] * b[2],
        a[2] * b[1] + a[3] * b[3],
        a[4] * b[0] + a[5] * b[2] + b[4],
        a[4] * b[1] + a[5] * b[3] + b[5],
    )


def _pre_translate(m: Matrix, tx: float, ty: float) -> Matrix:
    """translate(tx,ty) · m — the hot Td/TD/T* case, without a full matmul."""
    return (m[0], m[1], m[2], m[3],
            tx * m[0] + ty * m[2] + m[4],
            tx * m[1] + ty * m[3] + m[5])


# master tokenizer for content streams: the object lexer's fragments and
# one-match-per-token loop, with no "G R" suffix (content holds no references)
# but with the dominant text-stream idioms fused into single alternatives.
# fused-path separators exclude \x00 on purpose: bytes.split() (used to cut
# the matched run into numbers) only splits ASCII whitespace, so the regex
# must not accept more than split() handles; \x00-separated streams take the
# generic token path instead
_NUM_WS = _NUMBER + rb"[\t\n\x0c\r ]+"
_OP_END = rb"(?![A-Za-z0-9'\"*])"  # an operator ends at a non-operator byte
_CTOK_RE = re.compile(
    _WSB + rb"*"  # leading whitespace folded into every token
    # one alternative covers ALL "a b c d e f Tm" forms, with the show fused
    # in as an OPTIONAL suffix: the 6 numbers are parsed exactly once whether
    # the Tm stands alone, precedes an escape-free "(text) Tj", or precedes a
    # "<hex> Tj" (Type0/CID)
    rb"(?:(?P<tm6>(?:" + _NUM_WS + rb"){6})Tm" + _OP_END
    + rb"(?:" + _WSB + rb"*"
    rb"(?:\((?P<tmtjs>[^()\\]*)\)" + _WSB + rb"*Tj" + _OP_END
    + rb"|<(?P<tmhs>[0-9A-Fa-f\x00\t\n\x0c\r ]*)>" + _WSB + rb"*"
    rb"Tj" + _OP_END + rb"))?"
    rb"|\((?P<tjs>[^()\\]*)\)" + _WSB + rb"*Tj" + _OP_END
    # fused "<hex> Tj" show (the dominant idiom of Type0/CID text streams)
    + rb"|<(?P<tjh>[0-9A-Fa-f\x00\t\n\x0c\r ]*)>" + _WSB + rb"*Tj" + _OP_END
    # fused "(text) '" next-line-show and "x y Td" text-move; Td takes the
    # same optional fused-show suffix as Tm. tqs accepts ESCAPED strings too
    # (unrolled-loop pattern, no nested bare parens): the corpus's next-line
    # shows are exactly where escape sequences occur
    + rb"|\((?P<tqs>[^()\\]*(?:\\.[^()\\]*)*)\)" + _WSB + rb"*'" + _OP_END
    + rb"|(?P<td2>(?:" + _NUM_WS + rb"){2})Td" + _OP_END
    + rb"(?:" + _WSB + rb"*"
    rb"\((?P<tdjs>[^()\\]*)\)" + _WSB + rb"*Tj" + _OP_END + rb")?"
    # fused "a b c d e f cm" and "/F n Tf" (each otherwise 7 / 3 matches)
    rb"|(?P<cm6>(?:" + _NUM_WS + rb"){6})cm" + _OP_END
    + rb"|/(?P<tfn>" + _REGULAR + rb"*)" + _WSB + rb"+"
    + _NUM_WS + rb"Tf" + _OP_END
    + rb"|%[^\r\n]*"
    rb"|(?P<num>" + _NUMBER + rb")"
    rb"|(?P<name>/" + _REGULAR + rb"*)"
    rb"|(?P<op>[A-Za-z'\"*][A-Za-z0-9'\"*]*)"
    rb"|(?P<arr>[\[\]])"
    rb"|(?P<dct><<)"
    rb"|(?P<lit>\()"
    rb"|(?P<hex><)"
    rb"|.|$)",
    re.S,
)

# end of an inline image's binary payload: whitespace-delimited EI operator
_INLINE_EI_RE = re.compile(_WSB + rb"EI" + _OP_END)

# the operators that take no operands, as their events
_BARE_OPS = {op: (op.decode(),) for op in (b"T*", b"BT", b"ET", b"q", b"Q")}


def _num(v: Any) -> float:
    # a numeric operand: the tokenizer reads every number as a float
    return v if type(v) is float else 0.0


def _matrix(nums: bytes) -> Matrix:
    p = nums.split()
    return (float(p[0]), float(p[1]), float(p[2]), float(p[3]), float(p[4]), float(p[5]))


def _hex_show(h: bytes) -> bytes:
    # a fused "<hex> Tj" string: the regex admits only hex digits and whitespace
    h = h.translate(None, _WS)
    return bytes.fromhex((h + b"0" if len(h) % 2 else h).decode("ascii"))


def _content_ops(buf: bytes) -> Iterator[Tuple[Any, ...]]:
    """Yield one event per operator of a content stream that the interpreter reads.

    ``("Tm"|"cm", matrix)``, ``("Td"|"TD", dx, dy)``, ``("TL", leading)``,
    ``("Tj"|"'"|"TJ", shown bytes or None)`` (``"`` is ``'``; TJ's strings
    come joined), ``("Tf", font name or None)``, ``("T*"|"BT"|"ET"|"q"|"Q",)``.
    A fused ``_CTOK_RE`` alternative yields the events of its generic spelling.
    Operands wait on a stack that every operator clears: numbers are floats, a
    non-number where a number belongs reads as 0, and an operator short of
    operands yields nothing. Arrays (TJ operands) are assembled inline;
    dictionaries (BDC/gs property lists) go to ``parse_value``. Stray bytes
    are skipped; an unterminated literal string runs to the end of the stream.
    """
    pos = 0
    n = len(buf)
    stack: List[Any] = []  # operands since the last operator
    arr: Optional[List[Any]] = None
    scan = _CTOK_RE.match
    while pos < n:
        m = scan(buf, pos)
        end = m.end()
        if end == pos:  # lone '$' match at EOF guard
            break
        pos = end
        kind = m.lastgroup
        if kind is None:  # whitespace / comment / stray byte
            continue
        if kind == "num":
            v: Any = float(m.group("num"))
        elif kind == "op":
            op = m.group("op")
            k = len(stack)
            if op == b"Tj" or op == b"'" or op == b'"':
                if k >= (3 if op == b'"' else 1):
                    v = stack[-1]
                    yield ("Tj" if op == b"Tj" else "'", v if type(v) is bytes else None)
            elif op == b"Tm" or op == b"cm":
                if k >= 6:
                    yield (op.decode(), tuple(map(_num, stack[-6:])))
            elif op == b"Td" or op == b"TD":
                if k >= 2:
                    yield (op.decode(), _num(stack[-2]), _num(stack[-1]))
            elif op == b"TJ":
                if k:
                    v = stack[-1]
                    yield ("TJ", b"".join(e for e in v if type(e) is bytes)
                           if type(v) is list else None)
            elif op == b"TL":
                if k:
                    yield ("TL", _num(stack[-1]))
            elif op == b"Tf":
                if k >= 2:
                    v = stack[-2]
                    yield ("Tf", v if type(v) is Name else None)
            elif op in _BARE_OPS:
                yield _BARE_OPS[op]
            elif op == b"ID":
                # inline image payload (BI <params> ID <binary> EI,
                # §8.9.7): raw sample bytes that must be skipped wholesale
                # — tokenizing them would let a stray '(' swallow the rest
                # of the stream as a string or fabricate phantom text from
                # pixel bytes that happen to spell '(x) Tj'. Data starts
                # after the single whitespace byte following ID and ends
                # at a whitespace-delimited EI (the same heuristic real
                # readers use when /L is absent).
                em = _INLINE_EI_RE.search(buf, pos)
                pos = em.end() if em else n
            # all other operators (Tc Tw Tz Ts Tr re W n Do gs colors...)
            # only drop their operands
            stack.clear()
            continue
        elif kind == "name":
            raw = m.group("name")[1:]
            if b"#" in raw:
                v, _ = _parse_name(buf, m.start("name") + 1)
            else:
                v = Name(raw.decode("latin-1"))
        elif kind == "lit":
            try:
                v, pos = _parse_literal_string(buf, pos)
            except PdfError:
                # an unterminated string runs to the end of the stream (as
                # in pdf.js's lexer), so the stream is scanned once
                break
        elif kind == "arr":
            if m.group("arr") == b"[":
                arr = []
                continue
            v, arr = (arr if arr is not None else []), None
        elif kind == "hex":
            try:
                v, pos = _parse_hex_string(buf, pos)
            except PdfError:
                continue
        elif kind == "dct":  # '<<' dictionary
            try:
                v, pos = parse_value(buf, m.start("dct"))
            except PdfError:
                continue
        else:  # a fused alternative: its events, and the operands are dropped
            stack.clear()
            if kind == "tmtjs" or kind == "tm6" or kind == "tmhs":
                yield ("Tm", _matrix(m.group("tm6")))
                if kind == "tmtjs":
                    yield ("Tj", m.group("tmtjs"))
                elif kind == "tmhs":
                    yield ("Tj", _hex_show(m.group("tmhs")))
            elif kind == "tjs":
                yield ("Tj", m.group("tjs"))
            elif kind == "td2" or kind == "tdjs":
                dx, dy = m.group("td2").split()
                yield ("Td", float(dx), float(dy))
                if kind == "tdjs":
                    yield ("Tj", m.group("tdjs"))
            elif kind == "tjh":
                yield ("Tj", _hex_show(m.group("tjh")))
            elif kind == "tqs":
                s = m.group("tqs")
                if b"\\" in s:  # a regex-matched string is terminated: no raise
                    s = _parse_literal_string(buf, m.start("tqs"))[0]
                yield ("'", s)
            elif kind == "cm6":
                yield ("cm", _matrix(m.group("cm6")))
            else:  # "tfn": "/Name size Tf"
                raw = m.group("tfn")
                yield ("Tf", _parse_name(buf, m.start("tfn"))[0] if b"#" in raw
                       else Name(raw.decode("latin-1")))
            continue
        if arr is not None:
            arr.append(v)
        else:
            stack.append(v)


class _Span:
    __slots__ = ("x", "y", "text", "seq")

    def __init__(self, x: float, y: float, text: str, seq: int):
        self.x = x
        self.y = y
        self.text = text
        self.seq = seq


def _decode_text(raw: bytes) -> str:
    """Single-byte font decode (corpus uses subset TrueType / standard Type1
    with single-byte encodings — see SURVEY §7.1); latin-1 is a superset map."""
    return raw.decode("latin-1")


# -- simple-font /Differences encodings (PDF 1.7 §9.6.6, Annex D) ------------

# Adobe Glyph List subset: the names real /Differences arrays use most —
# WinAnsi's 0x80-0x9F band (typographic punctuation, € — the band where
# legacy web PDFs put their "smart" characters), accented latin, and the
# standard ASCII names so a fully-spelled Differences array round-trips.
_AGL: Dict[str, str] = {
    # typographic / symbol band
    "Euro": "€", "emdash": "—", "endash": "–",
    "quotedblleft": "“", "quotedblright": "”",
    "quoteleft": "‘", "quoteright": "’",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "ellipsis": "…", "bullet": "•", "dagger": "†",
    "daggerdbl": "‡", "perthousand": "‰",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "trademark": "™", "florin": "ƒ", "fraction": "⁄",
    "circumflex": "ˆ", "tilde": "˜",
    "OE": "Œ", "oe": "œ", "Scaron": "Š", "scaron": "š",
    "Zcaron": "Ž", "zcaron": "ž", "Ydieresis": "Ÿ",
    # latin-1 supplement (common accented forms + signs)
    "copyright": "©", "registered": "®", "degree": "°",
    "plusminus": "±", "multiply": "×", "divide": "÷",
    "exclamdown": "¡", "questiondown": "¿", "sterling": "£",
    "yen": "¥", "cent": "¢", "currency": "¤",
    "section": "§", "paragraph": "¶", "middot": "·",
    "periodcentered": "·", "guillemotleft": "«",
    "guillemotright": "»", "nbspace": " ",
    "agrave": "à", "aacute": "á", "acircumflex": "â",
    "atilde": "ã", "adieresis": "ä", "aring": "å",
    "ae": "æ", "ccedilla": "ç", "egrave": "è",
    "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î",
    "idieresis": "ï", "eth": "ð", "ntilde": "ñ",
    "ograve": "ò", "oacute": "ó", "ocircumflex": "ô",
    "otilde": "õ", "odieresis": "ö", "oslash": "ø",
    "ugrave": "ù", "uacute": "ú", "ucircumflex": "û",
    "udieresis": "ü", "yacute": "ý", "thorn": "þ",
    "ydieresis": "ÿ", "germandbls": "ß",
    "Agrave": "À", "Aacute": "Á", "Adieresis": "Ä",
    "Ccedilla": "Ç", "Eacute": "É", "Egrave": "È",
    "Ntilde": "Ñ", "Odieresis": "Ö", "Udieresis": "Ü",
    # ASCII names (Annex D standard encoding names)
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
}
# single letters name themselves (A-Z a-z)
_AGL.update({c: c for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"})

_UNI_NAME_RE = re.compile(r"^uni([0-9A-Fa-f]{4})$|^u([0-9A-Fa-f]{4,6})$")


def _glyph_char(name: str, code: int) -> str:
    """Glyph name → character: AGL subset, then uniXXXX/uXXXXXX forms, then
    the base encoding's own byte (real readers fall back the same way)."""
    got = _AGL.get(name)
    if got is not None:
        return got
    m = _UNI_NAME_RE.match(name)
    if m:
        cp = int(m.group(1) or m.group(2), 16)
        # surrogates and values past Unicode name no character
        if cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
            return chr(cp)
    return chr(code)


class _SimpleFontDecoder:
    """Single-byte font with an /Encoding /Differences table: a 256-entry
    char map (base = latin-1, the stack-wide simple-font baseline) with the
    Differences names overriding their codes. Callable like _Type0Decoder
    so the interpreter's ``cur_dec`` path needs no special case."""

    __slots__ = ("table",)

    def __init__(self, differences: List[Any]):
        self.table = [chr(i) for i in range(256)]
        code = 0
        for item in differences:
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, Name):
                if 0 <= code <= 255:
                    self.table[code] = _glyph_char(str(item), code)
                code += 1

    def __call__(self, raw: bytes) -> str:
        t = self.table
        return "".join(t[b] for b in raw)


# -- Type0 / CID fonts (PDF 1.7 §9.7) + /ToUnicode CMaps (§9.10.3) -----------

_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_CODESPACE_RE = re.compile(rb"begincodespacerange\s*<([0-9A-Fa-f]+)>", re.S)
_CMAP_TOK_RE = re.compile(rb"<[0-9A-Fa-f]+>|\[|\]")


def _utf16_hex(h: bytes) -> str:
    b = bytes.fromhex(h.decode("ascii"))
    try:
        return b.decode("utf-16-be")
    except UnicodeDecodeError:
        return b.decode("latin-1")


def _parse_tounicode(data: bytes) -> Tuple[Dict[int, str], int]:
    """Parse a /ToUnicode CMap stream → (code→string map, code byte width).

    Covers the Adobe CMap constructs that carry the mapping: bfchar pairs,
    bfrange with incremented-destination or per-code array destinations, and
    codespacerange for the code width (PDF 1.7 §9.10.3; CID spec §7.5.4).
    """
    cmap: Dict[int, str] = {}
    m = _CODESPACE_RE.search(data)
    nbytes = max(1, len(m.group(1)) // 2) if m else 2
    for blk in _BFCHAR_RE.finditer(data):
        toks = _CMAP_TOK_RE.findall(blk.group(1))
        for i in range(0, len(toks) - 1, 2):
            if toks[i].startswith(b"<") and toks[i + 1].startswith(b"<"):
                cmap[int(toks[i][1:-1], 16)] = _utf16_hex(toks[i + 1][1:-1])
    for blk in _BFRANGE_RE.finditer(data):
        toks = _CMAP_TOK_RE.findall(blk.group(1))
        i, n = 0, len(toks)
        while i + 2 < n or (i + 2 == n and n >= 3):
            if not (toks[i].startswith(b"<") and toks[i + 1].startswith(b"<")):
                i += 1
                continue
            lo = int(toks[i][1:-1], 16)
            hi = min(int(toks[i + 1][1:-1], 16), lo + 0xFFFF)  # runaway guard
            i += 2
            if i >= n:
                break
            if toks[i] == b"[":  # per-code destination array
                i += 1
                code = lo
                while i < n and toks[i] != b"]":
                    if code <= hi and toks[i].startswith(b"<"):
                        cmap[code] = _utf16_hex(toks[i][1:-1])
                        code += 1
                    i += 1
                i += 1
            elif toks[i].startswith(b"<"):  # incremented destination
                dst = bytes.fromhex(toks[i][1:-1].decode("ascii"))
                i += 1
                base = int.from_bytes(dst, "big")
                for c in range(lo, hi + 1):
                    try:
                        cmap[c] = _utf16_hex(
                            (base + c - lo).to_bytes(len(dst), "big").hex().encode()
                        )
                    except OverflowError:
                        break
    return cmap, nbytes


class _Type0Decoder:
    """Decode CID-keyed show strings via the font's /ToUnicode map. Codes
    without a mapping fall back to the identity codepoint (the usual
    Identity-H convention when no ToUnicode entry exists).

    Fast path for 2-byte codes below the surrogate block (the universal web
    case): one C-level UTF-16BE decode + ``str.translate`` with the CMap as
    an ordinal table — no per-code Python. Codes ≥ U+D800 in the map (or odd
    code widths) take the generic loop."""

    __slots__ = ("cmap", "nbytes", "_table")

    def __init__(self, cmap: Dict[int, str], nbytes: int = 2):
        self.cmap = cmap
        self.nbytes = nbytes
        self._table = None
        if nbytes == 2 and all(k < 0xD800 for k in cmap):
            self._table = {0: ""}
            self._table.update(cmap)

    def __call__(self, raw: bytes) -> str:
        if self._table is not None:
            if len(raw) % 2:
                raw = raw[:-1]
            # 'replace' only fires on surrogate-range codes (unmappable to
            # str anyway); everything else round-trips exactly
            return raw.decode("utf-16-be", "replace").translate(self._table)
        step = self.nbytes
        get = self.cmap.get
        out = []
        for i in range(0, len(raw) - (len(raw) % step), step):
            code = int.from_bytes(raw[i : i + step], "big")
            s = get(code)
            if s is None:
                # identity fallback; surrogate codes and codes beyond
                # Unicode (possible at 3-4 byte widths) have no codepoint →
                # replacement char, as the fast path's 'replace' yields
                ok = 0 < code <= 0x10FFFF and not 0xD800 <= code <= 0xDFFF
                s = chr(code) if ok else ("�" if code else "")
            out.append(s)
        return "".join(out)


def _extract_spans(
    content: bytes, fonts: Optional[Dict[str, "_Type0Decoder"]] = None
) -> List[_Span]:
    spans: List[_Span] = []
    seq = 0
    ctm: Matrix = _IDENTITY
    gstack: List[Matrix] = []
    tm: Matrix = _IDENTITY
    tlm: Matrix = _IDENTITY
    leading = 0.0
    in_text = False
    # current composite-font decoder, switched by Tf (None → single-byte
    # default). Tracked per content stream — font selection is graphics
    # state, but the corpus (and our writer) always sets Tf inside each BT.
    cur_dec: Optional[_Type0Decoder] = None

    def emit(raw: Optional[bytes]) -> None:
        nonlocal seq
        if raw is None:
            return
        if cur_dec is not None:  # Type0/CID: 2-byte codes via ToUnicode
            text = cur_dec(raw)
        elif raw[:2] == b"\xfe\xff":  # UTF-16BE text string (PDF 1.7 §7.9.2.2)
            try:
                text = raw[2:].decode("utf-16-be")
            except UnicodeDecodeError:
                text = raw.decode("latin-1")
        else:
            text = raw.decode("latin-1")
        if text == "":
            return
        m = tm if ctm is _IDENTITY else _mat_mul(tm, ctm)
        if not (math.isfinite(m[4]) and math.isfinite(m[5])):
            return  # a number past float range: no place on the page
        spans.append(_Span(m[4], m[5], text, seq))
        seq += 1

    for ev in _content_ops(content):
        op = ev[0]
        if op == "Tj" or op == "TJ":
            if in_text:
                emit(ev[1])
        elif op == "Tm":
            tm = tlm = ev[1]
        elif op == "Td":
            tlm = _pre_translate(tlm, ev[1], ev[2])
            tm = tlm
        elif op == "'":  # next line, then show
            tlm = _pre_translate(tlm, 0.0, -leading)
            tm = tlm
            if in_text:
                emit(ev[1])
        elif op == "TD":
            leading = -ev[2]
            tlm = _pre_translate(tlm, ev[1], ev[2])
            tm = tlm
        elif op == "TL":
            leading = ev[1]
        elif op == "T*":
            tlm = _pre_translate(tlm, 0.0, -leading)
            tm = tlm
        elif op == "BT":
            in_text = True
            tm = tlm = _IDENTITY
        elif op == "ET":
            in_text = False
        elif op == "q":
            gstack.append(ctm)
        elif op == "Q":
            if gstack:
                ctm = gstack.pop()
        elif op == "cm":
            ctm = _mat_mul(ev[1], ctm)
        elif fonts:  # "Tf"
            cur_dec = fonts.get(ev[1])
    return spans


_LINE_Y_TOL = 2.0


def _cluster_lines(spans: List[_Span]) -> List[List[_Span]]:
    """XY-cut-lite: cluster spans into baselines (Y desc), X order inside."""
    if not spans:
        return []
    spans = sorted(spans, key=lambda s: (-s.y, s.x, s.seq))
    lines: List[List[_Span]] = []
    cur: List[_Span] = [spans[0]]
    cur_y = spans[0].y
    for s in spans[1:]:
        if cur_y - s.y > _LINE_Y_TOL:
            lines.append(cur)
            cur = [s]
            cur_y = s.y
        else:
            cur.append(s)
    lines.append(cur)
    return lines


# -- recursive XY-cut (north_star: reading-order segmentation) ---------------
#
# A page is split at a vertical gutter — an x-interval no span's estimated
# extent crosses — and the left region is read before the right one,
# recursively. Span widths aren't tracked by the text interpreter (no glyph
# metrics), so extents are estimated at ~0.5 em of the corpus's 10 pt font.
#
# Discriminator (the part that matters): a TABLE also shows vertical
# gutters between cell columns, but its left and right regions share the
# same baselines (cells of one row), whereas true text columns have
# independent baselines. A split is accepted only when the two sides share
# < 50% of their baseline set — same-baseline layouts stay line-joined and
# flow into the table detector instead.

_CHAR_W = 5.0  # ≈0.5 em at 10 pt — every corpus writer uses 10 pt
_MIN_GUTTER = 30.0
_MIN_SIDE_LINES = 3


def _find_column_split(spans: List[_Span]) -> Optional[float]:
    iv = sorted((s.x, s.x + _CHAR_W * len(s.text)) for s in spans)
    gaps = []
    cur_end = iv[0][1]
    for a, b in iv[1:]:
        if a > cur_end + _MIN_GUTTER:
            gaps.append((cur_end + a) / 2.0)
        cur_end = max(cur_end, b)
    for mid in gaps:
        left = [s for s in spans if s.x < mid]
        right = [s for s in spans if s.x >= mid]
        ly = {int(s.y / _LINE_Y_TOL) for s in left}
        ry = {int(s.y / _LINE_Y_TOL) for s in right}
        if len(ly) < _MIN_SIDE_LINES or len(ry) < _MIN_SIDE_LINES:
            continue
        if len(ly & ry) / min(len(ly), len(ry)) >= 0.5:
            continue  # shared baselines ⇒ table row cells, not columns
        return mid
    return None


def _xy_cut_lines(spans: List[_Span], depth: int = 0) -> List[List[_Span]]:
    if len(spans) < 2 * _MIN_SIDE_LINES or depth >= 4:
        return _cluster_lines(spans)
    mid = _find_column_split(spans)
    if mid is None:
        return _cluster_lines(spans)
    left = [s for s in spans if s.x < mid]
    right = [s for s in spans if s.x >= mid]
    return _xy_cut_lines(left, depth + 1) + _xy_cut_lines(right, depth + 1)


def _join_line(spans: List[_Span]) -> str:
    if len(spans) == 1:
        return spans[0].text
    spans = sorted(spans, key=lambda s: (s.x, s.seq))
    return " ".join(s.text for s in spans)


# A "table" is a run of >=2 consecutive baselines that each carry >=6
# separately-positioned spans (cells): the span-cluster analog of ruled-table
# detection, matching the cell-row contract the reference gets from
# pdfplumber ``extract_tables()`` (pdfplumber_parser.py:212-250) — first row
# is the column header, each row is a list of cell strings in X order.
_TABLE_MIN_COLS = 6
_TABLE_MIN_ROWS = 2


def _detect_tables(line_spans: List[List[_Span]]) -> List[List[List[str]]]:
    tables: List[List[List[str]]] = []
    run: List[List[str]] = []
    for ls in line_spans + [[]]:  # sentinel flushes the last run
        if len(ls) >= _TABLE_MIN_COLS:
            cells = [s.text for s in sorted(ls, key=lambda s: (s.x, s.seq))]
            run.append(cells)
        else:
            if len(run) >= _TABLE_MIN_ROWS:
                tables.append(run)
            run = []
    return tables


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


def image_inventory(
    data: bytes, with_data: Union[bool, str] = False
) -> List[Dict[str, Any]]:
    """Metadata for every image XObject reachable from the page tree —
    the multimodal-pipeline side of the walk. Web PDFs are byte-dominated
    by DCT/JPX/CCITT image streams the text path must *skip* (see
    ``decode_stream``); this surfaces them as typed rows
    ``{page, name, width, height, filter, n_bytes}`` without decoding
    pixels (no codec libs in the runtime, and none are needed for
    inventory/routing decisions). ``with_data`` adds ``data``, the bytes
    the image codec reads (``n_bytes`` stays the stored stream length):
    ``True`` to every image, a filter name (``"DCTDecode"``) only to the
    images under that filter — the others' streams are never decoded, so
    a corrupt or oversized one costs nothing.

    Reference analog: PyMuPDF's ``page.get_images()``
    (the reference never calls it — images are silently skipped at
    pymupdf_parser.py:74-77; this is a superset capability)."""
    doc = PdfDocument(data)
    out: List[Dict[str, Any]] = []
    for pno, page in enumerate(doc.pages()):
        res = doc.resolve(page.get("Resources"))
        xdict = doc.resolve(res.get("XObject")) if isinstance(res, dict) else None
        if not isinstance(xdict, dict):
            continue
        for name in sorted(xdict, key=str):
            xo = doc.resolve(xdict[name])
            if not isinstance(xo, StreamObject):
                continue
            d = xo.dict
            if str(doc.resolve(d.get("Subtype"))) != "Image":
                continue
            filt = doc.resolve(d.get("Filter"))
            if isinstance(filt, list):
                filt = filt[-1] if filt else None
            w = doc.resolve(d.get("Width"))
            h = doc.resolve(d.get("Height"))
            rec = {
                "page": pno,
                "name": str(name),
                # a malformed Width/Height (dict/list/name) reports 0, the
                # same skip-don't-crash contract as the text walk's filters
                "width": int(w) if isinstance(w, (int, float)) else 0,
                "height": int(h) if isinstance(h, (int, float)) else 0,
                "filter": str(filt) if filt is not None else "",
                "n_bytes": len(xo.raw),
            }
            if rec["filter"] == "CCITTFaxDecode":
                # surface the /DecodeParms a codec-equipped consumer needs
                # to route and interpret the stream: /K (G4 vs G3; PDF
                # default 0), /EncodedByteAlign and /BlackIs1 (both
                # default false) — ISO 32000-2 §7.4.6, table 11
                dp = doc.resolve(d.get("DecodeParms"))
                if isinstance(dp, list):
                    dp = doc.resolve(dp[-1]) if dp else None
                if not isinstance(dp, dict):
                    dp = {}
                kv = doc.resolve(dp.get("K"))
                rec["ccitt_k"] = int(kv) if isinstance(kv, (int, float)) else 0
                rec["ccitt_byte_align"] = bool(
                    doc.resolve(dp.get("EncodedByteAlign")) is True
                )
                rec["ccitt_black1"] = bool(
                    doc.resolve(dp.get("BlackIs1")) is True
                )
            keep = with_data == rec["filter"] if isinstance(with_data, str) else with_data
            if keep:
                # the bytes the image codec reads: every filter before it
                # applied (``decode_stream`` stops at DCT/JPX/CCITT/JBIG2),
                # so a single-filter stream comes back verbatim and a
                # ``[/FlateDecode /DCTDecode]`` one as its JFIF payload
                rec["data"] = doc.decode_stream(xo)
            out.append(rec)
    return out


def link_annotations(data: bytes) -> List[Dict[str, Any]]:
    """URI link annotations per page (PDF 1.7 §12.5.6.5): the PDF half of
    outlink harvesting — crawlers follow links out of PDFs exactly like out
    of HTML anchors. Returns ``{page, uri}`` rows in annotation order.

    Reference analog: PyMuPDF's ``page.get_links()`` (unused by the
    reference — statements have no links; web PDFs do)."""
    doc = PdfDocument(data)
    out: List[Dict[str, Any]] = []
    for pno, page in enumerate(doc.pages()):
        annots = doc.resolve(page.get("Annots"))
        if not isinstance(annots, list):
            continue
        for a in annots:
            a = doc.resolve(a)
            if not isinstance(a, dict) or str(doc.resolve(a.get("Subtype"))) != "Link":
                continue
            action = doc.resolve(a.get("A"))
            if not isinstance(action, dict) or str(doc.resolve(action.get("S"))) != "URI":
                continue
            uri = doc.resolve(action.get("URI"))
            if isinstance(uri, (bytes, bytearray)):
                out.append({"page": pno, "uri": _decode_text(bytes(uri))})
    return out


def extract_pdf_pages(data: bytes) -> List[str]:
    """Parse ``data`` and return one reading-order text string per page.

    Each page text has one ``"\\n"``-terminated line per assembled baseline
    (the page-text contract of the reference backends, e.g.
    ``/root/reference/pdfparser/pymupdf_parser.py:57,76``).
    """
    return extract_pdf_pages_and_tables(data)[0]


def extract_pdf_pages_and_tables(
    data: bytes,
) -> Tuple[List[str], List[List[List[str]]]]:
    """Like :func:`extract_pdf_pages`, plus detected cell tables (document
    order across pages). One parse, one span extraction — the table scan is
    a length check per assembled baseline."""
    doc = PdfDocument(data)
    pages = doc.pages()
    if not pages:
        raise PdfError("PDF has no pages")
    texts: List[str] = []
    tables: List[List[List[str]]] = []
    for page in pages:
        line_spans = _xy_cut_lines(
            _extract_spans(doc.page_content(page), doc.page_fonts(page))
        )
        texts.append("".join(_join_line(ls) + "\n" for ls in line_spans))
        tables.extend(_detect_tables(line_spans))
    return texts, tables


def extract_pdf_text(data: bytes) -> str:
    """Full-document text with the reference's page join: every page's text
    is suffixed with one extra ``"\\n"``
    (``/root/reference/pdfparser/pymupdf_parser.py:74-77``)."""
    return "".join(pt + "\n" for pt in extract_pdf_pages(data))
