"""Minimal from-scratch PDF writer for deterministic synthetic fixtures.

Mirrors the *feature set* of the reference corpus (verified byte-level in
SURVEY §7.1 against ``/root/reference/source-pdf/``): PDF 1.3 with classic
``xref`` tables AND PDF 1.7 with cross-reference streams (PNG Up predictor,
``/Columns 5``) + object streams; FlateDecode content streams; text drawn
with ``Tm/Td/TD/TL/T*/Tj/TJ/'`` operators; literal strings with escapes;
single-byte standard fonts. The synthetic-statement *content* mirrors
``/root/reference/generate_test_pdfs.py:167-213`` (header + transaction
rows) without porting its code (reportlab is unavailable here anyway).

Used by ``tools/genfixtures.py`` (golden corpus), the synthetic ``pages``
table source (``b_pdf_parser_spark/sources/pages.py``) and the benchmark.
"""

from __future__ import annotations

import zlib
from typing import Dict, List, Optional, Sequence, Tuple

__all__ = ["build_pdf", "pdf_from_lines", "make_image"]

Span = Tuple[float, float, str]  # (x, y, text)

_FONT_DICT = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"


def _esc_bytes(raw: bytes) -> bytes:
    out = bytearray()
    for b in raw:
        if b in (0x5C, 0x28, 0x29):
            out.append(0x5C)
            out.append(b)
        elif b < 0x20 or b > 0x7E:
            out += ("\\%03o" % b).encode("ascii")
        else:
            out.append(b)
    return bytes(out)


def _esc(text: str) -> bytes:
    return _esc_bytes(text.encode("latin-1", "replace"))


def _num(v: float) -> bytes:
    if float(v) == int(v):
        return str(int(v)).encode("ascii")
    return (f"{v:.2f}").encode("ascii")


def _lit_show(text: str) -> bytes:
    return b"(" + _esc(text) + b")"


def _content_tm(spans: Sequence[Span], show=_lit_show) -> bytes:
    """One absolute Tm + Tj per span (the dominant pattern in the corpus)."""
    parts = [b"BT /F1 10 Tf"]
    for x, y, text in spans:
        parts.append(b"1 0 0 1 " + _num(x) + b" " + _num(y) + b" Tm " + show(text) + b" Tj")
    parts.append(b"ET")
    return b"\n".join(parts)


def _content_td(spans: Sequence[Span], show=_lit_show) -> bytes:
    """Td/TL/'/TJ variant: exercises relative line motion operators."""
    parts = [b"q 1 0 0 1 0 0 cm", b"BT /F1 10 Tf 14 TL"]
    prev_x = prev_y = 0.0
    for idx, (x, y, text) in enumerate(spans):
        if idx == 0:
            parts.append(_num(x) + b" " + _num(y) + b" Td")
            parts.append(b"[" + show(text) + b"] TJ")
        elif abs((prev_y - y) - 14.0) < 0.01 and x == prev_x:
            parts.append(show(text) + b" '")
        else:
            parts.append(_num(x - prev_x) + b" " + _num(y - prev_y) + b" Td")
            parts.append(show(text) + b" Tj")
        prev_x, prev_y = x, y
    parts.append(b"ET Q")
    return b"\n".join(parts)


# -- Type0 / Identity-H emission (PDF 1.7 §9.7) + /ToUnicode CMap (§9.10.3) --


def _charmap(pages: Sequence[Sequence[Span]]) -> Dict[str, int]:
    """char → CID over the document's glyph set. CIDs start at 1 (0 is
    .notdef) and are deliberately NOT the unicode codepoints, so extraction
    must really go through the ToUnicode CMap."""
    chars = sorted({ch for spans in pages for _, _, t in spans for ch in t})
    return {ch: i + 1 for i, ch in enumerate(chars)}


def _hex_show_fn(cm: Dict[str, int]):
    def show(text: str) -> bytes:
        return b"<" + "".join(f"{cm[ch]:04X}" for ch in text).encode("ascii") + b">"

    return show


def _u16hex(ch: str) -> bytes:
    return ch.encode("utf-16-be").hex().upper().encode("ascii")


def _tounicode_cmap(cm: Dict[str, int]) -> bytes:
    """Standard ToUnicode CMap: consecutive (cid, codepoint) runs become
    bfrange entries, singletons become bfchar — both forms exercised."""
    items = sorted((cid, ch) for ch, cid in cm.items())
    ranges: List[bytes] = []
    chars: List[bytes] = []
    i = 0
    while i < len(items):
        j = i
        while (
            j + 1 < len(items)
            and items[j + 1][0] == items[j][0] + 1
            and ord(items[j + 1][1]) == ord(items[j][1]) + 1
        ):
            j += 1
        if j > i:
            ranges.append(
                b"<%04X> <%04X> <%s>" % (items[i][0], items[j][0], _u16hex(items[i][1]))
            )
        else:
            chars.append(b"<%04X> <%s>" % (items[i][0], _u16hex(items[i][1])))
        i = j + 1

    def blocks(entries: List[bytes], kw: bytes) -> bytes:
        out = b""
        for k in range(0, len(entries), 100):  # ≤100 entries per block (spec)
            chunk = entries[k : k + 100]
            out += (
                b"%d begin%s\n" % (len(chunk), kw)
                + b"\n".join(chunk)
                + b"\nend%s\n" % kw
            )
        return out

    return (
        b"/CIDInit /ProcSet findresource begin\n12 dict begin\nbegincmap\n"
        b"/CIDSystemInfo << /Registry (Adobe) /Ordering (UCS) /Supplement 0 >> def\n"
        b"/CMapName /Adobe-Identity-UCS def\n/CMapType 2 def\n"
        b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
        + blocks(chars, b"bfchar")
        + blocks(ranges, b"bfrange")
        + b"endcmap\nCMapName currentdict /CMap defineresource pop\nend\nend\n"
    )


# -- encryption emission (PDF 1.7 §7.6.3 / ISO 32000-2 §7.6.4: RC4 V1/V2,
# AES-128 V4, AES-256 V5/R6; empty user password) --
# Key derivations and cipher primitives are shared with the parser; the
# goldens pin the resulting bytes so both sides are checked.


def _aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PDF string/stream encryption: PKCS#7 pad, CBC, IV prepended."""
    from .pdfmodel import _aes_cbc_nopad_encrypt

    pad = 16 - len(data) % 16
    return iv + _aes_cbc_nopad_encrypt(key, iv, data + bytes([pad]) * pad)


def _prep_encryption(bodies: Sequence[bytes], mode: str = "rc4-128") -> Dict[str, object]:
    """Deterministic standard-security-handler material: the file ID is the
    md5 of the plaintext objects, the owner password is fixed ('owner'),
    the user password empty — the dominant shape of restricted web PDFs.
    Modes: ``rc4-128`` (V2/R3), ``rc4-40`` (legacy V1/R2), ``aes-128``
    (V4/R4 /AESV2), ``aes-256`` (V5/R6 /AESV3, ISO 32000-2)."""
    import hashlib
    import struct

    from .pdfmodel import (_PW_PAD, _aes_cbc_nopad_encrypt, _hash_2b, _rc4,
                           _std_file_key)

    id0 = hashlib.md5(b"".join(bodies)).digest()
    if mode == "aes-256":
        file_key = hashlib.sha256(id0 + b"file-key").digest()
        vsalt, ksalt = id0[:8], id0[8:16]
        u = _hash_2b(b"", vsalt, b"") + vsalt + ksalt
        ue = _aes_cbc_nopad_encrypt(_hash_2b(b"", ksalt, b""), bytes(16), file_key)
        rev = id0[::-1]
        ovs, oks = rev[:8], rev[8:16]
        o = _hash_2b(b"owner", ovs, u) + ovs + oks
        oe = _aes_cbc_nopad_encrypt(_hash_2b(b"owner", oks, u), bytes(16), file_key)
        perms = _aes_cbc_nopad_encrypt(  # one ECB block: CBC under a zero IV
            file_key,
            bytes(16),
            struct.pack("<i", -1) + b"\xff\xff\xff\xff" + b"Tadb" + id0[:4],
        )
        return {"key": file_key, "O": o, "U": u, "OE": oe, "UE": ue,
                "Perms": perms, "id0": id0, "mode": "aes256"}
    okey = hashlib.md5((b"owner" + _PW_PAD)[:32]).digest()
    if mode == "rc4-40":
        o = _rc4(okey[:5], _PW_PAD)  # Algorithm 3, R2: single RC4 pass
        key = _std_file_key({"R": 2, "O": o, "P": -1}, id0)
        u = _rc4(key, _PW_PAD)  # Algorithm 4
        return {"key": key, "O": o, "U": u, "id0": id0, "mode": "rc4-40"}
    for _ in range(50):
        okey = hashlib.md5(okey).digest()
    okey = okey[:16]
    o = _rc4(okey, _PW_PAD)  # Algorithm 3 with empty user password
    for i in range(1, 20):
        o = _rc4(bytes(b ^ i for b in okey), o)
    r = 4 if mode == "aes-128" else 3
    key = _std_file_key({"R": r, "Length": 128, "O": o, "P": -1}, id0)
    x = hashlib.md5(_PW_PAD + id0).digest()  # Algorithm 5 (U entry)
    x = _rc4(key, x)
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    return {"key": key, "O": o, "U": x + b"\x00" * 16, "id0": id0,
            "mode": "aes128" if mode == "aes-128" else "rc4-128"}


def _unesc(raw: bytes) -> bytes:
    """Inverse of :func:`_esc_bytes` for our own emitted subset."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i]
        if c == 0x5C:
            nxt = raw[i + 1]
            if 0x30 <= nxt <= 0x37:
                out.append(int(raw[i + 1 : i + 4], 8))
                i += 4
            else:
                out.append(nxt)
                i += 2
        else:
            out.append(c)
            i += 1
    return bytes(out)


def _map_literal_strings(body: bytes, fn) -> bytes:
    out = bytearray()
    i = 0
    while i < len(body):
        c = body[i]
        if c == 0x28:  # '(' — balanced scan honoring backslash escapes
            j = i + 1
            depth = 1
            while depth:
                ch = body[j]
                if ch == 0x5C:
                    j += 2
                    continue
                if ch == 0x28:
                    depth += 1
                elif ch == 0x29:
                    depth -= 1
                j += 1
            out += b"(" + fn(body[i + 1 : j - 1]) + b")"
            i = j
        else:
            out.append(c)
            i += 1
    return bytes(out)


import re as _re

_LENGTH_RE = _re.compile(rb"/Length \d+")


def _encrypt_body(body: bytes, enc: Dict[str, object], num: int) -> bytes:
    """Encrypt one emitted object: the stream payload wholesale (strings
    inside it ride along, per spec) and each top-level literal string.
    RC4 is length-preserving; AES grows payloads (IV + PKCS#7 pad), so the
    head's /Length is rewritten to the ciphertext size."""
    import hashlib

    from .pdfmodel import _object_key, _rc4

    file_key: bytes = enc["key"]  # type: ignore[assignment]
    mode = enc.get("mode", "rc4-128")
    if mode in ("rc4-128", "rc4-40"):
        okey = _object_key(file_key, num, 0)
        E = lambda b: _rc4(okey, b)  # noqa: E731
    else:
        iv = hashlib.md5(bytes(enc["id0"]) + b"iv%d" % num).digest()  # type: ignore[arg-type]
        if mode == "aes128":
            okey = _object_key(file_key, num, 0, aes=True)
        else:  # aes256: the file key directly
            okey = file_key
        E = lambda b: _aes_cbc_encrypt(okey, iv, b)  # noqa: E731
    si = body.find(b"\nstream\n")
    enc_str = lambda inner: _esc_bytes(E(_unesc(inner)))  # noqa: E731
    if si >= 0:
        head, payload = body[:si], body[si + 8 : -len(b"\nendstream")]
        data = E(payload)
        head = _map_literal_strings(head, enc_str)
        head = _LENGTH_RE.sub(b"/Length %d" % len(data), head, count=1)
        return head + b"\nstream\n" + data + b"\nendstream"
    return _map_literal_strings(body, enc_str)


def _encrypt_dict_body(enc: Dict[str, object]) -> bytes:
    mode = enc.get("mode", "rc4-128")
    s = lambda k: _esc_bytes(bytes(enc[k]))  # type: ignore[arg-type]  # noqa: E731
    if mode == "rc4-40":
        head = b"<< /Filter /Standard /V 1 /R 2 /O ("
    elif mode == "rc4-128":
        head = b"<< /Filter /Standard /V 2 /R 3 /Length 128 /O ("
    elif mode == "aes128":
        head = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
            b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
            b"/StmF /StdCF /StrF /StdCF /O ("
        )
    else:  # aes256
        return (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
            b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
            b"/StmF /StdCF /StrF /StdCF /O (" + s("O") + b") /U (" + s("U")
            + b") /OE (" + s("OE") + b") /UE (" + s("UE")
            + b") /Perms (" + s("Perms") + b") /P -1 >>"
        )
    return head + s("O") + b") /U (" + s("U") + b") /P -1 >>"


def _trailer_crypt(enc: Dict[str, bytes], enc_num: int) -> bytes:
    idhex = enc["id0"].hex().encode("ascii")
    return b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (enc_num, idhex, idhex)


def _stream_obj(d: bytes, payload: bytes, compress: bool) -> bytes:
    if compress:
        data = zlib.compress(payload)
        head = d[:-2].rstrip() + b" /Filter /FlateDecode /Length %d >>" % len(data)
    else:
        data = payload
        head = d[:-2].rstrip() + b" /Length %d >>" % len(data)
    return head + b"\nstream\n" + data + b"\nendstream"


def make_image(
    page: int, width: int, height: int, filter_name: str = "DCTDecode", seed: int = 0
) -> Dict[str, object]:
    """Deterministic image-XObject spec for :func:`build_pdf`'s ``images``
    param. The payload is pseudo-bytes (a pure function of the arguments),
    standing in for real codec output the same way the media pack's fake
    codec does — the parser must *skip* it for text and *inventory* it for
    multimodal pipelines, neither of which needs decodable pixels."""
    n = max(1, width * height // 4)  # "compressed" payload, smaller than raw
    data = bytes((seed * 31 + k * 7) % 251 for k in range(n))
    return {
        "page": page, "width": width, "height": height,
        "filter": filter_name, "data": data,
    }


def build_pdf(
    pages: Sequence[Sequence[Span]],
    *,
    xref_stream: bool = False,
    compress: bool = True,
    td_ops: bool = False,
    type0: bool = False,
    images: Sequence[Dict[str, object]] = (),
    inline_images: Sequence[Tuple[int, bytes]] = (),
    links: Sequence[Tuple[int, str]] = (),
    differences: Optional[Dict[int, str]] = None,
    encrypt: bool = False,
) -> bytes:
    """Serialize positioned text spans into a complete PDF file.

    ``encrypt=True`` → standard security handler, RC4 128-bit (V2/R3) with
    an EMPTY user password (the restricted-but-openable shape that dominates
    encrypted web PDFs); deterministic file ID from the plaintext objects.

    ``xref_stream=False`` → PDF-1.3-style classic xref table;
    ``xref_stream=True``  → PDF-1.7 cross-reference stream (``/W [1 2 2]``,
    ``/Predictor 12 /Columns 5``) with the catalog/pages/page/font
    dictionaries packed into an object stream (``/Type /ObjStm``).
    ``type0=True`` → composite Identity-H font: show strings become 2-byte
    CID hex strings (CIDs ≠ codepoints) decodable only via the embedded
    /ToUnicode CMap — the dominant font shape in web PDFs.
    """
    n_pages = len(pages)
    show = _lit_show
    if type0:
        cm = _charmap(pages)
        show = _hex_show_fn(cm)
    elif differences:
        # /Differences re-encoding (§9.6.6): characters whose glyph name is
        # remapped are shown by their REMAPPED code byte — the page bytes
        # only decode correctly through the font's Differences table (the
        # way legacy web PDFs carry €, em-dashes and smart quotes)
        from .pdfmodel import _glyph_char

        char2code = {
            _glyph_char(str(g), int(c)): int(c) for c, g in differences.items()
        }

        def show(text: str) -> bytes:  # noqa: F811 — deliberate re-bind
            mapped = "".join(
                chr(char2code[ch]) if ch in char2code else ch for ch in text
            )
            return _lit_show(mapped)

    make_content = _content_td if td_ops else _content_tm

    # object numbering: 1 catalog, 2 pages, 3 font, then per page (dict,
    # content); type0 appends CIDFont dict + ToUnicode stream at the end
    page_obj = lambda i: 4 + 2 * i  # noqa: E731
    content_obj = lambda i: 5 + 2 * i  # noqa: E731
    kids = b"[" + b" ".join(b"%d 0 R" % page_obj(i) for i in range(n_pages)) + b"]"

    # image XObjects: numbered after the per-page objects (and before the
    # type0 extras); grouped per page for the /XObject resource dicts
    img_base = 4 + 2 * n_pages
    by_page: Dict[int, List[Tuple[bytes, int]]] = {}
    img_objs: Dict[int, bytes] = {}
    for j, im in enumerate(images):
        num = img_base + j
        name = b"/Im%d" % j
        by_page.setdefault(int(im["page"]), []).append((name, num))
        data = bytes(im["data"])  # already "encoded" — no recompress
        filt = str(im["filter"])
        if filt == "CCITTFaxDecode":
            # bi-level fax image: Group 4 (K<0), Group 3 1-D (K=0) or
            # Group 3 2-D (K>0) per the image's "k" key; PDF defaults
            # otherwise (BlackIs1 false — decoded 0 bits are black),
            # ISO 32000-2 §7.4.6; Columns/Rows pinned to the dimensions.
            # /EndOfLine true only when the stream actually carries EOLs
            # (the image's "eol" key; the PDF default is false, and K=0
            # streams without EOLs are the spec-default shape)
            ccitt_k = int(im.get("k", -1))
            ccitt_eol = bool(im.get("eol", ccitt_k >= 0))
            extras = b""
            if ccitt_k >= 0 and ccitt_eol:
                extras += b" /EndOfLine true"
            if im.get("byte_align"):
                extras += b" /EncodedByteAlign true"
            if im.get("black_is_1"):
                # the coded runs are what they are; BlackIs1 says black
                # decodes to 1-bits, so a conforming consumer's samples
                # come out inverted (ISO 32000-2 §7.4.6, table 11)
                extras += b" /BlackIs1 true"
            color = (
                b"/ColorSpace /DeviceGray /BitsPerComponent 1 "
                b"/DecodeParms << /K %d /Columns %d /Rows %d%s >> "
                % (
                    ccitt_k,
                    int(im["width"]),
                    int(im["height"]),
                    extras,
                )
            )
        else:
            color = b"/ColorSpace /DeviceRGB /BitsPerComponent 8 "
        img_objs[num] = (
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            % (int(im["width"]), int(im["height"]))
            + color
            + b"/Filter /%s /Length %d >>" % (filt.encode("ascii"), len(data))
            + b"\nstream\n" + data + b"\nendstream"
        )
    if images:
        img_base += len(images)  # type0 extras shift past the images

    font_dict = _FONT_DICT
    if differences and not type0:
        # runs of consecutive codes share one leading number, exercising the
        # reader's auto-increment walk (PDF 1.7 §9.6.6.1 array grammar)
        parts: List[bytes] = []
        prev = None
        for code in sorted(differences):
            if prev is None or code != prev + 1:
                parts.append(b"%d" % code)
            parts.append(b"/" + str(differences[code]).encode("ascii"))
            prev = code
        font_dict = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding "
            b"/Differences [ " + b" ".join(parts) + b" ] >> >>"
        )
    dicts: Dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids " + kids + b" /Count %d >>" % n_pages,
        3: font_dict,
    }
    # URI link annotations (PDF 1.7 §12.5.6.5), inline in the page dict —
    # one stacked Rect per link so each is a distinct clickable region
    links_by_page: Dict[int, List[str]] = {}
    for pg, uri in links:
        links_by_page.setdefault(int(pg), []).append(str(uri))

    for i in range(n_pages):
        xobj = b""
        if by_page.get(i):
            refs = b" ".join(b"%s %d 0 R" % (nm, num) for nm, num in by_page[i])
            xobj = b"/XObject << " + refs + b" >> "
        annots = b""
        if links_by_page.get(i):
            entries = b" ".join(
                b"<< /Type /Annot /Subtype /Link /Rect [40 %d 200 %d] "
                b"/A << /S /URI /URI (%s) >> >>"
                % (600 - 20 * k, 616 - 20 * k, _esc(uri))
                for k, uri in enumerate(links_by_page[i])
            )
            annots = b"/Annots [ " + entries + b" ] "
        dicts[page_obj(i)] = (
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << /Font << /F1 3 0 R >> %s>> %s/Contents %d 0 R >>"
            % (xobj, annots, content_obj(i))
        )
    # inline images (PDF 1.7 §8.9.7): BI <params> ID <raw binary> EI woven
    # INTO the content stream before the text block — the payload is
    # arbitrary binary that a text tokenizer must skip wholesale, not scan
    inline_by_page: Dict[int, List[bytes]] = {}
    for pg, payload in inline_images:
        payload = bytes(payload)
        w = max(1, len(payload) // 3)
        inline_by_page.setdefault(int(pg), []).append(
            b"q 8 0 0 8 40 700 cm BI /W %d /H 1 /CS /DeviceRGB /BPC 8 ID " % w
            + payload + b" EI Q\n"
        )
    contents: Dict[int, bytes] = {
        content_obj(i): _stream_obj(
            b"<< >>",
            b"".join(inline_by_page.get(i, []))
            + make_content(pages[i], show)
            + (b"".join(
                b"\nq %d 0 0 %d 40 600 cm %s Do Q"
                % (int(im["width"]), int(im["height"]), b"/Im%d" % j)
                for j, im in enumerate(images) if int(im["page"]) == i
            )),
            compress,
        )
        for i in range(n_pages)
    }
    contents.update(img_objs)
    if type0:
        cid_obj = img_base
        tu_obj = cid_obj + 1
        dicts[3] = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /SynthCID "
            b"/Encoding /Identity-H /DescendantFonts [%d 0 R] /ToUnicode %d 0 R >>"
            % (cid_obj, tu_obj)
        )
        dicts[cid_obj] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /SynthCID "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> /CIDToGIDMap /Identity /DW 500 >>"
        )
        contents[tu_obj] = _stream_obj(b"<< >>", _tounicode_cmap(cm), compress)

    enc = None
    if encrypt:
        all_nums = sorted(set(dicts) | set(contents))
        enc = _prep_encryption(
            [dicts.get(n) if n in dicts else contents[n] for n in all_nums],
            mode=encrypt if isinstance(encrypt, str) else "rc4-128",
        )
    if not xref_stream:
        return _emit_classic(dicts, contents, enc)
    return _emit_xref_stream(dicts, contents, compress, enc)


def _emit_classic(
    dicts: Dict[int, bytes], contents: Dict[int, bytes], enc=None
) -> bytes:
    buf = bytearray(b"%PDF-1.3\n%\xc3\xa4\xc3\xbc\xc3\xb6\n")
    offsets: Dict[int, int] = {}
    enc_num = max(set(dicts) | set(contents)) + 1 if enc else 0
    for num in sorted(set(dicts) | set(contents)):
        body = dicts.get(num) if num in dicts else contents[num]
        if enc:
            body = _encrypt_body(body, enc, num)
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    if enc:
        offsets[enc_num] = len(buf)
        buf += b"%d 0 obj\n" % enc_num + _encrypt_dict_body(enc) + b"\nendobj\n"
    size = max(offsets) + 1
    xref_pos = len(buf)
    buf += b"xref\n0 %d\n" % size
    buf += b"0000000000 65535 f \n"
    for num in range(1, size):
        buf += b"%010d 00000 n \n" % offsets.get(num, 0)
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R%s >>\nstartxref\n%d\n%%%%EOF\n"
        % (size, _trailer_crypt(enc, enc_num) if enc else b"", xref_pos)
    )
    return bytes(buf)


def _emit_xref_stream(
    dicts: Dict[int, bytes], contents: Dict[int, bytes], compress: bool, enc=None
) -> bytes:
    # pack all plain dictionaries into one ObjStm; streams stay top-level.
    # With encryption: top-level stream payloads are RC4'd per object, the
    # ObjStm wholesale (strings packed inside it ride along — §7.6.2), and
    # the xref stream + encryption dictionary stay plaintext per spec.
    packed = sorted(dicts)
    enc_num = max(max(dicts), max(contents)) + 1 if enc else 0
    objstm_num = max(max(dicts), max(contents), enc_num) + 1
    xref_num = objstm_num + 1

    header_parts: List[bytes] = []
    body_parts: List[bytes] = []
    off = 0
    for num in packed:
        body = dicts[num] + b"\n"
        header_parts.append(b"%d %d" % (num, off))
        body_parts.append(body)
        off += len(body)
    header = b" ".join(header_parts) + b"\n"
    objstm_payload = header + b"".join(body_parts)
    objstm = _stream_obj(
        b"<< /Type /ObjStm /N %d /First %d >>" % (len(packed), len(header)),
        objstm_payload,
        compress,
    )

    buf = bytearray(b"%PDF-1.7\n%\xc3\xa4\xc3\xbc\xc3\xb6\n")
    offsets: Dict[int, int] = {}
    for num in sorted(contents):
        body = contents[num]
        if enc:
            body = _encrypt_body(body, enc, num)
        offsets[num] = len(buf)
        buf += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    if enc:
        objstm = _encrypt_body(objstm, enc, objstm_num)
        offsets[enc_num] = len(buf)
        buf += b"%d 0 obj\n" % enc_num + _encrypt_dict_body(enc) + b"\nendobj\n"
    offsets[objstm_num] = len(buf)
    buf += b"%d 0 obj\n" % objstm_num + objstm + b"\nendobj\n"

    # xref stream rows: /W [1 w 2], PNG Up predictor (Predictor 12); w=2
    # (/Columns 5, matching the reference corpus) unless offsets need 4 bytes
    size = xref_num + 1
    xref_pos = len(buf)
    w = 2 if xref_pos <= 0xFFFF else 4
    cols = 3 + w
    rows: List[bytes] = []
    for num in range(size):
        if num == 0:
            rows.append(bytes([0]) + (0).to_bytes(w, "big") + (65535).to_bytes(2, "big"))
        elif num in offsets:
            rows.append(bytes([1]) + offsets[num].to_bytes(w, "big") + (0).to_bytes(2, "big"))
        elif num in dicts:
            idx = packed.index(num)
            rows.append(bytes([2]) + objstm_num.to_bytes(w, "big") + idx.to_bytes(2, "big"))
        elif num == xref_num:
            rows.append(bytes([1]) + xref_pos.to_bytes(w, "big") + (0).to_bytes(2, "big"))
        else:
            rows.append(bytes([0]) + (0).to_bytes(w, "big") + (0).to_bytes(2, "big"))
    # apply PNG Up filter (type byte 2 per row)
    filtered = bytearray()
    prev = bytes(cols)
    for row in rows:
        filtered.append(2)
        filtered += bytes((row[k] - prev[k]) & 0xFF for k in range(cols))
        prev = row
    xref_payload = zlib.compress(bytes(filtered))
    xref_obj = (
        b"<< /Type /XRef /Size %d /Root 1 0 R%s /W [1 %d 2] /Index [0 %d] "
        b"/Filter /FlateDecode /DecodeParms << /Predictor 12 /Columns %d >> /Length %d >>"
        % (size, _trailer_crypt(enc, enc_num) if enc else b"", w, size, cols,
           len(xref_payload))
    )
    buf += b"%d 0 obj\n" % xref_num + xref_obj + b"\nstream\n" + xref_payload + b"\nendstream\nendobj\n"
    buf += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(buf)


def pdf_from_lines(
    page_lines: Sequence[Sequence[object]],
    *,
    xref_stream: bool = False,
    compress: bool = True,
    td_ops: bool = False,
    type0: bool = False,
    images: Sequence[Dict[str, object]] = (),
    inline_images: Sequence[Tuple[int, bytes]] = (),
    differences: Optional[Dict[int, str]] = None,
    encrypt: bool = False,
    x: float = 72.0,
    top: float = 760.0,
    leading: float = 14.0,
    col_xs: Sequence[float] = (40.0, 110.0, 260.0, 340.0, 420.0, 500.0),
) -> bytes:
    """Lay text lines top-down on each page and serialize (fixture shortcut).

    A line may be a plain ``str`` (one span at ``x``) or a sequence of cell
    strings (a table row: one span per cell at the fixed ``col_xs`` column
    positions — the layout the parser's span-cluster table detection finds).
    """
    pages: List[List[Span]] = []
    for lines in page_lines:
        spans: List[Span] = []
        for i, ln in enumerate(lines):
            yv = top - i * leading
            if isinstance(ln, str):
                spans.append((x, yv, ln))
            else:
                for j, cell in enumerate(ln):
                    spans.append((col_xs[j % len(col_xs)], yv, cell))
        pages.append(spans)
    return build_pdf(pages, xref_stream=xref_stream, compress=compress,
                     td_ops=td_ops, type0=type0, images=images,
                     inline_images=inline_images, differences=differences,
                     encrypt=encrypt)
