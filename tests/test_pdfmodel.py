"""PDF object-model unit + property tests (mirror of the reference's
fuzz/unit layers, SURVEY §5; reference analog tests/test_utils.py:165-197
no-crash invariants)."""

import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from b_pdf_parser_spark import pdfmodel as pm
from b_pdf_parser_spark.pdfwriter import build_pdf, pdf_from_lines


# ---- lexer ----------------------------------------------------------------

def test_parse_basic_values():
    assert pm.parse_value(b" 42 ", 0)[0] == 42
    assert pm.parse_value(b"-3.5", 0)[0] == -3.5
    assert pm.parse_value(b"true", 0)[0] is True
    assert pm.parse_value(b"false", 0)[0] is False
    assert pm.parse_value(b"null", 0)[0] is None
    assert pm.parse_value(b"/Name#20x", 0)[0] == "Name x"
    assert pm.parse_value(b"(abc)", 0)[0] == b"abc"
    assert pm.parse_value(b"<414243>", 0)[0] == b"ABC"
    assert pm.parse_value(b"<41424>", 0)[0] == b"AB@"  # odd digit → pad 0
    assert pm.parse_value(b"[1 2 (x)]", 0)[0] == [1, 2, b"x"]
    assert pm.parse_value(b"<< /A 1 /B [2] >>", 0)[0] == {"A": 1, "B": [2]}
    assert pm.parse_value(b"7 0 R", 0)[0] == pm.Ref(7, 0)
    assert pm.parse_value(b"% comment\n9", 0)[0] == 9


def test_literal_string_escapes():
    assert pm.parse_value(rb"(a\(b\)c)", 0)[0] == b"a(b)c"
    assert pm.parse_value(rb"(a\nb\tc)", 0)[0] == b"a\nb\tc"
    assert pm.parse_value(rb"(\101\102)", 0)[0] == b"AB"
    assert pm.parse_value(rb"(\8)", 0)[0] == b"8"  # unknown escape passthrough
    assert pm.parse_value(b"(nest(ed))", 0)[0] == b"nest(ed)"
    with pytest.raises(pm.PdfError):
        pm.parse_value(b"(unterminated", 0)


def test_number_vs_ref_disambiguation():
    # "1 2" alone is a number then another number, not a ref
    v, i = pm.parse_value(b"1 2 obj", 0)
    assert v == 1
    v, _ = pm.parse_value(b"[1 0 R 2]", 0)
    assert v == [pm.Ref(1, 0), 2]


def test_parser_quirks_kept():
    assert pm.parse_value(b"-3 0 R", 0) == (pm.Ref(-3, 0), 6)
    assert pm.parse_value(b"1.5 0 R", 0) == (1.5, 3)
    assert pm.parse_value(b"12 R", 0) == (12, 2)
    assert pm.parse_value(b"3 %c\n0 %d\rR]", 0) == (pm.Ref(3, 0), 11)
    assert pm.parse_value(b"/A#4", 0) == ("A#4", 4)  # a cut-off escape keeps '#'
    for bad in (b"", b"]", b">>", b"<< 1 >>", b"<< /A >>", b"[1 >>", b"truex", b"+", b"{"):
        with pytest.raises(pm.PdfError):
            pm.parse_value(bad, 0)


# test-side serializer for the round trip: every token gets a random run of
# whitespace and comments around it
_SEPS = [b" ", b"\n", b"\r\n", b"\t", b"\x00", b"\x0c", b"% note\n", b"%\r", b" %%[<<(\n "]
_NAME_PLAIN = set(range(0x21, 0x7F)) - set(b"()<>[]{}/%#")


def _pdf_name(raw: bytes) -> bytes:
    return b"/" + b"".join(bytes([c]) if c in _NAME_PLAIN else b"#%02X" % c for c in raw)


def _escaped(raw: bytes) -> bytes:
    return b"".join(b"\\" + bytes([c]) if c in b"()\\" else bytes([c]) for c in raw)


@st.composite
def _pdf_literal(draw):
    """(value, serialized) of a literal string, in one of its escape forms."""
    raw = draw(st.binary(max_size=8))
    form = draw(st.sampled_from(
        ["escaped", "octal", "nested", "continued", "unknown", "octal+digit"]))
    if form == "octal":
        return raw, b"(" + b"".join(b"\\%03o" % c for c in raw) + b")"
    if form == "nested":  # unescaped balanced parentheses belong to the value
        return b"(" + raw + b")", b"((" + _escaped(raw) + b"))"
    if form == "continued":  # a backslash before a line end drops both
        k = draw(st.integers(0, len(raw)))
        eol = draw(st.sampled_from([b"\n", b"\r\n"]))
        return raw, b"(" + _escaped(raw[:k]) + b"\\" + eol + _escaped(raw[k:]) + b")"
    if form == "unknown":  # an unknown escape is its byte
        return raw + b"q", b"(" + _escaped(raw) + b"\\q)"
    if form == "octal+digit":  # 1-3 octal digits, then a digit that is not one of them
        c = draw(st.integers(0, 255))
        width = draw(st.integers(len(b"%o" % c), 3))
        d = draw(st.sampled_from(b"0123456789" if width == 3 else b"89"))
        octal = b"\\%0*o" % (width, c)
        return raw + bytes([c, d]), b"(" + _escaped(raw) + octal + bytes([d]) + b")"
    return raw, b"(" + _escaped(raw) + b")"


_leaf = st.one_of(
    st.none().map(lambda _: (None, b"null")),
    st.booleans().map(lambda b: (b, b"true" if b else b"false")),
    st.integers(-10**12, 10**12).map(lambda n: (n, b"%d" % n)),
    st.from_regex(rb"\A[+-]?(?:\d{1,6}\.\d{0,4}|\.\d{1,4})\Z").map(lambda t: (float(t), t)),
    st.binary(max_size=6).map(lambda r: (pm.Name(r.decode("latin-1")), _pdf_name(r))),
    _pdf_literal(),
    st.binary(max_size=8).map(lambda r: (r, b"<" + r.hex().encode() + b">")),
    st.tuples(st.integers(0, 10**6), st.integers(0, 65535)).map(
        lambda t: (pm.Ref(*t), b"%d %d R" % t)),
)


def _containers(children):
    return st.one_of(
        st.lists(children, max_size=5).map(lambda xs: ("arr", xs)),
        st.lists(st.tuples(st.binary(max_size=4), children), max_size=5).map(lambda xs: ("dict", xs)),
    )


def _render(node, sep):
    """(expected value, serialized bytes) of a drawn tree; sep() draws one separator."""
    if isinstance(node[1], bytes):  # a leaf: (value, its bytes)
        return node
    kind, items = node
    if kind == "arr":
        vals, out = [], [b"["]
        for child in items:
            v, b = _render(child, sep)
            vals.append(v)
            out += [sep(), b]
        return vals, b"".join(out + [sep(), b"]"])
    d, out = {}, [b"<<"]
    for key, child in items:
        v, b = _render(child, sep)
        d[key.decode("latin-1")] = v
        out += [sep(), _pdf_name(key), sep(), b]
    return d, b"".join(out + [sep(), b">>"])


def _typed(v):
    # structural equality that also tells True from 1, Ref from tuple, Name from str
    if isinstance(v, dict):
        return ("dict", sorted((k, _typed(x)) for k, x in v.items()))
    if isinstance(v, list):
        return ("list", [_typed(x) for x in v])
    return (type(v).__name__, v)


@settings(max_examples=300, deadline=None)
@given(st.recursive(_leaf, _containers, max_leaves=25), st.data())
def test_parse_value_round_trip(tree, data):
    sep = lambda: data.draw(st.sampled_from(_SEPS))  # noqa: E731
    value, text = _render(tree, sep)
    lead = sep()
    buf = lead + text + data.draw(st.sampled_from([b"", b" ", b"\nendobj", b" >>"]))
    got, end = pm.parse_value(buf, 0)
    assert end == len(lead) + len(text)
    assert _typed(got) == _typed(value)


def test_deep_nesting_raises_pdferror():
    depth = pm._MAX_NESTING
    assert pm.parse_value(b"[" * depth + b"]" * depth, 0)[1] == 2 * depth
    for buf in (b"[" * 5000 + b"]" * 5000,
                b"<< /A " * 3000 + b"1" + b" >>" * 3000,
                b"[" * (depth + 1) + b"]" * (depth + 1)):
        with pytest.raises(pm.PdfError, match="nested deeper"):
            pm.parse_value(buf, 0)


def _classic_pdf(dicts, content=b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (deep page) Tj ET"):
    # objects 1..k from ``dicts`` (object 1 the catalog), then the one
    # page's content stream and font
    from b_pdf_parser_spark.pdfwriter import _emit_classic, _stream_obj

    n = len(dicts)
    objs = {k + 1: body.replace(b"CONTENT", b"%d 0 R" % (n + 1)).replace(b"FONT", b"%d 0 R" % (n + 2))
            for k, body in enumerate(dicts)}
    objs[n + 2] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    return _emit_classic(objs, {n + 1: _stream_obj(b"<< >>", content, False)})


_LEAF_PAGE = b"<< /Type /Page /Contents CONTENT /Resources << /Font << /F1 FONT >> >> >>"


def test_deep_array_in_catalog_is_an_error_row():
    from b_pdf_parser_spark.operators.extract import _extract_one

    deep = b"[" * 5000 + b"]" * 5000
    data = _classic_pdf([b"<< /Type /Catalog /Pages 2 0 R /Deep " + deep + b" >>",
                         b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>", _LEAF_PAGE])
    row = _extract_one("u", data)
    assert row["kind"] == "error" and row["error"].startswith("pdf:"), row["error"]


def test_deep_page_tree_walks_without_recursion():
    from b_pdf_parser_spark.operators.extract import _extract_one

    depth = 3000  # /Pages nodes 2..3001, each the only kid of the one before
    nodes = [b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % (k + 1) for k in range(2, depth + 2)]
    data = _classic_pdf([b"<< /Type /Catalog /Pages 2 0 R >>"] + nodes + [_LEAF_PAGE])
    row = _extract_one("u", data)
    assert row["kind"] == "pdf", row["error"]
    assert row["text"] == "deep page\n\n"


def test_page_tree_order_inheritance_and_cycles():
    # document order depth-first; /MediaBox inherited; a kid listed twice and
    # a /Kids entry pointing back at the root are walked once
    data = _classic_pdf([
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /MediaBox [0 0 9 9] /Kids [3 0 R 5 0 R 3 0 R 2 0 R] /Count 3 >>",
        b"<< /Type /Pages /Kids [4 0 R 6 0 R] /Count 2 >>",
        b"<< /Type /Page /Contents CONTENT /N 1 >>",
        b"<< /Type /Page /Contents CONTENT /N 3 /MediaBox [0 0 1 1] >>",
        b"<< /Type /Page /Contents CONTENT /N 2 >>",
    ])
    pages = pm.PdfDocument(data).pages()
    assert [p["N"] for p in pages] == [1, 2, 3]
    assert [p["MediaBox"] for p in pages] == [[0, 0, 9, 9], [0, 0, 9, 9], [0, 0, 1, 1]]


# ---- filters ----------------------------------------------------------------

def test_png_up_predictor_roundtrip():
    rows = [bytes([i, i + 1, i + 2, i + 3, i + 4]) for i in range(0, 40, 5)]
    filt = bytearray()
    prev = bytes(5)
    for r in rows:
        filt.append(2)
        filt += bytes((r[k] - prev[k]) & 0xFF for k in range(5))
        prev = r
    out = pm._apply_png_predictor(bytes(filt), columns=5, colors=1, bpc=8)
    assert out == b"".join(rows)


def test_all_png_filter_types():
    # filter type 0 (None) and 1 (Sub)
    data = bytes([0, 10, 20, 30]) + bytes([1, 5, 5, 5])
    out = pm._apply_png_predictor(data, columns=3, colors=1, bpc=8)
    assert out == bytes([10, 20, 30, 5, 10, 15])  # Sub adds the left byte


def test_predictor_parameters_below_one_raise_pdferror():
    # /DecodeParms come from the file: a negative /Columns, /Colors or
    # /BitsPerComponent must stay inside the walk's PdfError contract
    # (it used to surface as ValueError or IndexError)
    data = bytes(range(48))
    for parms in ({"Predictor": 12, "Columns": -3},
                  {"Predictor": 2, "Columns": -3, "Colors": -2},
                  {"Predictor": 15, "BitsPerComponent": -8}):
        with pytest.raises(pm.PdfError):
            pm._apply_predictor(data, parms)
    # TIFF Predictor 2 is the PNG Sub filter per row; a short tail stays as is
    out = pm._apply_predictor(bytes([1, 2, 3, 4, 9]), {"Predictor": 2, "Columns": 2})
    assert out == bytes([1, 3, 3, 7, 9])


def test_flate_robustness():
    assert pm._flate(zlib.compress(b"hello")) == b"hello"
    with pytest.raises(pm.PdfError):
        pm._flate(b"not zlib data")
    # salvage paths: trailing bytes, a truncated stream, raw deflate
    z = zlib.compress(b"hello world" * 50)
    assert pm._flate(z + b"\r\ngarbage") == b"hello world" * 50
    part = pm._flate(z[:-8])
    assert part and (b"hello world" * 50).startswith(part)
    raw = zlib.compressobj(wbits=-15)
    assert pm._flate(raw.compress(b"raw") + raw.flush()) == b"raw"


def _stream_pdf(filters: bytes, raw: bytes) -> bytes:
    """One page whose content stream is ``raw`` under ``/Filter filters``."""
    return (
        b"%%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Filter %s /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n%%%%EOF\n" % (filters, len(raw), raw)
    )


def _bomb_pdf(n: int) -> bytes:
    bomb = zlib.compress(bytes(n), 9)
    assert n >= 1000 * len(bomb)
    return _stream_pdf(b"/FlateDecode", bomb)


def test_flate_output_capped(monkeypatch):
    monkeypatch.setattr(pm, "_FLATE_MAX", 1 << 16)
    bomb = zlib.compress(bytes(1 << 21), 9)  # 2 MiB of zeros, >1000:1
    with pytest.raises(pm.PdfError, match="inflates past"):
        pm._flate(bomb)
    # exactly at the cap still decodes
    assert pm._flate(zlib.compress(bytes(1 << 16))) == bytes(1 << 16)


def _lzw_codes(codes):
    # MSB-first 9→12-bit LZWDecode packing with EarlyChange 1, one table
    # entry per code after the first (no clear codes)
    acc = nbits = 0
    out = bytearray()
    size, width = 258, 9
    for k, code in enumerate(codes):
        acc, nbits = (acc << width) | code, nbits + width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1
        size += k > 0 and size < 4096
        if size + 1 >= 1 << width and width < 12:
            width += 1
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_output_capped(monkeypatch):
    # a run of zeros: each code repeats the newest entry, one byte longer,
    # until the table is full; then code 4095 repeats the longest entry
    codes = [0] + list(range(258, 4096)) + [4095] * 5000
    size = sum(range(1, 3840)) + 3839 * 5000
    bomb = _lzw_codes(codes)
    assert len(bomb) < 14000 and size > 1500 * len(bomb)
    monkeypatch.setattr(pm, "_FLATE_MAX", 1 << 16)
    with pytest.raises(pm.PdfError, match="decodes past"):
        pm._lzw(bomb)
    # under the cap it decodes; the full table stops growing at 4,096
    monkeypatch.setattr(pm, "_FLATE_MAX", size)
    assert pm._lzw(bomb) == bytes(size)


def test_runlength_chain_output_capped(monkeypatch):
    # 0x81 repeats the next byte 128 times, so bytes of 0x81 decode to 64
    # times as many 0x81: each stage of a RunLength /Filter chain grows them
    # 64-fold (20 B → 1,280 → 81,920 → 5.2 MB → ...)
    bomb = b"\x81" * 20
    assert pm._runlength(pm._runlength(bomb)) == b"\x81" * 81920
    monkeypatch.setattr(pm, "_FLATE_MAX", 1 << 16)
    with pytest.raises(pm.PdfError, match="decodes past"):
        pm.extract_pdf_text(_stream_pdf(b"[" + b"/RunLengthDecode " * 3 + b"]", bomb))
    # exactly at the cap still decodes
    assert pm._runlength(b"\x81\x00" * 512) == bytes(1 << 16)


def test_flate_bomb_is_an_error_row(monkeypatch):
    import pandas as pd

    from b_pdf_parser_spark.operators.extract import make_extract_batch

    monkeypatch.setattr(pm, "_FLATE_MAX", 1 << 16)
    frame = pd.DataFrame({"url": ["http://x/bomb.pdf"], "html": [_bomb_pdf(1 << 21)],
                          "warc_ts": [None], "partition_id": [0]})
    (batch,) = list(make_extract_batch()(iter([frame])))
    row = batch.to_pylist()[0]
    assert row["kind"] == "error" and "inflates past" in row["error"]


# ---- document structure -----------------------------------------------------

@pytest.mark.parametrize("xref_stream", [False, True])
@pytest.mark.parametrize("td_ops", [False, True])
@pytest.mark.parametrize("compress", [False, True])
def test_roundtrip_all_variants(xref_stream, td_ops, compress):
    lines = [["alpha beta", "gamma (delta)", "1.234.567,89"], ["page two"]]
    pdf = pdf_from_lines(lines, xref_stream=xref_stream, td_ops=td_ops, compress=compress)
    pages = pm.extract_pdf_pages(pdf)
    assert pages == ["alpha beta\ngamma (delta)\n1.234.567,89\n", "page two\n"]
    assert pm.extract_pdf_text(pdf) == (
        "alpha beta\ngamma (delta)\n1.234.567,89\n\npage two\n\n"
    )


def test_xref_recovery_from_corrupt_table():
    pdf = pdf_from_lines([["recovered text"]])
    # smash the startxref offset → forces brute-force object scan
    broken = pdf.replace(b"startxref", b"startxrEF", 1)
    assert pm.extract_pdf_text(broken) == "recovered text\n\n"


def test_type0_roundtrip_all_variants():
    lines = [["alpha beta", "gamma (delta)", "1.234.567,89"], ["page two"]]
    for xs in (False, True):
        for td in (False, True):
            pdf = pdf_from_lines(lines, type0=True, xref_stream=xs, td_ops=td)
            assert pm.extract_pdf_pages(pdf) == [
                "alpha beta\ngamma (delta)\n1.234.567,89\n", "page two\n"
            ], (xs, td)
    # the payload carries no literal text — decode must walk the CMap
    raw = pdf_from_lines(lines, type0=True, compress=False)
    assert b"(alpha" not in raw and b"Identity-H" in raw


def test_tounicode_cmap_parse_forms():
    # bfchar, incremented bfrange, and array-form bfrange (PDF 1.7 §9.10.3)
    cmap_src = (
        b"/CIDInit /ProcSet findresource begin begincmap\n"
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"2 beginbfchar <0001> <0041> <0002> <00E9> endbfchar\n"
        b"1 beginbfrange <0010> <0012> <0061> endbfrange\n"
        b"1 beginbfrange <0020> <0021> [<0058> <005A>] endbfrange\n"
        b"endcmap end"
    )
    cmap, nbytes = pm._parse_tounicode(cmap_src)
    assert nbytes == 2
    assert cmap[0x0001] == "A" and cmap[0x0002] == "é"
    assert cmap[0x0010] == "a" and cmap[0x0011] == "b" and cmap[0x0012] == "c"
    assert cmap[0x0020] == "X" and cmap[0x0021] == "Z"


def test_type0_identity_fallback_without_tounicode():
    # unmapped CIDs decode as identity codepoints (Identity-H convention)
    dec = pm._Type0Decoder({}, 2)
    assert dec(b"\x00A\x00B") == "AB"
    dec2 = pm._Type0Decoder({0x41: "Z"}, 2)
    assert dec2(b"\x00A\x00B") == "ZB"
    # an unmapped surrogate-range code has no codepoint: U+FFFD, on the
    # generic path (a map key past U+D800) as on the fast one
    for cmap in ({}, {0xE000: "x"}):
        assert pm._Type0Decoder(cmap, 2)(b"\xd8\x00\x00A") == "\ufffdA"


def test_surrogate_glyph_names_fall_back_to_the_code():
    # a lone surrogate in a span would make the row unencodable for Arrow
    assert pm._glyph_char("uniD800", 65) == "A"
    assert pm._glyph_char("uDFFF", 66) == "B"
    assert pm._glyph_char("u110000", 67) == "C"
    assert pm._glyph_char("uni20AC", 68) == "€"


def test_pages_and_tables_roundtrip():
    # a page mixing single-span header lines, a 6-cell table (header + rows)
    # and single-span summary lines: the table is detected as cell rows, the
    # page text still reads in order with space-joined cells
    lines = [
        "No. Rekening",
        ": 1234567890123",
        ["Tanggal Transaksi", "Uraian Transaksi", "Teller", "Debet", "Kredit", "Saldo"],
        ["01/01/24 10:00:00", "TRANSFER MASUK", "1234567", "0,00", "5.000,00", "1.000,00"],
        ["02/01/24 11:30:00", "TARIK TUNAI ATM", "7654321", "2.500,00", "0,00", "998,00"],
        "Saldo Awal",
        "1.000,00",
    ]
    pdf = pdf_from_lines([lines])
    pages, tables = pm.extract_pdf_pages_and_tables(pdf)
    assert len(tables) == 1 and len(tables[0]) == 3
    assert tables[0][1] == ["01/01/24 10:00:00", "TRANSFER MASUK", "1234567",
                            "0,00", "5.000,00", "1.000,00"]
    assert "No. Rekening\n" in pages[0]
    assert "01/01/24 10:00:00 TRANSFER MASUK 1234567 0,00 5.000,00 1.000,00\n" in pages[0]
    # text-only API unchanged (no tables in its output)
    assert pm.extract_pdf_pages(pdf) == pages


def test_tables_need_min_rows_and_cols():
    # a lone 6-cell line (no second row) and 5-cell lines are not tables
    pdf = pdf_from_lines([[
        ["a", "b", "c", "d", "e", "f"],
        "plain line",
        ["1", "2", "3", "4", "5"],
        ["6", "7", "8", "9", "10"],
    ]])
    _, tables = pm.extract_pdf_pages_and_tables(pdf)
    assert tables == []


def test_bare_lf_xref_entries():
    # some writers end classic-xref entries with a bare \n (19-byte stride);
    # the parser must not drift 1 byte per entry (nor leak a ValueError)
    pdf = pdf_from_lines([["bare lf xref"]])
    head, sep, tail = pdf.partition(b"xref\n0 ")
    bare = head + sep + tail.replace(b" n \n", b" n\n").replace(b" f \n", b" f\n")
    assert bare != pdf
    assert pm.extract_pdf_text(bare) == "bare lf xref\n\n"


def test_same_line_spans_sorted_by_x():
    pdf = build_pdf([[(200.0, 700.0, "right"), (72.0, 700.0, "left")]])
    assert pm.extract_pdf_text(pdf) == "left right\n\n"


def test_line_y_clustering():
    pdf = build_pdf([[(72.0, 700.0, "a"), (120.0, 699.0, "b"), (72.0, 680.0, "c")]])
    assert pm.extract_pdf_text(pdf) == "a b\nc\n\n"


def test_errors_raise_pdferror():
    for payload in (b"", b"%PDF-1.4 mock PDF content", b"\x00" * 64,
                    pdf_from_lines([["x"]])[:150]):
        with pytest.raises(pm.PdfError):
            pm.extract_pdf_text(payload)


# ---- property tests ---------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=2048))
def test_never_raises_anything_but_pdferror(data):
    try:
        pm.extract_pdf_text(b"%PDF-" + data)
    except pm.PdfError:
        pass


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.lists(st.text(st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=40),
                 min_size=1, max_size=8),
        min_size=1, max_size=3,
    ),
    st.booleans(),
    st.booleans(),
)
def test_writer_parser_roundtrip_property(pagelines, xs, td):
    # strip() because layout join collapses leading/trailing whitespace
    pdf = pdf_from_lines(pagelines, xref_stream=xs, td_ops=td)
    got = pm.extract_pdf_pages(pdf)
    expected = [
        "".join(" ".join(ln.split()) + "\n" for ln in page if ln.split()) for page in pagelines
    ]
    got_norm = ["".join(" ".join(l.split()) + "\n" for l in p.splitlines() if l.split()) for p in got]
    assert got_norm == expected


def test_utf16be_text_string():
    from b_pdf_parser_spark.pdfwriter import build_pdf
    # hand-assemble a hex UTF-16BE string payload through the hex-string path
    content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm <FEFF0048006900210020D83DDE00> Tj ET"
    spans = pm._extract_spans(content)
    assert spans[0].text == "Hi! \U0001f600"  # surrogate pair decoded


# each fused _CTOK_RE idiom (with the alternative it must match) and its
# generic spelling: no fused alternative reads a comment line between
# operands and operator, so the "%c" lines force the token-by-token path
_FUSED_VS_GENERIC = [
    (b"1 0 0 1 72 700 Tm (Hi) Tj", "tmtjs", b"1 0 0 1 72 700 %c\nTm (Hi) %c\nTj"),
    (b"1 0 0 1 72 700 Tm <4869> Tj", "tmhs", b"1 0 0 1 72 700 %c\nTm <4869> %c\nTj"),
    (b"1 0 0 1 72 700 Tm", "tm6", b"1 0 0 1 72 700 %c\nTm"),
    (b"10 -14 Td (Hi) Tj", "tdjs", b"10 -14 %c\nTd (Hi) %c\nTj"),
    (b"10 -14 Td", "td2", b"10 -14 %c\nTd"),
    (b"<4869> Tj", "tjh", b"<4869> %c\nTj"),
    (b"(Hi) Tj", "tjs", b"(Hi) %c\nTj"),
    (b"(a\\(b\\) \\101\\\nc) '", "tqs", b"(a\\(b\\) \\101\\\nc) %c\n'"),
    (b"2 0 0 2 10 10 cm", "cm6", b"2 0 0 2 10 10 %c\ncm"),
    (b"/F2 10 Tf", "tfn", b"/F2 10 %c\nTf"),
]


@pytest.mark.parametrize("fused,alt,generic", _FUSED_VS_GENERIC,
                         ids=[a for _, a, _ in _FUSED_VS_GENERIC])
def test_fused_and_generic_spellings_agree(fused, alt, generic):
    assert pm._CTOK_RE.match(fused).lastgroup == alt
    fonts = {"F2": pm._Type0Decoder({0x4869: "Z"}, 2)}  # a Type0 font: "Hi" shows as "Z"

    def page(snippet):
        # around the snippet: leading for "'", a show after bare moves and
        # font switches, and a cm inside q/Q that must not outlive the Q
        return (b"BT /F1 10 Tf 14 TL 1 0 0 1 72 720 Tm ET q BT " + snippet
                + b" [(Hi)] TJ ET Q BT 1 0 0 1 72 600 Tm (after) Tj ET")

    spans = [[(s.x, s.y, s.text, s.seq) for s in pm._extract_spans(page(c), fonts)]
             for c in (fused, generic)]
    assert spans[0] == spans[1]
    assert list(pm._content_ops(fused)) == list(pm._content_ops(generic))


def test_unterminated_string_ends_the_content_stream():
    # an unterminated '(' runs to the end of the stream, so the stream is
    # scanned once: each stray '(' used to rescan the rest of it (~5 s here)
    import time

    content = b"BT 1 0 0 1 5 5 Tm (kept) Tj " + b"( " * 2000 + b"(x) Tj " * 2000 + b"ET"
    t0 = time.perf_counter()
    spans = pm._extract_spans(content)
    assert time.perf_counter() - t0 < 1.0
    assert [(s.x, s.y, s.text) for s in spans] == [(5.0, 5.0, "kept")]
    with pytest.raises(pm.PdfError, match="unterminated literal string"):
        pm.parse_value(b"( " * 2000 + b"(x) Tj " * 2000, 0)


def test_bogus_encrypt_dict_rejected():
    # /Encrypt pointing at a nonexistent object: still PdfError, not garbage
    pdf = pdf_from_lines([["secret"]])
    broken = pdf.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    with pytest.raises(pm.PdfError, match="Encrypt"):
        pm.extract_pdf_text(broken)


def test_xy_cut_two_column_reading_order():
    # independent baselines left/right → column split, left read first
    left = [(60.0, 760.0 - 14 * i, f"left {i} alpha beta") for i in range(5)]
    right = [(330.0, 753.0 - 14 * i, f"right {i} gamma delta") for i in range(5)]
    pdf = build_pdf([left + right])
    lines = pm.extract_pdf_text(pdf).strip().split("\n")
    assert lines == [f"left {i} alpha beta" for i in range(5)] + [
        f"right {i} gamma delta" for i in range(5)
    ]


def test_xy_cut_does_not_split_tables():
    # shared baselines on both sides of the gutter ⇒ table, NOT columns:
    # rows must stay joined left-to-right (and still be detected as a table)
    rows = [
        ["Tanggal Transaksi", "Uraian Transaksi", "Teller", "Debet", "Kredit", "Saldo"],
        ["01/01/24 10:00:00", "TRANSFER MASUK", "1234567", "0,00", "5.000,00", "1.000,00"],
        ["02/01/24 11:30:00", "TARIK TUNAI ATM", "7654321", "2.500,00", "0,00", "998,00"],
        ["03/01/24 12:00:00", "SETORAN TUNAI", "1111111", "0,00", "1.000,00", "1.998,00"],
    ]
    pdf = pdf_from_lines([rows])
    pages, tables = pm.extract_pdf_pages_and_tables(pdf)
    assert len(tables) == 1 and len(tables[0]) == 4
    assert pages[0].splitlines()[1].startswith("01/01/24 10:00:00 TRANSFER MASUK")


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=1024))
def test_tounicode_parser_total_on_garbage(data):
    # the CMap parser must be total: any bytes → (dict, int), no exceptions
    cmap, nbytes = pm._parse_tounicode(data)
    assert isinstance(cmap, dict) and nbytes >= 1


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=64), st.integers(min_value=1, max_value=4))
def test_type0_decoder_total_on_garbage(raw, nbytes):
    out = pm._Type0Decoder({1: "A", 0x20AC: "€"}, nbytes)(raw)
    assert isinstance(out, str)


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=2048))
def test_pages_and_tables_never_raises_anything_but_pdferror(data):
    try:
        pm.extract_pdf_pages_and_tables(b"%PDF-" + data)
    except pm.PdfError:
        pass


# -- encryption (standard security handler, §7.6.3) -------------------------


def _enc_sample(**kw):
    from b_pdf_parser_spark.pdfwriter import pdf_from_lines

    lines = [["Account Statement", "Account Number: 777-IDR",
              "01.02.2023 10:11 Payment to ACME (cafe) 100,50 200,00"]]
    return pdf_from_lines(lines, **kw)


@pytest.mark.parametrize("mode", [True, "rc4-40"])
@pytest.mark.parametrize("xs", [False, True])
def test_encrypted_roundtrip_matches_plaintext(mode, xs):
    plain = pm.extract_pdf_text(_enc_sample(xref_stream=xs))
    got = pm.extract_pdf_text(_enc_sample(xref_stream=xs, encrypt=mode))
    assert got == plain
    assert "Account Number" in got


def test_encrypted_strings_not_in_cleartext_on_disk():
    # the point of the feature: without decryption the text is unreadable
    data = _enc_sample(encrypt=True, compress=False)
    assert b"Account Statement" not in data
    assert pm.extract_pdf_text(data).startswith("Account Statement")


def test_encrypted_wrong_user_password_raises():
    data = _enc_sample(encrypt=True)
    # corrupt the /U validator in place (same length → offsets stay valid)
    i = data.find(b"/U (")
    tampered = data[: i + 4] + bytes([data[i + 4] ^ 0xFF]) + data[i + 5 :]
    with pytest.raises(pm.PdfError, match="password"):
        pm.extract_pdf_text(tampered)


def test_encrypted_aes_rejected_loud():
    data = _enc_sample(encrypt=True).replace(b"/V 2 /R 3 /Length 128", b"/V 4 /R 4 /Length 128", 1)
    with pytest.raises(pm.PdfError, match="AES|unsupported"):
        pm.extract_pdf_text(data)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=3000), st.binary(min_size=1, max_size=16))
def test_encrypted_byte_splice_keeps_pdferror_contract(pos, junk):
    data = _enc_sample(encrypt=True, xref_stream=True)
    spliced = data[: pos % len(data)] + junk + data[pos % len(data) :]
    try:
        pm.extract_pdf_text(spliced)
    except pm.PdfError:
        pass


@pytest.mark.parametrize("old,new", [
    (b"/W [1 2 2]", b"/W [1 2R 2]"),  # a reference where /W wants a number
    (b"/Index [0 9]", b"/Index [03 9]"),  # shifted rows file stream 3 inside itself
    (b"/Index [0 9]", b"/Index [0 9] /Prev 99999999999999999999"),  # offset past C ssize_t
    (b"/Columns 5 >>", b"/Columns 99999999999999999999 >>"),  # a predictor row past memory
    (b"/DecodeParms << /Predictor 12 /Columns 5 >>", b"/DecodeParms 1.5"),
], ids=["w_ref", "objstm_cycle", "huge_prev", "huge_columns", "number_parms"])
def test_corrupt_xref_stream_fields_raise_pdferror(old, new):
    # splices the fuzz tests reached: each used to escape the walk as
    # TypeError, RecursionError, OverflowError or AttributeError
    data = _enc_sample(encrypt=True, xref_stream=True)
    assert data.count(old) == 1
    try:
        pm.extract_pdf_text(data.replace(old, new))
    except pm.PdfError:
        pass


@pytest.mark.parametrize("old,new", [
    (b"/P -1 >>", b"/P 99999999999 >>"),  # permissions past 32 bits
    (b"/Length 128", b"/Length /L"),  # a name where the key length wants a number
    (b"/Length 128", b"/Length [1]"),
], ids=["huge_permissions", "name_key_length", "array_key_length"])
def test_malformed_encryption_fields_raise_pdferror(old, new):
    # the classic-xref trailer still names /Encrypt after the offsets shift,
    # so the handler reads the bad field (it used to escape as struct.error,
    # ValueError or TypeError)
    data = _enc_sample(encrypt=True)
    assert data.count(old) == 1
    with pytest.raises(pm.PdfError, match="malformed encryption dictionary"):
        pm.extract_pdf_text(data.replace(old, new))


def test_long_digit_run_in_content_stream():
    # a Flate splice can leave thousands of hex digits bare: the run reads
    # as one number (an infinite float), and the fused matrix alternatives
    # must not retry every split of the run
    content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm " + b"7" * 6000 + b"> (ok) Tj ET"
    tree = [b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>", _LEAF_PAGE]
    assert pm.extract_pdf_text(_classic_pdf(tree, content)) == "ok\n\n"
    # a number past float range as a Tm coordinate puts its span at an
    # infinite y; beside two 4-line columns the column split once raised
    # OverflowError on it. The span has no place on the page and is dropped
    cols = b"".join(b"1 0 0 1 %d %d Tm (%s%d) Tj " % (x, y - 14 * k, side, k)
                    for x, y, side in ((60, 760, b"L"), (330, 753, b"R"))
                    for k in range(4))
    content = (b"BT /F1 10 Tf " + cols + b"1 0 0 1 10 " + b"1" * 400
               + b".0 Tm (far) Tj ET")
    assert pm.extract_pdf_text(_classic_pdf(tree, content)) == (
        "L0\nL1\nL2\nL3\nR0\nR1\nR2\nR3\n\n")


def test_odd_length_tounicode_hex_raises_nothing_but_pdferror():
    # a NUL spliced into a /ToUnicode bfrange destination (odd-length hex)
    # used to escape the walk as ValueError from bytes.fromhex
    from b_pdf_parser_spark.sources.pages import formula_statement_pdf

    data = formula_statement_pdf(10)
    try:
        pm.extract_pdf_text(data[:964] + b"\x00" + data[964:])
    except pm.PdfError:
        pass


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=0, max_value=159),
    st.integers(min_value=0, max_value=5000),
    st.binary(min_size=1, max_size=16),
)
def test_formula_hazard_splice_keeps_pdferror_contract(i, pos, junk):
    # splice garbage into the hazard-rotated formula docs (ObjStm,
    # Type0, RC4-40/128, AES-128, inline images, /Differences, image
    # XObjects and their intersections): corruption may only surface as
    # PdfError — any other exception escaping the walk would crash a
    # 10^12-doc batch instead of landing in the error column
    from b_pdf_parser_spark.sources.pages import formula_statement_pdf

    data = formula_statement_pdf(i)
    spliced = data[: pos % len(data)] + junk + data[pos % len(data) :]
    try:
        pm.extract_pdf_text(spliced)
    except pm.PdfError:
        pass


# syntax bytes weigh most in the seeded splice scan: they are what reaches
# the lexer, the xref and object-stream readers and the page-tree walk
_SPLICE_JUNK = [b"[", b"]", b"<<", b">>", b"R", b" R", b"0", b"1", b"9", b" ", b"(", b")",
                b"%", b"\x00", b"/", b"<", b">", b"-", b"."]


def test_seeded_syntax_splice_scan_raises_only_pdferror():
    # a fixed-seed splice scan over the hazard-rotated formula docs and an
    # RC4 xref-stream doc: mostly short runs of syntax bytes, now and then a
    # long run of one (deep nesting, long digit runs). Seeded, so a failure
    # here reproduces; the Hypothesis splice tests above only sample
    import random

    from b_pdf_parser_spark.sources.pages import formula_statement_pdf

    docs = [formula_statement_pdf(i) for i in range(160)]
    docs.append(_enc_sample(encrypt=True, xref_stream=True))
    rng = random.Random(20261018)
    escapes = []
    for _ in range(12_000):
        data = docs[rng.randrange(len(docs))]
        if rng.random() < 0.05:
            junk = rng.choice(_SPLICE_JUNK) * rng.randint(50, 3000)
        else:
            junk = b"".join(rng.choice(_SPLICE_JUNK) if rng.random() < 0.8
                            else bytes([rng.randrange(256)]) for _ in range(rng.randint(1, 16)))
        pos = rng.randrange(len(data))
        try:
            pm.extract_pdf_text(data[:pos] + junk + data[pos:])
        except pm.PdfError:
            pass
        except Exception as e:  # noqa: BLE001 - the contract under test
            escapes.append((docs.index(data), pos, junk[:20], repr(e)[:80]))
    assert not escapes, escapes[:5]


def test_formula_aes256_stratum_text_identical():
    # the flag-gated V5/R6 upgrade (extract_formula's i%80==3 docs) must
    # not change extracted text — encryption alters bytes on disk only —
    # and must really produce an /AESV3 R6 dictionary
    from b_pdf_parser_spark.sources.pages import formula_statement_pdf

    for i in (3, 83):
        clean = formula_statement_pdf(i, aes256=False)
        enc = formula_statement_pdf(i, aes256=True)
        assert b"/AESV3" in enc and b"/AESV3" not in clean
        assert pm.extract_pdf_text(enc) == pm.extract_pdf_text(clean)
    # non-stratum docs are byte-identical under the flag
    assert formula_statement_pdf(4, aes256=True) == formula_statement_pdf(4)


def test_aes_known_answer_vectors():
    # FIPS-197 Appendix C for all three key sizes: one block under a zero IV,
    # the shape of the writer's /Perms entry
    from b_pdf_parser_spark.pdfwriter import _aes_cbc_encrypt

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    vec = {
        "000102030405060708090a0b0c0d0e0f": "69c4e0d86a7b0430d8cdb78070b4c55a",
        "000102030405060708090a0b0c0d0e0f1011121314151617":
            "dda97ca4864cdfe06eaf70a0ec0d7191",
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f":
            "8ea2b7ca516745bfeafc49904b496089",
    }
    for k, c in vec.items():
        assert pm._aes_cbc_nopad_encrypt(bytes.fromhex(k), bytes(16), pt).hex() == c
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    iv = bytes(range(16))
    for n in (0, 1, 15, 16, 17, 100):
        data = bytes((i * 7) % 256 for i in range(n))
        assert pm._aes_cbc_decrypt(key, _aes_cbc_encrypt(key, iv, data)) == data
    with pytest.raises(ValueError):
        pm._aes_cbc_nopad_encrypt(key, iv, b"x" * 17)  # not block-aligned


def test_rc4_known_answer_vectors():
    # RFC 6229 §2, keystream at offset 0 (RC4 of zero bytes is the keystream)
    vec = {
        "0102030405": "b2396305f03dc027ccc3524a0a1118a8",
        "0102030405060708090a0b0c0d0e0f10": "9ac7cc9a609d1ef7b2932899cde41b97",
    }
    for k, ks in vec.items():
        assert pm._rc4(bytes.fromhex(k), bytes(16)).hex() == ks


def test_rc4_every_pdf_key_length():
    # PDF RC4 keys run 5..16 bytes in single steps (file key /Length/8,
    # object key +5); compare every length against the textbook algorithm
    import random

    def ref_rc4(key, data):
        S = list(range(256))
        j = 0
        for i in range(256):
            j = (j + S[i] + key[i % len(key)]) & 0xFF
            S[i], S[j] = S[j], S[i]
        out = bytearray()
        i = j = 0
        for c in data:
            i = (i + 1) & 0xFF
            j = (j + S[i]) & 0xFF
            S[i], S[j] = S[j], S[i]
            out.append(c ^ S[(S[i] + S[j]) & 0xFF])
        return bytes(out)

    rng = random.Random(11)
    for n in range(1, 33):
        key = bytes(rng.randrange(256) for _ in range(n))
        data = bytes(rng.randrange(256) for _ in range(300))
        assert pm._rc4(key, data) == ref_rc4(key, data), n
    # /Length 0 derives an empty key: a PdfError, never a call into OpenSSL
    data = _enc_sample(encrypt=True)
    zero = data.replace(b"/V 2 /R 3 /Length 128", b"/V 2 /R 3 /Length   0", 1)
    assert zero != data
    with pytest.raises(pm.PdfError, match="RC4 key of 0 bytes"):
        pm.extract_pdf_text(zero)


@pytest.mark.parametrize("mode", ["aes-128", "aes-256"])
def test_aes_encrypted_roundtrip_matches_plaintext(mode):
    plain = pm.extract_pdf_text(_enc_sample(xref_stream=True))
    got = pm.extract_pdf_text(_enc_sample(xref_stream=True, encrypt=mode))
    assert got == plain


def test_aes256_wrong_user_password_raises():
    data = _enc_sample(encrypt="aes-256")
    i = data.find(b"/U (")
    tampered = data[: i + 4] + bytes([data[i + 4] ^ 0xFF]) + data[i + 5 :]
    with pytest.raises(pm.PdfError, match="password"):
        pm.extract_pdf_text(tampered)


# -- LZW / RunLength filters (§7.4.4 / §7.4.5) -------------------------------


def _lzw_encode(data: bytes) -> bytes:
    """Minimal TIFF-variant LZW encoder (EarlyChange=1) for roundtrip tests."""
    codes = []
    width = 9

    def emit(code):
        codes.append((code, width))

    d = {bytes([i]): i for i in range(256)}
    nxt = 258
    emit(256)
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in d:
            w += c
            continue
        emit(d[w])
        d[w + c] = nxt
        nxt += 1
        if nxt >= (1 << width) - 1 and width < 12:
            width += 1
        w = c
    if w:
        emit(d[w])
    emit(257)
    acc = nbits = 0
    out = bytearray()
    for code, wd in codes:
        acc = (acc << wd) | code
        nbits += wd
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_spec_known_answer():
    # PDF 1.7 §7.4.4.2 example: '-----A---B' ⇒ codes 256 45 258 258 65 259 66 257
    codes = [256, 45, 258, 258, 65, 259, 66, 257]
    acc = nbits = 0
    out = bytearray()
    for c in codes:
        acc = (acc << 9) | c
        nbits += 9
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    assert pm._lzw(bytes(out)) == b"-----A---B"


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=600))
def test_lzw_roundtrip(data):
    assert pm._lzw(_lzw_encode(data)) == data


def test_runlength_decode():
    # 2 literals, a 4-run of 'x', EOD, trailing junk ignored
    enc = bytes([1]) + b"ab" + bytes([253]) + b"x" + bytes([128]) + b"IGNORED"
    assert pm._runlength(enc) == b"abxxxx"
    assert pm._runlength(b"") == b""


def test_decode_stream_lzw_and_runlength_filters():
    content = b"BT /F1 10 Tf 1 0 0 1 72 700 Tm (lzw works) Tj ET"
    lzw_pdf = (
        b"%%PDF-1.3\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Filter /LZWDecode /Length %d >>\nstream\n%s\nendstream\nendobj\n"
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
        b"trailer\n<< /Root 1 0 R >>\n"
    ) % (len(_lzw_encode(content)), _lzw_encode(content))
    # no xref at all → exercises the rebuild path too
    assert pm.extract_pdf_text(lzw_pdf) == "lzw works\n\n"
    rl = bytes([len(content) - 1]) + content + bytes([128])
    rl_pdf = lzw_pdf.replace(b"/Filter /LZWDecode /Length %d" % len(_lzw_encode(content)),
                             b"/Filter /RunLengthDecode /Length %d" % len(rl)).replace(
        b"stream\n" + _lzw_encode(content), b"stream\n" + rl)
    assert pm.extract_pdf_text(rl_pdf) == "lzw works\n\n"


def test_aes_bad_padding_raises():
    # a corrupted AES stream must land in the error column, not silently
    # decode to truncated/empty text (RC4/flate failures raise — AES should
    # match that contract)
    from b_pdf_parser_spark.pdfwriter import _aes_cbc_encrypt

    aes_cbc_decrypt = pm._aes_cbc_decrypt
    key = bytes(range(16))
    iv = bytes(16)
    ct = _aes_cbc_encrypt(key, iv, b"some text payload")
    assert aes_cbc_decrypt(key, ct) == b"some text payload"
    with pytest.raises(ValueError):
        aes_cbc_decrypt(key, ct[:-1] + bytes([ct[-1] ^ 0x5A]))  # broken pad
    with pytest.raises(ValueError):
        aes_cbc_decrypt(key, ct + b"x")  # not block-aligned
    # zero-length encrypted strings remain legal (writers emit them)
    assert aes_cbc_decrypt(key, b"") == b""
    assert aes_cbc_decrypt(key, iv) == b""
    # ...but a truncation INSIDE the IV is corruption, not emptiness —
    # it must fail loud like every other malformed AES payload
    for n in (1, 8, 15):
        with pytest.raises(ValueError):
            aes_cbc_decrypt(key, ct[:n])


def test_aes_v4_key_length_from_stdcf_only():
    # a V4 file may declare the key size only in the StdCF crypt filter
    # (/Length there is a BYTE count per spec); blanking the top-level
    # /Length with same-width spaces keeps every xref offset valid
    plain = pm.extract_pdf_text(_enc_sample())
    data = _enc_sample(encrypt="aes-128")
    marker = b"/V 4 /R 4 /Length 128"
    assert marker in data
    stripped = data.replace(marker, b"/V 4 /R 4            ", 1)
    assert len(stripped) == len(data)
    assert pm.extract_pdf_text(stripped) == plain


def test_inline_images_skipped_not_tokenized():
    # BI..ID..EI payloads are raw binary INSIDE the content stream; a
    # tokenizer that scans them would let a stray '(' swallow the stream or
    # fabricate text from pixel bytes spelling '(x) Tj'
    from b_pdf_parser_spark.pdfwriter import pdf_from_lines

    lines = [["Account Statement", "Account Number: 777-IDR",
              "01.02.2023 10:11 Payment to ACME (cafe) 100,50 200,00"]]
    plain = pm.extract_pdf_text(pdf_from_lines(lines))
    evil = (bytes(range(256))
            + b"(swallow) 1 0 0 1 5 5 Tm (phantom) Tj BT ET zzEIzz <be> Tj")
    for compress in (False, True):
        for enc in (False, "aes-128"):
            data = pdf_from_lines(
                lines, inline_images=[(0, evil), (0, b"\x00\x01EI9(")],
                compress=compress, encrypt=enc)
            assert pm.extract_pdf_text(data) == plain, (compress, enc)


def test_differences_encoding_roundtrip():
    # /Encoding /Differences carries chars outside latin-1 (€ “ ” — …) by
    # remapping byte codes to glyph names — decode must walk the table
    from b_pdf_parser_spark.pdfwriter import pdf_from_lines

    diffs = {128: "Euro", 129: "quotedblleft", 130: "quotedblright",
             131: "emdash", 132: "ellipsis", 200: "eacute", 201: "udieresis"}
    lines = [["Price update €99 “smart” punctuation — café über…",
              "Account Number: 777-IDR"]]
    for xs in (False, True):
        for enc in (False, "aes-128"):
            got = pm.extract_pdf_text(
                pdf_from_lines(lines, differences=diffs, xref_stream=xs, encrypt=enc))
            assert "€99" in got and "“smart”" in got and "café über…" in got
            assert "Account Number: 777-IDR" in got
    # uniXXXX glyph names resolve; unknown names fall back to the base code
    got = pm.extract_pdf_text(
        pdf_from_lines([["X€Y"]], differences={140: "uni20AC", 141: "bogusname"}))
    assert "X€Y" in got


def test_differences_remap_of_ascii_codes():
    # remapping codes ALREADY used by the text (digits, letters) means the
    # shown bytes differ from latin-1 — proves decode really uses the table
    from b_pdf_parser_spark.pdfwriter import pdf_from_lines

    diffs = {65: "zero", 48: "A"}  # swap 'A' and '0'
    data = pdf_from_lines([["A0A0 balance 100"]], differences=diffs, compress=False)
    assert b"(0A0A" in data  # bytes on the page are swapped...
    assert "A0A0 balance 100" in pm.extract_pdf_text(data)  # ...decode restores


def test_v4_toplevel_length_40_is_bits_not_bytes():
    # top-level /Length is defined in BITS; 40 is legal (RC4-40) and must
    # NOT be scaled by the StdCF bytes->bits heuristic
    plain = pm.extract_pdf_text(_enc_sample())
    data = _enc_sample(encrypt="rc4-40")
    assert b"/V 1 /R 2" in data or b"/Length 40" in data
    assert pm.extract_pdf_text(data) == plain
