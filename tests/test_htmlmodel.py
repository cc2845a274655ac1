"""HTML tokenizer/classifier tests (north-rule HTML path; FIXTURES.md §3)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from b_pdf_parser_spark.htmlmodel import extract_html_blocks, extract_html_text


def test_article_kept_boilerplate_dropped():
    html = (
        b"<html><head><title>T</title><script>x='<p>no</p>'</script></head><body>"
        b"<nav><a href='/'>a</a> <a href='/b'>b</a> <a href='/c'>c</a></nav>"
        b"<article><p>" + b"word " * 20 + b"</p></article>"
        b"<footer>copy <a href='/t'>terms</a></footer></body></html>"
    )
    text = extract_html_text(html)
    assert text == ("word " * 20).strip()
    blocks = extract_html_blocks(html)
    by_container = {b.container for b in blocks if not b.is_content}
    assert "nav" in by_container and "footer" in by_container


def test_entities_decoded():
    html = b"<article><p>A &amp; B &#39;q&#39; &lt;x&gt; &#x41; ok</p></article>"
    assert extract_html_text(html) == "A & B 'q' <x> A ok"


def test_script_style_comment_dropped():
    html = (
        b"<body><!-- <p>comment</p> --><style>p{}</style>"
        b"<script>if(a<b){'</div>'}</script>"
        b"<article><p>only this survives the sweep of raw text elements in "
        b"the final output of the extractor today</p></article></body>"
    )
    assert "comment" not in extract_html_text(html)
    assert "survives" in extract_html_text(html)


def test_link_density_rejects_link_farm():
    farm = b"<div>" + b" ".join(b'<a href="#%d">link%d</a>' % (i, i) for i in range(12)) + b"</div>"
    html = b"<body>" + farm + b"<article><p>" + b"real " * 18 + b"</p></article></body>"
    text = extract_html_text(html)
    assert "link1" not in text and "real" in text


def test_malformed_and_empty():
    assert extract_html_text(b"") == ""
    assert extract_html_text(b"<div><<p>broken") == ""  # short fragment, no content block
    # truncated tag at EOF must not raise
    extract_html_text(b"<article><p>x</p><div cla")


def test_word_counts_and_link_chars():
    html = b'<p>five words in this block</p><p><a href="x">linked text</a></p>'
    blocks = extract_html_blocks(html)
    assert blocks[0].n_words == 5 and blocks[0].link_chars == 0
    assert blocks[1].link_chars == len("linked text")


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=2048))
def test_never_raises(data):
    extract_html_text(data)


@settings(max_examples=40, deadline=None)
@given(st.text(max_size=500))
def test_never_raises_text(data):
    extract_html_text(data.encode("utf-8", "replace"))


def test_bom_handling():
    text = "<article><p>" + "words " * 20 + "</p></article>"
    utf16 = text.encode("utf-16")  # includes BOM
    assert "words" in extract_html_text(utf16)
    utf8_bom = b"\xef\xbb\xbf" + text.encode("utf-8")
    assert "words" in extract_html_text(utf8_bom)


def test_html5_named_entities_decoded():
    body = ("&eacute; &Eacute; &auml; &szlig; &alpha; &euro; &nbsp;x &bogusent; "
            "plus enough plain words here to be kept as the main content block "
            "for the classifier to score this paragraph highly")
    h = f"<html><body><article><p>{body}</p></article></body></html>".encode()
    from b_pdf_parser_spark.htmlmodel import extract_html_text
    text = extract_html_text(h)
    assert "\u00e9 \u00c9 \u00e4 \u00df \u03b1 \u20ac" in text
    assert " x" in text            # nbsp keeps the frozen plain-space mapping
    assert "&bogusent;" in text    # unknown names stay literal


def test_charset_meta_prescan_cp1252():
    from b_pdf_parser_spark.htmlmodel import _decode_html_bytes

    page = ('<html><head><meta charset="windows-1252"></head><body>'
            "<p>€99 — “smart”</p></body></html>").encode("cp1252")
    assert "€99" in _decode_html_bytes(page)
    # same bytes without the meta: utf-8 fails, cp1252 sniff still wins
    bare = page.replace(b'<meta charset="windows-1252">', b"")
    assert "€99" in _decode_html_bytes(bare)


def test_charset_precedence_bom_over_meta_over_sniff():
    from b_pdf_parser_spark.htmlmodel import _decode_html_bytes

    # BOM wins even when a meta declares something else
    s = '<html><head><meta charset="windows-1252"></head><body>héllo</body></html>'
    assert "héllo" in _decode_html_bytes("﻿".encode("utf-16") [:2] + s.encode("utf-16")[2:]) or \
           "héllo" in _decode_html_bytes(s.encode("utf-16"))
    # mis-declared meta (says cp1252, bytes are valid utf-8 with multibyte):
    # declared codec decodes *something*, so it is honored — the prescan is
    # syntactic, like browsers
    lying = ('<html><head><meta charset="utf-8"></head><body>'
             "<p>€ ok</p></body></html>").encode("cp1252")
    # utf-8 decode of the cp1252 euro byte fails -> falls through to sniff
    assert "€ ok" in _decode_html_bytes(lying)


def test_latin1_last_resort_never_fails():
    from b_pdf_parser_spark.htmlmodel import _decode_html_bytes

    junk = bytes(range(256))
    assert isinstance(_decode_html_bytes(junk), str)


def test_extract_html_tables_edge_cases():
    from b_pdf_parser_spark.htmlmodel import extract_html_tables

    h = b"""<table><tr><th>Date</th><th>Desc</th></tr>
    <tr><td>01/01/24</td><td>A &amp; B</td></tr>
    <tr><td>02/01/24<td>unclosed cells
    <tr><td><b>bold</b> text</td><td>y</td>
    </table>
    <table><tr><td>t2a</td><td><table><tr><td>inner</td></tr></table></td><td>t2b</td></tr></table>
    <table></table>
    <script>var x = "<table><tr><td>fake</td></tr></table>"</script>
    <table><tr><td>tail without close"""
    got = extract_html_tables(h)
    assert got[0] == [["Date", "Desc"], ["01/01/24", "A & B"],
                      ["02/01/24", "unclosed cells"], ["bold text", "y"]]
    assert [["inner"]] in got               # nested table is its own entry
    assert [["t2a", "", "t2b"]] in got      # ...and doesn't leak outward
    assert [["tail without close"]] in got  # truncated markup closed at EOF
    assert len(got) == 4                    # the empty table is omitted
    assert extract_html_tables(b"no tables here") == []


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=400))
def test_extract_html_tables_total(data):
    from b_pdf_parser_spark.htmlmodel import extract_html_tables

    out = extract_html_tables(data)
    assert isinstance(out, list)
    for t in out:
        for row in t:
            assert all(isinstance(c, str) for c in row)


def test_one_walk_feeds_blocks_and_tables():
    # a cell's text is both a block and a table cell; text between the
    # table tags reaches the blocks only
    from b_pdf_parser_spark.htmlmodel import extract_html_blocks_and_tables

    html = (b"<p>intro <b>bold</b></p><table>stray<tr><td>01/01/24</td>"
            b"<td><a href='/x'>A &amp; B</a></td></tr></table><p>tail")
    blocks, tables = extract_html_blocks_and_tables(html)
    assert [b.text for b in blocks] == ["intro bold", "stray", "01/01/24",
                                        "A & B", "tail"]
    assert blocks[3].link_chars == len("A & B")
    assert tables == [[["01/01/24", "A & B"]]]


def test_surrogate_entity_keeps_its_reference_text():
    # a surrogate code point is no character; Arrow cannot encode a lone
    # one, so a decoded &#xD800; once failed the whole extraction batch
    import pandas as pd

    from b_pdf_parser_spark.operators.extract import make_extract_batch

    html = b"<article><p>bad &#xD800; x &#55296;</p></article>"
    assert extract_html_blocks(html)[0].text == "bad &#xD800; x &#55296;"
    frame = pd.DataFrame({"url": ["http://x/s.html"], "html": [html],
                          "warc_ts": [None], "partition_id": [0]})
    (batch,) = list(make_extract_batch()(iter([frame])))
    (row,) = batch.to_pylist()
    assert row["kind"] == "html" and row["error"] is None


def test_tables_survive_unicode_case_length_changes():
    # İ before a <style> block once desynced the raw-text skip offsets,
    # mis-framing the following <table>
    html = ("<html><head><title>İŞ BANKASI İ</title><style>td{}</style>"
            "</head><body><table><tr><td>01/01/24</td><td>İstanbul</td></tr>"
            "</table></body></html>").encode("utf-8")
    from b_pdf_parser_spark.htmlmodel import extract_html_tables
    assert extract_html_tables(html) == [[["01/01/24", "İstanbul"]]]

