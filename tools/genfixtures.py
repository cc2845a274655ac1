"""Generate the frozen golden-fixture corpus (FIXTURES.md §4).

Writes, per document ``k``: input bytes (``k.pdf`` / ``k.html``),
``k.expected_text.txt`` (byte-identical extracted text),
``k.expected_meta.csv`` (``Field;Value`` contract of utils.py:428-444),
``k.expected_txns.csv`` (``Date;Description;User;Debit;Credit;Balance``
contract of utils.py:447-481), ``k.expected_verify.json``
(verify_turnover dict, utils.py:763-775).

Run once (``python tools/genfixtures.py``), hand-audit, commit. Goldens are
produced by OUR stack and frozen — every later engine change is diffed
byte-wise against them (SURVEY §7.4 risk 1). Deterministic: fixed seeds.
"""

from __future__ import annotations

import csv
import io
import json
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from b_pdf_parser_spark import fields  # noqa: E402
from b_pdf_parser_spark.htmlmodel import (  # noqa: E402
    extract_html_blocks_and_tables,
    extract_html_text,
)
from b_pdf_parser_spark.pdfmodel import extract_pdf_pages_and_tables  # noqa: E402
from b_pdf_parser_spark.pdfwriter import build_pdf, pdf_from_lines  # noqa: E402
from b_pdf_parser_spark.sources.pages import html_page, statement_lines  # noqa: E402

FIXDIR = Path(__file__).resolve().parent.parent / "tests" / "fixtures"


def metadata_csv(meta: dict) -> str:
    """Field;Value CSV, numbers normalized (S7 sink contract)."""
    buf = io.StringIO(newline="")
    w = csv.writer(buf, delimiter=";")
    w.writerow(["Field", "Value"])
    for k in fields.METADATA_KEYS:
        v = meta.get(k, "")
        w.writerow([k, fields.normalize_number(v) if v else ""])
    return buf.getvalue()


def transactions_csv(txns: list) -> str:
    """6-column CSV with headers even when empty (S8 sink contract)."""
    buf = io.StringIO(newline="")
    w = csv.writer(buf, delimiter=";")
    w.writerow(["Date", "Description", "User", "Debit", "Credit", "Balance"])
    for t in txns:
        w.writerow(
            [
                t.get("date", ""),
                t.get("description", ""),
                t.get("user", ""),
                fields.normalize_number(t.get("debit", "")),
                fields.normalize_number(t.get("credit", "")),
                fields.normalize_number(t.get("balance", "")),
            ]
        )
    return buf.getvalue()


def freeze_pdf(name: str, payload: bytes) -> None:
    (FIXDIR / f"{name}.pdf").write_bytes(payload)
    pages, tables = extract_pdf_pages_and_tables(payload)
    full = "".join(p + "\n" for p in pages)
    f = fields.document_fields("pdf", full, pages[0], tables, name)
    meta, txns, ver = f["metadata"], f["transactions"], f["verification"]
    (FIXDIR / f"{name}.expected_text.txt").write_bytes(full.encode("utf-8"))
    (FIXDIR / f"{name}.expected_meta.csv").write_text(metadata_csv(meta), newline="")
    (FIXDIR / f"{name}.expected_txns.csv").write_text(transactions_csv(txns), newline="")
    (FIXDIR / f"{name}.expected_verify.json").write_text(json.dumps(ver, indent=1, sort_keys=True))
    print(f"{name}: {len(payload)}B pdf, {len(txns)} txns, verify={ver['status']}")


def freeze_html(name: str, payload: bytes) -> None:
    (FIXDIR / f"{name}.html").write_bytes(payload)
    text = extract_html_text(payload)
    (FIXDIR / f"{name}.expected_text.txt").write_bytes(text.encode("utf-8"))
    print(f"{name}: {len(payload)}B html, {len(text)} chars")


def freeze_html_statement(name: str, payload: bytes) -> None:
    """HTML statement page: freezes the FULL field contract (meta/txns/
    verify CSVs, like freeze_pdf) through the html table path."""
    (FIXDIR / f"{name}.html").write_bytes(payload)
    blocks, tables = extract_html_blocks_and_tables(payload)
    content = "\n".join(b.text for b in blocks if b.is_content)
    all_blocks = "\n".join(b.text for b in blocks)  # the label-scan surface
    f = fields.document_fields("html", content, all_blocks, tables, name)
    meta, txns, ver = f["metadata"], f["transactions"], f["verification"]
    (FIXDIR / f"{name}.expected_text.txt").write_bytes(content.encode("utf-8"))
    (FIXDIR / f"{name}.expected_meta.csv").write_text(metadata_csv(meta), newline="")
    (FIXDIR / f"{name}.expected_txns.csv").write_text(transactions_csv(txns), newline="")
    (FIXDIR / f"{name}.expected_verify.json").write_text(json.dumps(ver, indent=1, sort_keys=True))
    print(f"{name}: {len(payload)}B html-statement, {len(txns)} txns, verify={ver['status']}")


def main() -> None:
    FIXDIR.mkdir(parents=True, exist_ok=True)

    # d1: classic xref, user layout, Indonesian amounts, summary matches
    pages, _ = statement_lines(random.Random(101), n_pages=1, rows_per_page=6,
                               with_user=True, summary="match", amount_format="id")
    freeze_pdf("d1_classic_match", pdf_from_lines(pages))

    # d2: xref stream + ObjStm, deliberately mismatched summary → failed
    pages, _ = statement_lines(random.Random(202), n_pages=2, rows_per_page=5,
                               with_user=True, summary="mismatch", amount_format="id")
    freeze_pdf("d2_xrefstm_mismatch", pdf_from_lines(pages, xref_stream=True))

    # d3: no-user layout, US amounts, no summary → not_available; Td/TL/'/TJ ops
    pages, _ = statement_lines(random.Random(303), n_pages=1, rows_per_page=7,
                               with_user=False, summary="none", amount_format="us")
    freeze_pdf("d3_nouser_td", pdf_from_lines(pages, td_ops=True))

    # d4: 3 pages, xref stream, td ops, uncompressed
    pages, _ = statement_lines(random.Random(404), n_pages=3, rows_per_page=4,
                               with_user=True, summary="match", amount_format="id")
    freeze_pdf("d4_multipage_raw", pdf_from_lines(pages, xref_stream=True, td_ops=True,
                                                  compress=False))

    # d7: inline one-line rows (P9 fallback path)
    pages, _ = statement_lines(random.Random(707), n_pages=1, rows_per_page=6,
                               summary="match", amount_format="id", layout="inline")
    freeze_pdf("d7_inline_rows", pdf_from_lines(pages))

    # d8: positioned 6-cell table rows (P10 table strategy, pdfplumber
    # extract_tables parity) — multi-word descriptions survive as one cell
    pages, _ = statement_lines(random.Random(808), n_pages=2, rows_per_page=5,
                               summary="match", amount_format="id", layout="table")
    freeze_pdf("d8_table_rows", pdf_from_lines(pages, xref_stream=True))

    # d9: Type0/Identity-H composite font, CID-keyed hex show strings that
    # decode only through the embedded /ToUnicode CMap (PDF 1.7 §9.7/§9.10)
    pages, _ = statement_lines(random.Random(909), n_pages=2, rows_per_page=6,
                               with_user=True, summary="match", amount_format="id")
    freeze_pdf("d9_type0_cid", pdf_from_lines(pages, type0=True, xref_stream=True))

    # d10: two-column article page — XY-cut must read the whole left column
    # before the right one (north_star reading-order segmentation); baselines
    # of the two columns are offset as in real multi-column typesetting
    rng = random.Random(1010)
    words = ("statement analysis shows recurring transfer patterns across the "
             "reviewed period with stable balances and no anomalies detected").split()
    left = [(60.0, 760.0 - 14 * i, " ".join(rng.choice(words) for _ in range(5)))
            for i in range(10)]
    right = [(330.0, 753.0 - 14 * i, " ".join(rng.choice(words) for _ in range(5)))
             for i in range(10)]
    freeze_pdf("d10_two_column", build_pdf([left + right]))

    # d11: RC4-encrypted (standard security handler V2/R3, empty user
    # password — the dominant restricted-web-PDF shape), stacked with the
    # xref-stream + Type0 features so decryption is exercised under
    # ObjStm/CMap machinery, not just flat classic files
    pages, _ = statement_lines(random.Random(1111), n_pages=2, rows_per_page=5,
                               with_user=True, summary="match", amount_format="id")
    freeze_pdf("d11_encrypted_rc4",
               pdf_from_lines(pages, xref_stream=True, type0=True, encrypt=True))

    # d13/d14: AES-encrypted variants — /AESV2 (AES-128, V4/R4) under an
    # xref stream, and /AESV3 (AES-256, V5/R6, ISO 32000-2 Algorithm 2.B
    # key derivation) classic; both empty-user-password like d11
    pages, _ = statement_lines(random.Random(1313), n_pages=1, rows_per_page=5,
                               with_user=True, summary="match", amount_format="id")
    freeze_pdf("d13_encrypted_aes128",
               pdf_from_lines(pages, xref_stream=True, encrypt="aes-128"))
    pages, _ = statement_lines(random.Random(1414), n_pages=1, rows_per_page=4,
                               with_user=True, summary="match", amount_format="id")
    freeze_pdf("d14_encrypted_aes256", pdf_from_lines(pages, encrypt="aes-256"))

    # d15: the intersection case — AES-128 encryption AND xref stream with
    # ObjStm-packed dictionaries AND Type0/Identity-H CMap text AND image
    # XObjects AND positioned table rows, in ONE multipage document. Every
    # feature is individually golden-pinned (d8/d9/d11/d13); walks break at
    # feature INTERSECTIONS (encrypted ObjStm headers, CMap streams that
    # must decrypt before parsing, image offsets under encryption), which
    # is exactly what this fixture freezes
    pages, _ = statement_lines(random.Random(1515), n_pages=2, rows_per_page=5,
                               with_user=True, summary="match", amount_format="id",
                               layout="table")
    from b_pdf_parser_spark.pdfwriter import make_image
    imgs = [make_image(0, 48, 32, "DCTDecode", seed=15),
            make_image(1, 24, 24, "CCITTFaxDecode", seed=16)]
    freeze_pdf("d15_kitchen_sink",
               pdf_from_lines(pages, xref_stream=True, type0=True,
                              images=imgs, encrypt="aes-128"))

    # d16: inline images (BI..ID..EI binary woven into the content stream,
    # §8.9.7) + /Encoding /Differences simple-font remapping (§9.6.6) — the
    # two content-stream hazards of legacy web PDFs: raw pixel bytes the
    # tokenizer must skip wholesale, and byte codes that only decode through
    # the glyph-name table (remapped digits prove the table is really used)
    pages, _ = statement_lines(random.Random(1616), n_pages=1, rows_per_page=6,
                               with_user=True, summary="match", amount_format="id")
    evil = (bytes((7 * k + 13) % 251 for k in range(300))
            + b"(swallow) 9 9 Td (phantom) Tj BT")
    freeze_pdf("d16_inline_diffs",
               pdf_from_lines(pages,
                              inline_images=[(0, evil)],
                              differences={48: "A", 65: "zero", 128: "Euro"},
                              xref_stream=True))

    # d17: bank statement as a WEB PAGE — header label paragraphs, a
    # transactions <table>, summary paragraphs, nav/footer boilerplate.
    # Pins the html face of the field layer: table→transactions through
    # the html table rows, metadata/summary over the all-blocks text
    from b_pdf_parser_spark.sources.pages import html_statement_page
    payload17, _ = html_statement_page(random.Random(1717))
    freeze_html_statement("d17_html_statement", payload17)

    # d5/d6: html pages (template + adversarial)
    payload, _ = html_page(random.Random(505))
    freeze_html("d5_article", payload)

    # d12: windows-1252 page with declared <meta charset> and cp1252-only
    # punctuation (€ — “ ” ’) in the 0x80-0x9F band — the WHATWG prescan
    # path (BOM > meta > utf-8 > cp1252 > latin-1)
    s12, _ = html_page(random.Random(1212))
    s = s12.decode("utf-8").replace("<head>", '<head><meta charset="windows-1252">', 1)
    s = s.replace(
        "</article>",
        "<p>Pricing update — early access starts at €99 with “smart” quotes "
        "that aren’t ASCII and an ellipsis… for good measure in this "
        "deliberately legacy-encoded paragraph</p>\n</article>",
        1,
    )
    freeze_html("d12_cp1252", s.encode("cp1252"))
    freeze_html(
        "d6_entities",
        (
            "<html><head><title>T</title><script>if(a<b){x='</div>'}</script></head><body>"
            "<nav><a href='/'>home</a><a href='/x'>x</a><a href='/y'>y</a></nav>"
            "<article><p>Entity soup &amp; &#39;quotes&#39; &lt;tags&gt; &#x41;BC plus "
            "enough plain words to be kept as the single main content block here "
            "for the golden file test of the tokenizer</p></article>"
            "<footer><a href='/tos'>terms</a> &copy; corp</footer></body></html>"
        ).encode("utf-8"),
    )

    # d18: tag-soup statement (corpus v12 stratum) — the SAME statement as a
    # clean twin but with </td>/</tr> omitted everywhere (implied end tags),
    # case/attr noise on the table tags, an UNCLOSED promo table spliced
    # into the footer, and the tail truncated at </body>. Extraction must
    # produce IDENTICAL fields from either form; the clean twin is frozen
    # beside it so the equality itself is golden-pinned.
    from b_pdf_parser_spark.sources.pages import (  # noqa: E402
        html_statement_page,
        tag_soup_statement,
    )

    payload18, _ = html_statement_page(random.Random(1818))
    freeze_html_statement("d18_clean_twin", payload18)
    soup = tag_soup_statement(payload18.decode("utf-8"), random.Random(18))
    freeze_html_statement("d18_tag_soup", soup.encode("utf-8"))

    # d19: encryption + inline image + /Differences stacked in ONE document
    # (corpus v12 intersection stratum): the BI..ID..EI skip and the glyph-
    # table decode must both run UNDER the decryption layer — the inline
    # payload carries fake text operators, the Differences table remaps
    # live codes ('0'<->'A', Euro at 128)
    pages, _ = statement_lines(random.Random(1919), n_pages=1, rows_per_page=5,
                               with_user=True, summary="match", amount_format="id")
    evil19 = (bytes((11 * k + 7) % 251 for k in range(260))
              + b"(swallow) 9 9 Td (phantom) Tj BT")
    freeze_pdf("d19_enc_inline_diffs",
               pdf_from_lines(pages, encrypt="aes-128", xref_stream=True,
                              inline_images=[(0, evil19)],
                              differences={48: "A", 65: "zero", 128: "Euro"}))

    # d20: UTF-16 BE with BOM (corpus v12 stratum) — BOM precedence must
    # outrank the absent <meta charset> and the utf-8 default, and the
    # whole field contract must survive the 2-byte code units
    payload20, _ = html_statement_page(random.Random(2020))
    freeze_html_statement(
        "d20_utf16_statement",
        b"\xfe\xff" + payload20.decode("utf-8").encode("utf-16-be"),
    )


if __name__ == "__main__":
    main()
