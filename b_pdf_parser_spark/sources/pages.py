"""Deterministic synthetic ``pages`` corpus (Common-Crawl-style input table).

Schema per ``BASELINE.json.input_hint``:
``pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING)``.

Payload mix (FIXTURES.md §1): ~48% synthetic bank-statement PDFs (feature mix
mirrors the reference corpus: classic xref / xref-stream+ObjStm, Tm vs
Td/TL/T*/TJ/' operators, FlateDecode on/off), ~46% HTML pages with known
main content + boilerplate, ~3% corrupt/truncated payloads (must land in the
``error`` column, never fail the job — reference semantics
``/root/reference/pdfparser/batch.py:183-189``), ~2% null/empty, ~1%
oversized (10× pages — exercises the salt-split skew path).

Everything is keyed on ``(seed, doc index)`` only, so generation is
embarrassingly parallel: the Spark builder generates partitions independently
with ``arrow_kernel`` over ``spark.range`` — no driver-side loop, scales to
10^9 rows.

Statement content mirrors the shapes in the reference's corpus/generator
(``/root/reference/generate_test_pdfs.py:99-146``, label layouts of
``/root/reference/pdfparser/utils.py:23-93``) without porting code.
"""

from __future__ import annotations

import random
import zlib
from datetime import datetime, timedelta
from functools import lru_cache
from typing import Any, Dict, List, Optional, Tuple

from ..pdfwriter import build_pdf, make_image, pdf_from_lines

__all__ = [
    "PAGES_SCHEMA_DDL",
    "statement_lines",
    "formula_statement_lines",
    "formula_statement_pdf",
    "formula_statement_html",
    "structured_page",
    "feed_page",
    "html_page",
    "html_statement_page",
    "make_page_row",
    "page_kind_expected",
    "synth_pages_df",
]

PAGES_SCHEMA_DDL = "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"

# bump when generated content changes so persisted corpus caches invalidate
# (bench keys its .bench_cache files on this)
CORPUS_VERSION = 12  # v9: ~2.5% kitchen-sink intersection docs; v10: inline
# images (~4%) + /Differences remaps (~6%); v11: ~10% of HTML docs are bank
# statements with transaction <table>s (the html face of the field layer);
# v12: ~20% of statement pages are tag soup (implied end tags, case/attr
# noise, overlapping footer table, truncated tail), ~5% of HTML is UTF-16
# with BOM (both endiannesses), ~1.5% of statement PDFs stack encryption +
# inline images + /Differences in one doc

_CITIES = ["JAKARTA PUSAT", "SURABAYA", "BANDUNG", "MEDAN", "SEMARANG", "MAKASSAR"]
_PRODUCTS = ["BritamaX-IDR", "Simpedes-IDR", "GiroPrima-IDR", "TabunganKu-IDR"]
_DESCS = [
    "TRANSFER MASUK", "PEMBAYARAN LISTRIK", "SETORAN TUNAI", "TARIK TUNAI ATM",
    "BIAYA ADMINISTRASI", "PEMBAYARAN TELEPON", "TRANSFER KELUAR", "BUNGA DEPOSITO",
    "PEMBELIAN PULSA", "GAJI KARYAWAN",
]
_EN_WORDS = (
    "the quick brown fox jumps over a lazy dog while many readers scan long "
    "paragraphs of plain body text that carry most of the page meaning and "
    "should survive boilerplate removal intact for downstream training data"
).split()
_LANGS = ["id", "en", "de", "fr", "es", "zh"]


def _fmt_us(x: float) -> str:
    return f"{x:,.2f}"


def _fmt_id(x: float) -> str:
    """Indonesian separators: 1.234.567,89 (thousands '.', decimal ',')."""
    return f"{x:,.2f}".replace(",", "\0").replace(".", ",").replace("\0", ".")


def statement_lines(
    rng: random.Random,
    *,
    n_pages: int = 1,
    rows_per_page: int = 8,
    with_user: bool = True,
    summary: str = "match",  # 'match' | 'mismatch' | 'none'
    amount_format: str = "id",  # 'id' | 'us'
    # 'column' (per-field lines) | 'inline' (one-line rows, P9)
    # | 'table' (positioned 6-cell rows, P10 — pdfplumber extract_tables parity)
    layout: str = "column",
) -> Tuple[List[List[Any]], Dict[str, Any]]:
    """Generate column-layout statement text lines + ground truth.

    Returns (per-page line lists, truth dict with account_no, n_txns,
    total_debit, total_credit, verify_status).

    Amount-format semantics (quirk of the reference's single number parser,
    utils.py:527-548): only Indonesian-format amounts survive
    ``parse_indonesian_number`` round-trips, so docs meant to exercise
    *meaningful* turnover verification use 'id'. US-format amounts are only
    classifiable in the no-user layout (amount regex ``^[\\d,]+\\.\\d{2}$``,
    utils.py:74) and parse degenerately — those docs carry no summary.
    """
    fmt = _fmt_id if amount_format == "id" else _fmt_us
    zero = "0,00" if amount_format == "id" else "0.00"
    account_no = "".join(str(rng.randint(0, 9)) for _ in range(13))
    city = rng.choice(_CITIES)
    product = rng.choice(_PRODUCTS)

    header = [
        "No. Rekening",
        "Account No",
        f": {account_no}",
        "Unit Kerja",
        "Business Unit",
        ":",
        city,
        "Nama Produk",
        "Product Name",
        ":",
        product,
        "Statement Date : 31/01/2024",
        "Valuta",
        "Currency",
        ": IDR",
        "Alamat Unit Kerja",
        ":",
        f"Jl. Sudirman No. {rng.randint(1, 99)} {city}",
        "Periode Transaksi",
        "Transaction Period",
        ":",
        "01/01/2024 - 31/01/2024",
        "Tanggal Transaksi",
        "Uraian Transaksi",
        "Teller",
        "Debet",
        "Kredit",
        "Saldo",
    ]

    if layout == "table":
        # the 6 column labels collapse into one header row (repeated per
        # page, as pdfplumber-extracted tables carry them); drop the
        # line-per-label variants from the metadata header block
        header = header[:-6]
    table_header = ["Tanggal Transaksi", "Uraian Transaksi", "Teller",
                    "Debet", "Kredit", "Saldo"]

    total_debit = total_credit = 0.0
    balance = rng.randint(1_000_000, 50_000_000) / 1.0
    pages: List[List[Any]] = []
    n_txns = 0
    for p in range(n_pages):
        lines: List[Any] = header[:] if p == 0 else []
        if layout == "table":
            lines.append(table_header)
        for r in range(rows_per_page):
            n_txns += 1
            day = min(28, 1 + n_txns % 28)
            ts = f"{day:02d}/01/24 {rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
            desc = rng.choice(_DESCS)
            amount = rng.randint(10_000, 5_000_000) / 1.0
            is_credit = rng.random() > 0.4
            if is_credit:
                total_credit += amount
                balance += amount
                debit_s, credit_s = zero, fmt(amount)
            else:
                total_debit += amount
                balance -= amount
                debit_s, credit_s = fmt(amount), zero
            if layout == "table":
                user = "".join(str(rng.randint(1, 9)) for _ in range(7))
                lines.append([ts, desc, user, debit_s, credit_s, fmt(abs(balance))])
                continue
            if layout == "inline":
                # one-line rows (P9): date WITHOUT time (so the column-walk
                # anchor never fires and the inline fallback takes over) and a
                # single-token description (the reference's leftmost-shortest
                # description capture shifts fields on multi-word text)
                date_only = ts.split(" ")[0]
                user = "".join(str(rng.randint(1, 9)) for _ in range(7))
                lines.append(
                    f"{date_only} {desc.replace(' ', '_')} {user} "
                    f"{debit_s} {credit_s} {fmt(abs(balance))}"
                )
                continue
            lines.append(ts)
            lines.append(desc)
            if rng.random() < 0.3:
                lines.append("REF " + "".join(str(rng.randint(0, 9)) for _ in range(6)))
            if with_user:
                lines.append("".join(str(rng.randint(1, 9)) for _ in range(rng.choice([6, 7, 8]))))
            lines.append(debit_s)
            lines.append(credit_s)
            lines.append(fmt(abs(balance)))
        pages.append(lines)

    status = "not_available"
    if summary != "none":
        sd, sc = total_debit, total_credit
        if summary == "mismatch":
            sd += 777.77
            status = "failed"
        else:
            status = "passed"
        pages[-1] += [
            "Saldo Awal",
            "Total Transaksi Debet",
            "Total Transaksi Kredit",
            "Saldo Akhir",
            fmt(rng.randint(1_000_000, 9_000_000)),
            fmt(sd),
            fmt(sc),
            fmt(abs(balance)),
        ]

    truth = {
        "account_no": account_no,
        "n_txns": n_txns,
        "total_debit": round(total_debit, 2),
        "total_credit": round(total_credit, 2),
        "verify_status": status,
        "product_name": product.split("-")[0],
        "business_unit": city,
    }
    return pages, truth


_FORMULA_HEADER = [
    "No. Rekening", "Account No", None,  # None → f": {account}"
    "Nama Produk", "Product Name", ":", "FormulaGiro-IDR",
    "Valuta", "Currency", ": IDR",
]


def _formula_fields(i: int):
    """The integer formulas behind BOTH faces of the formula corpus (PDF
    statement lines and HTML statement tables) — every value a pure
    function of ``i``, no RNG, so the DuckDB oracles can recompute the
    expected extraction output exactly. Returns
    ``(account, rows, summary)`` where each row is the 6-cell
    ``(ts, desc, user, debit, credit, balance)`` tuple.

    Docs with ``i % 11 == 5`` carry a deliberately MISMATCHED summary
    (stated total debit = computed + 777.77), so turnover verification
    must land ``failed`` for exactly that stratum — the failure path of
    the verify join is value-checked by the oracles, not just the happy
    path."""
    account = str(1_000_000_000_000 + i * 7919)
    n_rows = 3 + i % 5
    opening = 10_000_000_00  # cents
    balance = opening
    tot_d = tot_c = 0
    rows: List[Tuple[str, str, str, str, str, str]] = []
    for k in range(n_rows):
        cents = 1_000_000 + ((i * 7919 + k * 104729) % 400_000)
        credit = (i + k) % 2 == 0
        amt = _fmt_id(cents / 100)
        if credit:
            tot_c += cents
            balance += cents
            debit_s, credit_s = "0,00", amt
        else:
            tot_d += cents
            balance -= cents
            debit_s, credit_s = amt, "0,00"
        rows.append((
            f"{1 + k % 28:02d}/01/24 10:{k % 60:02d}:00",
            _DESCS[(i + k) % len(_DESCS)],
            str(1_111_111 + (i * 31 + k) % 888_888),  # 7-digit user
            debit_s, credit_s, _fmt_id(balance / 100),
        ))
    stated_d = tot_d + (77_777 if i % 11 == 5 else 0)  # mismatch stratum
    summary = [
        "Saldo Awal", "Total Transaksi Debet", "Total Transaksi Kredit",
        "Saldo Akhir",
        _fmt_id(opening / 100), _fmt_id(stated_d / 100),
        _fmt_id(tot_c / 100), _fmt_id(balance / 100),
    ]
    return account, rows, summary


def formula_statement_lines(i: int) -> List[Any]:
    """Statement page whose EVERY field is a pure integer formula of ``i``
    — no RNG anywhere — so a SQL oracle can recompute the extraction
    pipeline's expected output exactly (the real-roundtrip-vs-formula
    pattern: writer serializes these lines into a real PDF, the real
    parser walks it, and any drift in writer, parser, field walk or
    verification breaks the value hash). Mirrored by the
    ``extract_formula`` DuckDB oracle in ``__spark_entry__``."""
    account, rows, summary = _formula_fields(i)
    lines: List[Any] = [
        f": {account}" if h is None else h for h in _FORMULA_HEADER
    ]
    for ts, desc, user, debit_s, credit_s, bal in rows:
        lines += [ts, desc, user, debit_s, credit_s, bal]
    lines += summary
    return lines


# /Differences digit permutation for the formula corpus: ALL digits are
# shown as these (otherwise-unused) code bytes and only decode back through
# the font's Differences table + the AGL glyph names — if the simple-font
# decoder skipped the table, every account number, amount and date in the
# doc would corrupt and the value hash would break. Codes are printable
# ASCII the statement text never uses (; < = > ? @ [ ] ^ _).
_FORMULA_DIGIT_DIFFS = {
    59: "zero", 60: "one", 61: "two", 62: "three", 63: "four",
    64: "five", 91: "six", 93: "seven", 94: "eight", 95: "nine",
}
_FORMULA_IMG_FILTERS = ["DCTDecode", "CCITTFaxDecode", "JPXDecode", "FlateDecode"]


@lru_cache(maxsize=1024)
def formula_statement_pdf(i: int, aes256: bool = False) -> bytes:
    """Serialize formula statement ``i`` with the hazard mix rotating by
    formula — every stratum rounds 1-3 added to the corpus: xref streams
    WITH ObjStm-packed dictionaries (``xref_stream=True`` packs the
    catalog/pages/page/font dicts into a ``/Type /ObjStm``), Td-relative
    positioning, Type0/Identity-H CMap text, RC4 and AES-128 encryption,
    inline images (BI..ID..EI binary the tokenizer must skip wholesale,
    with an adversarial text-shaped tail), /Differences-permuted digits,
    and image XObjects in all four filter modes. The co-prime moduli
    (2,3,5,7) make every pairwise feature intersection occur within 160
    docs — encrypted ObjStm, inline-image-under-RC4, images-under-AES,
    remapped digits beside Td ops — while every value stays a pure
    formula of ``i``.

    ``aes256=True`` additionally upgrades the ``i % 80 == 3`` docs (2 of
    160, both in the otherwise-unencrypted ``i % 5 == 3`` stratum, one of
    them intersecting the /Differences rotation) to /AESV3 V5/R6 AES-256.
    Flag-gated: only ``extract_formula`` turns it on, so the other formula
    queries keep their documents. An R6 doc takes ~2.3 ms to parse and
    ~5.5 ms to serialize (the writer runs the Algorithm-2.B KDF four
    times; AMD EPYC, 4 cores)."""
    type0 = i % 5 == 0
    inline = (
        [(0, bytes((7 * k + 13 + i) % 251 for k in range(200))
          + b"(swallow) 9 9 Td (phantom) Tj BT")]
        if i % 7 == 1 else []
    )
    images = (
        [make_image(0, 16 + i % 16, 12,
                    _FORMULA_IMG_FILTERS[(i // 7) % 4], seed=i)]
        if i % 7 == 5 else []
    )
    lines = formula_statement_lines(i)
    if i % 13 == 7:
        # multi-page stratum: header + first two transactions on page 1,
        # the rest (incl. the summary block) on page 2 — the cross-page
        # concatenation, page-0-only metadata scan and full-text summary
        # scan are all value-checked by the same oracles (n_pages formula:
        # 2 for this stratum)
        pages_lines = [lines[:22], lines[22:]]
    else:
        pages_lines = [lines]
    encrypt = {1: "rc4-40", 2: True, 4: "aes-128"}.get(i % 5, False)
    if aes256 and i % 80 == 3:
        encrypt = "aes-256"
    return pdf_from_lines(
        pages_lines,
        xref_stream=i % 2 == 0,  # even i: xref stream + ObjStm packing
        td_ops=i % 3 == 0,
        type0=type0,
        # all four encryption shapes rotate: legacy 40-bit V1/R2,
        # RC4-128 V2/R3, /AESV2 AES-128 V4/R4, and (flag-gated) V5/R6
        encrypt=encrypt,
        inline_images=inline,
        # Differences applies to the simple (non-Type0) font only
        differences=_FORMULA_DIGIT_DIFFS if (i % 7 == 3 and not type0) else None,
        images=images,
    )


@lru_cache(maxsize=1024)
def formula_statement_html(i: int) -> bytes:
    """The HTML face of the formula corpus: the SAME formula statement as
    :func:`formula_statement_lines`, rendered the way the web carries it —
    header label/value paragraphs, transactions as a ``<table>``, summary
    totals as trailing paragraphs, nav/footer boilerplate around it (the
    d17 golden's shape, but RNG-free). The extraction chain must produce
    identical fields from either markup; the ``extract_formula_html``
    DuckDB oracle recomputes them from the same formulas."""
    account, rows, summary = _formula_fields(i)
    header_ps = [f": {account}" if h is None else h for h in _FORMULA_HEADER]
    words = _EN_WORDS
    nav = " ".join(
        f'<a href="/{words[(i + j) % len(words)]}">{words[(i + j) % len(words)]}</a>'
        for j in range(4)
    )
    hdr = "".join(f"<p>{h}</p>\n" for h in header_ps)
    table_header = ["Tanggal Transaksi", "Uraian Transaksi", "Teller",
                    "Debet", "Kredit", "Saldo"]

    def table_html(txn_rows) -> str:
        body = "".join(
            "<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>\n"
            for r in [table_header] + [list(r) for r in txn_rows]
        )
        return f"<table>\n{body}</table>"
    if i % 13 == 7:
        # paginated-statement stratum (the HTML twin of the PDF multi-page
        # split): transactions spread over TWO tables, each repeating the
        # header row — the table→transactions assembler must concatenate
        # anchored rows across tables in document order; same values, so
        # the same oracles hash-check it
        half = len(rows) // 2
        tables = (table_html(rows[:half]) + "\n<p>Halaman 2</p>\n"
                  + table_html(rows[half:]))
    else:
        tables = table_html(rows)
    tail = "".join(f"<p>{t}</p>\n" for t in summary)
    html = (
        "<!DOCTYPE html><html><head><title>Account Statement</title>"
        "<style>td{padding:2px}</style></head><body>\n"
        f"<nav>{nav}</nav>\n"
        f"<article>\n{hdr}{tables}\n{tail}</article>\n"
        "<footer>Copyright 2026 Synth Bank <a href='/tos'>Terms</a></footer>\n"
        "</body></html>"
    )
    return html.encode("utf-8")


def structured_page(i: int) -> bytes:
    """Head-metadata stratum for the structured-data harvest
    (``html_structured_data`` extras row): an article page whose
    OpenGraph tags, canonical link and JSON-LD block are pure integer
    functions of ``i``, with the hazards the real web rotates —
    attribute order flipped on odd ids (``content=`` first), single vs
    double quoting, an unquoted canonical ``href`` (i%10==7), an
    HTML-entity ``&amp;`` inside og:title (i%9==2), a MISSING OpenGraph
    set (i%6==0), a missing canonical (i%13==4), no JSON-LD at all
    (i%7==3), a TRUNCATED (unparseable) JSON-LD body (i%11==5), and a
    second JSON-LD block (i%8==1). The DuckDB oracle recomputes every
    extracted value from the same formulas."""
    import json as _json

    og_title = f"Article {(i * 7) % 1000}" + (" & more" if i % 9 == 2 else "")
    og_type = ("article", "video.movie", "website")[i % 3]
    locale = ("en_US", "de_DE", "fr_FR", "es_ES", "id_ID")[i % 5]
    canonical = f"https://site{i % 13}.example/posts/{i}"
    metas: List[str] = []
    if i % 6 != 0:
        title_attr = og_title.replace("&", "&amp;")
        if i % 2 == 0:
            metas += [
                f'<meta property="og:title" content="{title_attr}">',
                f'<meta property="og:type" content="{og_type}">',
            ]
        else:  # attribute order flipped + single quotes: parser must not care
            metas += [
                f"<meta content='{title_attr}' property='og:title'>",
                f"<meta content='{og_type}' property='og:type'>",
            ]
        metas.append(f'<meta property="og:locale" content="{locale}">')
    if i % 13 != 4:
        if i % 10 == 7:
            metas.append(f"<link rel=canonical href={canonical}>")
        else:
            metas.append(f'<link rel="canonical" href="{canonical}">')
    if i % 7 != 3:
        body = _json.dumps({
            "@context": "https://schema.org",
            "@type": ("Article", "NewsArticle", "BlogPosting", "Report")[i % 4],
            "wordCount": 100 + (i * 31) % 900,
        })
        if i % 11 == 5:
            body = body[:-1]  # truncated on purpose: must flag, not throw
        metas.append(f'<script type="application/ld+json">{body}</script>')
        if i % 8 == 1:
            extra = _json.dumps({"@type": "BreadcrumbList", "numberOfItems": i % 5})
            metas.append(f'<script type="application/ld+json">{extra}</script>')
    html = (
        f"<!DOCTYPE html><html><head><title>Structured Doc {i}</title>\n"
        + "\n".join(metas)
        + f"</head><body>\n<article><p>synthetic paragraph {i} for the "
        "structured data stratum with enough words to look like an "
        "article body.</p></article>\n</body></html>"
    )
    return html.encode("utf-8")


def feed_page(i: int) -> bytes:
    """Syndication-feed stratum (``feed_items`` extras row): an RSS 2.0
    (even ``i``) or Atom 1.0 (odd ``i``) feed whose every item field is a
    pure integer function of ``(i, j)``, rotating the real-web hazards —
    ``<![CDATA[...]]>`` titles carrying raw markup (j%3==1),
    entity-escaped ``&amp;`` titles (j%3==2), a missing date on the first
    item (i%13==9), and a TRUNCATED final item missing its close tag
    (i%11==6 — must be dropped, never parsed as garbage). The DuckDB
    oracle recomputes every surviving row from the same formulas."""
    import datetime as _dt

    kind = "rss" if i % 2 == 0 else "atom"
    n_items = 3 + i % 5
    base = _dt.date(2024, 1, 1)
    items: List[str] = []
    for j in range(n_items):
        if j % 3 == 1:
            title_xml = f"<![CDATA[Item {i}-{j} <raw>]]>"
        elif j % 3 == 2:
            title_xml = f"Item {i}-{j} &amp; co"
        else:
            title_xml = f"Item {i}-{j}"
        link = f"https://feed{i % 9}.example/{kind}/{i}/{j}"
        d = base + _dt.timedelta(days=(i + 3 * j) % 400)
        no_date = i % 13 == 9 and j == 0
        if kind == "rss":
            pd_tag = "" if no_date else (
                "<pubDate>" + d.strftime("%a, %d %b %Y 08:00:00 GMT")
                + "</pubDate>")
            body = (f"<item>\n  <title>{title_xml}</title>\n"
                    f"  <link>{link}</link>\n"
                    f"  <guid>urn:feed:{i}:{j}</guid>\n  {pd_tag}\n</item>")
        else:
            upd_tag = "" if no_date else (
                f"<updated>{d.isoformat()}T08:00:00Z</updated>")
            body = (f'<entry xml:lang="en">\n'
                    f'  <title type="text">{title_xml}</title>\n'
                    f'  <link rel="alternate" href="{link}"/>\n'
                    f"  <id>urn:feed:{i}:{j}</id>\n  {upd_tag}\n</entry>")
        if i % 11 == 6 and j == n_items - 1:
            body = body.rsplit("</", 1)[0]  # truncated on purpose
        items.append(body)
    if kind == "rss":
        xml = ('<?xml version="1.0"?>\n<rss version="2.0"><channel>\n'
               f"<title>Feed {i}</title>\n" + "\n".join(items)
               + "\n</channel></rss>")
    else:
        xml = ('<?xml version="1.0"?>\n'
               '<feed xmlns="http://www.w3.org/2005/Atom">\n'
               f"<title>Feed {i}</title>\n" + "\n".join(items) + "\n</feed>")
    return xml.encode("utf-8")


def report_pdf(rng: random.Random) -> bytes:
    """Two-column article PDF (no transactions): most web PDFs aren't
    statements — these exercise the XY-cut reading-order path end-to-end.
    Column baselines are offset as in real multi-column typesetting."""
    n_left = rng.randint(8, 14)
    n_right = rng.randint(8, 14)
    left = [(60.0, 760.0 - 14.0 * i, " ".join(rng.choice(_EN_WORDS) for _ in range(4)))
            for i in range(n_left)]
    right = [(330.0, 753.0 - 14.0 * i, " ".join(rng.choice(_EN_WORDS) for _ in range(4)))
             for i in range(n_right)]
    return build_pdf(
        [left + right],
        xref_stream=rng.random() < 0.5,
        type0=rng.random() < 0.25,
    )


def html_statement_page(rng: random.Random) -> Tuple[bytes, Dict[str, Any]]:
    """Bank statement rendered as a real web page: header label/value lines
    as paragraphs, transactions as an HTML ``<table>``, summary totals as
    trailing paragraphs, wrapped in nav/footer boilerplate. The SAME
    document the PDF statements carry, in the other markup the web uses —
    the extraction chain must produce the same fields from either."""
    pages, truth = statement_lines(
        rng,
        n_pages=1,
        rows_per_page=rng.randint(4, 10),
        summary=rng.choice(["match", "match", "match", "mismatch"]),
        amount_format="id",
        layout="table",
    )
    header_ps: List[str] = []
    table_rows: List[List[str]] = []
    tail_ps: List[str] = []
    for ln in pages[0]:
        if isinstance(ln, str):
            (tail_ps if table_rows else header_ps).append(ln)
        else:
            table_rows.append([str(c) for c in ln])
    nav = " ".join(f'<a href="/{w}">{w}</a>' for w in rng.sample(_EN_WORDS, 4))
    hdr = "".join(f"<p>{h}</p>\n" for h in header_ps)
    rows_html = "".join(
        "<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>\n" for r in table_rows
    )
    tail = "".join(f"<p>{t}</p>\n" for t in tail_ps)
    html = (
        "<!DOCTYPE html><html><head><title>Account Statement</title>"
        "<style>td{padding:2px}</style></head><body>\n"
        f"<nav>{nav}</nav>\n"
        f"<article>\n{hdr}<table>\n{rows_html}</table>\n{tail}</article>\n"
        "<footer>Copyright 2026 Synth Bank <a href='/tos'>Terms</a></footer>\n"
        "</body></html>"
    )
    return html.encode("utf-8"), truth


def html_page(rng: random.Random) -> Tuple[bytes, str]:
    """Boilerplate-wrapped article; returns (html bytes, golden main text)."""
    n_paras = rng.randint(2, 5)
    paras = []
    for _ in range(n_paras):
        k = rng.randint(18, 40)
        paras.append(" ".join(rng.choice(_EN_WORDS) for _ in range(k)))
    nav = " ".join(f'<a href="/{w}">{w}</a>' for w in rng.sample(_EN_WORDS, 5))
    body = "".join(f"<p>{p}</p>\n" for p in paras)
    html = (
        "<!DOCTYPE html><html><head><title>Synth Page</title>"
        "<script>var boiler = '<p>never extracted</p>';</script>"
        "<style>.x{color:red}</style></head><body>\n"
        f"<nav>{nav}</nav>\n<header><h1>Site {rng.randint(1, 999)}</h1></header>\n"
        f"<article>\n{body}</article>\n"
        f'<div>{" ".join(f"<a href=#{i}>tag{i}</a>" for i in range(6))}</div>\n'
        "<footer>Copyright 2026 Synth Corp <a href='/tos'>Terms</a></footer>\n"
        "</body></html>"
    )
    return html.encode("utf-8"), "\n".join(paras)


def tag_soup_statement(s: str, rng: random.Random) -> str:
    """Real-web tag soup over a statement page: ``</td>``/``</tr>`` end
    tags omitted everywhere (LEGAL per the HTML spec — browsers and our
    tokenizer auto-close them), case and attribute noise on the table
    tags, an UNCLOSED promo table spliced into the footer (overlapping-
    table recovery: its anchor-less rows must not leak into the
    transaction table), and half the time a truncated tail (``</body>``
    onward gone). The extraction chain must produce IDENTICAL fields from
    the soup and its clean twin — pinned by golden d18 and the v12 corpus
    stratum."""
    s = s.replace("</td>", "").replace("</tr>", "")
    s = s.replace("<table>", '<TABLE border="1" width=100%>', 1)
    s = s.replace("<tr>", "<TR>", 1)
    s = s.replace("<td>", "<TD class=c align=left>", 1)
    s = s.replace("<footer>", "<footer><table><tr><td>promo soup overlap ", 1)
    if rng.random() < 0.5:
        cut = s.rfind("</body>")
        if cut > 0:
            s = s[:cut]
    return s


def page_kind_expected(i: int, seed: int = 42) -> Tuple[str, bool]:
    """The extraction-level (kind, has_error) truth for corpus row ``i``,
    WITHOUT generating the payload: it replays only the stratum draws of
    :func:`make_page_row` (same RNG, same draw order), so computing it for
    the full 100k bench corpus costs a fraction of a second. This is what
    lets a corpus-SCALE invariant be a DuckDB oracle: per-kind doc counts
    and error totals are pure functions of (n, seed) that the oracle can
    state as literals, independently of the writer/parser under test.
    ``tests/test_corpus_audit.py`` pins this replay against the real
    generator + extractor, so the two can never drift silently.

    Kind mapping mirrors ``operators/extract._extract_one``: corrupt
    payloads that carry a ``%PDF-`` prefix (the mock and the truncation)
    raise PdfError → kind 'error'; the random-64-byte corruption does NOT
    look like a PDF, decodes as garbage text and lands kind 'html' with no
    error; empty/null payloads are kind 'empty' with the sentinel error."""
    rng = random.Random((seed << 32) ^ i)
    roll = rng.random()
    rng.choice(_LANGS)  # the lang draw precedes the branch in make_page_row
    if roll < 0.48:  # report PDFs and statement PDFs alike
        return "pdf", False
    if roll < 0.94:
        return "html", False
    if roll < 0.97:
        return ("error", True) if rng.random() < 0.7 else ("html", False)
    return "empty", True


_EPOCH = datetime(2024, 1, 1)


def make_page_row(i: int, seed: int = 42) -> Dict[str, Any]:
    """One deterministic row of the ``pages`` table for global index ``i``."""
    rng = random.Random((seed << 32) ^ i)
    url = f"https://synth.example/{seed}/{i:08d}"
    ts = _EPOCH + timedelta(seconds=i % 31_536_000)
    roll = rng.random()
    text: Optional[str] = None
    lang = rng.choice(_LANGS)
    if roll < 0.04:  # two-column report PDF (XY-cut path; no transactions)
        payload = report_pdf(rng)
        lang = "en"
    elif roll < 0.48:  # PDF statement
        oversized = rng.random() < 0.02
        n_pages = rng.randint(6, 10) if oversized else rng.randint(1, 3)
        layout_roll = rng.random()
        if layout_roll < 0.15:
            layout = "inline"
        elif layout_roll < 0.32:
            layout = "table"  # P10: positioned 6-cell rows
        else:
            layout = "column"
        with_user = rng.random() < 0.7
        # inline/table rows always carry an explicit user cell → id-format
        # amounts and a meaningful summary section
        full_row = layout in ("inline", "table")
        pages, truth = statement_lines(
            rng,
            n_pages=n_pages,
            rows_per_page=rng.randint(4, 12),
            with_user=with_user,
            summary=(
                rng.choice(["match", "match", "match", "mismatch", "none"])
                if (with_user or full_row) else "none"
            ),
            amount_format="id" if (with_user or full_row) else "us",
            layout=layout,
        )
        # ~20% of statements embed DCT/CCITT/JPX image XObjects (web PDFs
        # are image-byte-dominated; the text walk must skip them and the
        # xref parse must handle the larger offsets). Drawn from a FORKED
        # rng so the main stream — and every pinned corpus expectation —
        # is identical to v4.
        irng = random.Random((seed << 33) ^ (i * 0x9E3779B1) ^ 0x1A6E5)
        images = []
        if irng.random() < 0.2:
            _filters = ("DCTDecode", "CCITTFaxDecode", "JPXDecode")
            images = [
                make_image(
                    irng.randrange(n_pages),
                    16 + irng.randrange(160),
                    16 + irng.randrange(120),
                    _filters[irng.randrange(3)],
                    seed=i * 13 + j,
                )
                for j in range(1 + irng.randrange(3))
            ]
        # ~10% RC4-encrypted with an empty user password (the dominant shape
        # of restricted web PDFs — CC surveys put encrypted PDFs around
        # 5-10%; 1 in 5 of ours the legacy 40-bit R2). Forked rng again:
        # the main stream and every pinned v4/v5 expectation stay
        # byte-identical, and encryption does not change extracted text —
        # only the bytes on disk.
        erng = random.Random((seed << 34) ^ (i * 0x85EBCA6B) ^ 0x3C6EF)
        encrypt: object = False
        if erng.random() < 0.10:
            mix = erng.random()
            if mix < 0.2:
                encrypt = "rc4-40"      # legacy 40-bit V1/R2
            elif mix < 0.45:
                encrypt = "aes-128"     # /AESV2 V4/R4 (modern restricted PDFs)
            else:
                encrypt = True          # RC4-128 V2/R3
            # AES-256/R6 is supported, golden-pinned (d14) and value-checked
            # in the formula corpus (extract_formula's aes256 stratum), but
            # kept out of THIS 100k corpus, whose documents stay fixed (the
            # benchmark pins its digest); an R6 doc parses in ~2 ms
        # main-stream feature draws, in the exact order earlier corpus
        # versions evaluated them (the draws must stay on the MAIN rng so
        # every other doc remains byte-identical across corpus versions)
        xs = rng.random() < 0.5
        td = rng.random() < 0.3
        comp = rng.random() < 0.9
        # ~25% composite Identity-H fonts with /ToUnicode CMaps — the
        # dominant font shape in web PDFs (CID ≠ codepoint, so decode
        # must really walk the CMap)
        t0 = rng.random() < 0.25
        # v9: ~2.5% of statements are the INTERSECTION stratum (golden
        # d15's shape): encryption + ObjStm xref stream + Type0 CMaps +
        # image XObjects stacked in one document — walks break at feature
        # intersections (encrypted ObjStm headers, CMaps that must decrypt
        # before parsing), so the bench corpus must contain them, not just
        # the goldens. Forked rng: only the selected docs' encodings change
        # (their text/truth comes from the untouched main stream).
        krng = random.Random((seed << 36) ^ (i * 0x27D4EB2F) ^ 0x5B349)
        if krng.random() < 0.025:
            xs = t0 = comp = True
            if not encrypt:
                encrypt = "aes-128" if krng.random() < 0.5 else True
            if not images:
                images = [
                    make_image(
                        krng.randrange(n_pages),
                        16 + krng.randrange(80),
                        16 + krng.randrange(60),
                        "DCTDecode",
                        seed=i * 17 + 1,
                    )
                ]
        # v10: content-stream hazard strata (forked rngs again): ~4% of
        # statements weave an inline image (BI..ID..EI raw binary, §8.9.7)
        # into the page content — pixel bytes the tokenizer must skip
        # wholesale; ~6% remap live byte codes ('0'↔'A', € at 128) through
        # /Encoding /Differences so decode must walk the glyph table (the
        # writer ignores differences under type0, matching real files
        # where composite fonts use CMaps instead)
        hrng = random.Random((seed << 37) ^ (i * 0x9E3779B9) ^ 0x2F0ED)
        inline_imgs: List[Tuple[int, bytes]] = []
        if hrng.random() < 0.04:
            start = hrng.randrange(251)
            n_b = 40 + hrng.randrange(400)
            # step-7 mod 251 bytes cannot contain the ' EI' terminator
            inline_imgs = [
                (hrng.randrange(n_pages), bytes((start + 7 * k) % 251 for k in range(n_b)))
            ]
        diffs = None
        if hrng.random() < 0.06:
            diffs = {48: "A", 65: "zero", 128: "Euro"}
        # v12: ~1.5% stack encryption + an inline image + /Differences in
        # ONE document (golden d19's shape) — the content-stream hazards
        # must survive running UNDER the decryption layer, where the BI..EI
        # skip and the glyph-table decode see post-decrypt bytes. Forked
        # rng: only the selected docs' encodings change; their text/truth
        # comes from the untouched main stream.
        vrng = random.Random((seed << 42) ^ (i * 0x94D049BB) ^ 0x85EBC)
        if vrng.random() < 0.015:
            if not encrypt:
                encrypt = "aes-128" if vrng.random() < 0.5 else True
            if not inline_imgs:
                st = vrng.randrange(251)
                inline_imgs = [
                    (vrng.randrange(n_pages),
                     bytes((st + 7 * k) % 251 for k in range(120)))
                ]
            if diffs is None and not t0:
                diffs = {48: "A", 65: "zero", 128: "Euro"}
        payload = pdf_from_lines(
            pages,
            xref_stream=xs,
            td_ops=td,
            compress=comp,
            type0=t0,
            images=images,
            inline_images=inline_imgs,
            differences=diffs,
            encrypt=encrypt,
        )
        # some urls embed the account number (filename-fallback path,
        # reference: pymupdf_parser.py:62-71)
        if rng.random() < 0.3:
            url = f"https://synth.example/{seed}/stmt_{truth['account_no']}.pdf"
        lang = "id"
    elif roll < 0.94:  # HTML page
        payload, golden = html_page(rng)
        # v11: ~10% of HTML docs are bank statements rendered as real web
        # pages (label paragraphs + a transactions <table> + summary) — the
        # same document the PDF stratum carries, in the web's other markup;
        # the table→transactions chain must produce identical fields from
        # either. Forked rng: every other doc is byte-identical to v10.
        srng = random.Random((seed << 39) ^ (i * 0x85EBCA77) ^ 0x61C88)
        if srng.random() < 0.10:
            payload, struth = html_statement_page(srng)
            if srng.random() < 0.3:  # filename-fallback path, like the PDFs
                url = f"https://synth.example/{seed}/stmt_{struth['account_no']}.html"
            text = None  # no crawler-provided text for statement pages
            lang = "id"
            # v12: ~20% of statement pages arrive as tag soup (implied end
            # tags, case/attr noise, an unclosed footer table, truncated
            # tail) and ~6% of the rest as UTF-16 with BOM — the encodings
            # the web actually serves. Forked rng; same extracted fields.
            trng = random.Random((seed << 40) ^ (i * 0xC2B2AE3D) ^ 0x1B873)
            if trng.random() < 0.20:
                payload = tag_soup_statement(payload.decode("utf-8"), trng).encode("utf-8")
            elif trng.random() < 0.06:
                s = payload.decode("utf-8")
                payload = (
                    s.encode("utf-16")  # UTF-16LE with BOM
                    if trng.random() < 0.5
                    else b"\xfe\xff" + s.encode("utf-16-be")
                )
            return {"url": url, "warc_ts": ts, "html": payload, "text": text,
                    "lang": lang}
        # ~15% of HTML re-encoded as windows-1252 with a declared
        # <meta charset> and cp1252-only punctuation (€, em-dash, smart
        # quotes — the 0x80-0x9F band where legacy web text lives), so the
        # WHATWG prescan path runs for real in the corpus. Forked rng:
        # the main stream and all other docs are byte-identical to v6.
        crng = random.Random((seed << 35) ^ (i * 0xC2B2AE35) ^ 0x7F4A7)
        if crng.random() < 0.15:
            extra = (
                "Update — the launch price starts at €99 and early "
                "adopters said the “smart” punctuation isn’t a problem "
                "for the extraction pipeline at any reasonable scale "
                "according to everyone we asked twice…"
            )
            s = payload.decode("utf-8")
            s = s.replace("<head>", '<head><meta charset="windows-1252">', 1)
            s = s.replace("</article>", f"<p>{extra}</p>\n</article>", 1)
            payload = s.encode("cp1252")
            golden = golden + "\n" + extra
        else:
            # v12: ~5% of the remaining HTML is UTF-16 with a BOM — both
            # endiannesses — so the sniffer's BOM-first precedence (which
            # OUTRANKS any <meta charset>) runs for real in the corpus.
            # Forked rng: every other doc is byte-identical to v11.
            urng = random.Random((seed << 41) ^ (i * 0x165667B1) ^ 0x27220)
            if urng.random() < 0.05:
                s = payload.decode("utf-8")
                payload = (
                    s.encode("utf-16")  # UTF-16LE with BOM
                    if urng.random() < 0.5
                    else b"\xfe\xff" + s.encode("utf-16-be")
                )
        text = golden  # crawler-provided text column ~ main content
        lang = "en"
    elif roll < 0.97:  # corrupt / truncated payloads → error column
        kind = rng.random()
        if kind < 0.4:
            payload = b"%PDF-1.4 mock PDF content"  # test_batch.py:127-129 shape
        elif kind < 0.7:
            good = pdf_from_lines([["01/01/24 01:02:03", "x", "1.00"]])
            payload = good[: len(good) // 3]
        else:
            payload = bytes(rng.getrandbits(8) for _ in range(64))
    else:  # empty / null payload
        payload = b"" if rng.random() < 0.5 else None
    return {"url": url, "warc_ts": ts, "html": payload, "text": text, "lang": lang}


def synth_pages_df(spark, n: int, seed: int = 42, num_partitions: Optional[int] = None):
    """Distributed deterministic corpus: one row per index in [0, n).

    Generation happens executor-side via ``arrow_kernel`` over ``spark.range``
    (keyed only on (seed, i)); no driver loop, no broadcast of payloads —
    the same code path scales from 10^3 test rows to 10^9 bench rows.
    ``make_page_row``'s naive ``warc_ts`` is read as UTC, so the instant
    does not depend on the session time zone either.
    """
    from ..operators import arrow_kernel

    parts = num_partitions or max(spark.sparkContext.defaultParallelism, 8)
    return arrow_kernel(
        spark.range(0, n, 1, parts),
        lambda bs: ([make_page_row(i, seed) for i in b["id"].tolist()] for b in bs),
        PAGES_SCHEMA_DDL,
    )
