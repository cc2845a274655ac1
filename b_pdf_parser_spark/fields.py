"""Bank-statement field extraction semantics, vectorization-ready.

Re-implements (from scratch, behavior pinned by unit + golden tests) the
extraction semantics of the reference:

* metadata label regexes          — parity: /root/reference/pdfparser/utils.py:23-44,144-234
* transaction line-walk           — parity: utils.py:47,237-360
* summary-totals positional scan  — parity: utils.py:78-93,551-649
* number parse/normalize          — parity: utils.py:363-425,527-548
* validity predicate              — parity: utils.py:484-509
* turnover verification           — parity: utils.py:686-775

Design for Spark: every rule is stated once, per document (the
reference's own cost profile — one regex pass or line-walk per doc), and
dispatched once per document inside an Arrow batch, never per output row;
``extract_metadata_batch`` maps :func:`extract_metadata` over a pandas
Series for callers that hold one. :func:`document_fields` composes the
rules into the six field columns of one extracted document — the
table → column → inline strategy chain, the summary scan surface and the
summary merge are stated there once, for the extraction kernel and the
golden-fixture generator alike. All functions are pure and import-safe on
executors.

Deliberate divergences (SURVEY §7.5): none in semantics; only code shape.
Quirks preserved on purpose: malformed number → 0.0 (utils.py:547-548),
label-capture guard (utils.py:158-183), ``-IDR`` suffix strip
(utils.py:203-205), summary label dedupe keeping first (utils.py:589-598).
"""

from __future__ import annotations

import re
from typing import TYPE_CHECKING, Dict, List, Optional, Tuple

if TYPE_CHECKING:
    import pandas as pd

__all__ = [
    "METADATA_KEYS",
    "TXN_KEYS",
    "extract_metadata",
    "extract_metadata_batch",
    "extract_transactions",
    "extract_transactions_inline",
    "transactions_from_table_rows",
    "extract_summary_totals",
    "parse_id_number",
    "normalize_number",
    "is_valid_parse",
    "verify_turnover",
    "account_no_from_url",
    "document_fields",
]

METADATA_KEYS = (
    "account_no",
    "business_unit",
    "product_name",
    "statement_date",
    "valuta",
    "unit_address",
    "transaction_period",
    "total_debit",
    "total_credit",
    "opening_balance",
    "closing_balance",
)
TXN_KEYS = ("date", "description", "user", "debit", "credit", "balance")
_SUMMARY_KEYS = ("total_debit", "total_credit", "opening_balance", "closing_balance")

# --- header label patterns (semantics of utils.py:23-44; layout: the value
# may follow the label on the same line after ':' or sit on the next lines,
# optionally preceded by the English twin label) -----------------------------
_PAT = {
    "account_no": r"No\.?\s*Rekening\s*\n(?:Account\s+No\s*\n)?\s*:?\s*([0-9]+)",
    "business_unit": r"(?:Unit\s+Kerja\s*\n)?Business\s+Unit\s*\n\s*:\s*\n\s*([^\n]+)",
    "product_name": r"(?:Nama\s+Produk\s*\n)?Product\s+Name\s*[:\s]*([A-Za-z0-9]+(?:\s+[A-Za-z0-9]+)*(?:\.[A-Za-z]+)?)",
    "statement_date": r"Statement\s+Date\s*[:\s]*([^\n]+)",
    "valuta": r"(?:Valuta|Currency)\s*\n(?:Currency|Valuta)?\s*\n\s*:?\s*([A-Z]{3})",
    "unit_address": r"(?:Alamat\s+Unit\s+Kerja|Business\s+Unit\s+Address)\s*\n\s*:\s*\n\s*([A-Za-z][^\n]*(?:\s+[A-Za-z][^\n]*)?)",
    "transaction_period": r"(?:Periode\s+Transaksi|Transaction\s+Period)\s*\n(?:Transaction\s+Periode|Transaction\s+Period)?\s*\n\s*:\s*\n\s*([^\n]+)",
}
_META_RE = {k: re.compile(v, re.IGNORECASE) for k, v in _PAT.items()}

# values equal to one of these (lowercased) are labels, not data
_LABEL_WORDS = frozenset(
    (
        "unit kerja", "nama produk", "alamat unit", "valuta", "currency",
        "tanggal transaksi", "uraian transaksi", "teller", "user id",
        "debet", "kredit", "saldo", "transaction date", "transaction description",
    )
)

_ANCHOR_RE = re.compile(r"\d{2}/\d{2}/\d{2}\s+\d{2}:\d{2}:\d{2}")
_NUMERICISH_RE = re.compile(r"[\d,.]+\s*")  # fullmatch == reference ^[\d,.]+\s*$
_AMOUNT_RE = re.compile(r"[\d,]+\.\d{2}")
_USERID_RE = re.compile(r"\d{6,8}")
_WS_RE = re.compile(r"\s+")
_URL_ACCT_RE = re.compile(r"(\d{10,16})")

_SUMMARY_LABELS: Tuple[Tuple[re.Pattern, str], ...] = (
    (re.compile(r"(?:Saldo\s+Awal|Opening\s+Balance)", re.IGNORECASE), "opening_balance"),
    (re.compile(r"(?:Total\s+Transaksi\s+Debet|Total\s+Debit\s+Transaction)", re.IGNORECASE), "total_debit"),
    (re.compile(r"(?:Total\s+Transaksi\s+Kredit|Total\s+Credit\s+Transaction)", re.IGNORECASE), "total_credit"),
    (re.compile(r"(?:Saldo\s+Akhir|Closing\s+Balance)", re.IGNORECASE), "closing_balance"),
)
_INLINE_TOTAL_RES: Tuple[Tuple[str, re.Pattern], ...] = (
    ("total_debit", re.compile(r"Total\s+Transaksi\s+Debet\s*[:\s]*([\d\.,]+)", re.IGNORECASE)),
    ("total_debit", re.compile(r"Total\s+Debit\s+Transaction\s*[:\s]*([\d\.,]+)", re.IGNORECASE)),
    ("total_credit", re.compile(r"Total\s+Transaksi\s+Kredit\s*[:\s]*([\d\.,]+)", re.IGNORECASE)),
    ("total_credit", re.compile(r"Total\s+Credit\s+Transaction\s*[:\s]*([\d\.,]+)", re.IGNORECASE)),
)


def _is_label_word(value: str) -> bool:
    return value.lower().strip() in _LABEL_WORDS


def extract_metadata(text: str) -> Dict[str, str]:
    """Header-field extraction; contract of utils.py:144-234 (7 keys)."""
    out: Dict[str, str] = {}
    for key, pat in _META_RE.items():
        m = pat.search(text)
        val = m.group(1).strip() if m else ""
        if key in ("account_no", "product_name") and _is_label_word(val):
            val = ""
        if key == "product_name" and val.endswith("-IDR"):
            val = val[:-4]
        if key == "unit_address":
            val = _WS_RE.sub(" ", val)
            if _is_label_word(val):
                val = ""
        out[key] = val
    return out


def extract_metadata_batch(texts: pd.Series) -> pd.DataFrame:
    """:func:`extract_metadata` over a Series of first-page texts (a
    missing text reads as empty), one row per text, same index. pandas is
    imported here, not at module load, so the extraction kernel's workers
    never pay for it."""
    import pandas as pd

    return pd.DataFrame([extract_metadata(t) for t in texts.fillna("")],
                        columns=list(_META_RE), index=texts.index)


def account_no_from_url(url_stem: str, current: str) -> str:
    """Filename/url fallback for account_no (pymupdf_parser.py:62-71)."""
    if current:
        return current
    m = _URL_ACCT_RE.search(url_stem)
    if not m:
        return current
    candidate = m.group(1)
    if re.fullmatch(r"\d{4}-\d{2}-\d{2}", candidate):
        return current
    return candidate


def extract_transactions(text: str) -> List[Dict[str, str]]:
    """Stateful line walk over column-layout transaction rows.

    Cursor semantics replicate utils.py:237-360 exactly, including the
    oddities: after the balance read the cursor is *not* advanced (a
    following anchor line used as a fallback 'user' value is re-examined
    and starts a new transaction), and blank lines inside the description
    are skipped without terminating it.
    """
    stripped = [ln.strip() for ln in text.split("\n")]
    n = len(stripped)
    txns: List[Dict[str, str]] = []

    def skip_blank(j: int) -> int:
        while j < n and not stripped[j]:
            j += 1
        return j

    i = 0
    while i < n:
        line = stripped[i]
        if not line or not _ANCHOR_RE.match(line):
            i += 1
            continue
        date = line  # full date+time line kept verbatim (utils.py:279)
        i += 1
        desc_parts: List[str] = []
        while i < n:
            nxt = stripped[i]
            if _ANCHOR_RE.match(nxt) or _NUMERICISH_RE.fullmatch(nxt):
                break
            if nxt:
                desc_parts.append(nxt)
            i += 1
        i = skip_blank(i)
        if i >= n:
            break
        head = stripped[i]

        if _USERID_RE.fullmatch(head):  # layout WITH a user/teller id column
            user = head
            i = skip_blank(i + 1)
            debit = stripped[i] if i < n else ""
            i = skip_blank(i + 1)
            credit = stripped[i] if i < n else ""
            i = skip_blank(i + 1)
            balance = stripped[i] if i < n else ""
        elif _AMOUNT_RE.fullmatch(head):  # layout WITHOUT a user id column
            user = ""
            debit = head
            i = skip_blank(i + 1)
            credit = stripped[i] if i < n else ""
            i = skip_blank(i + 1)
            balance = stripped[i] if i < n else ""
        else:  # unknown shape: record the field as user, re-examine the line
            user, debit, credit, balance = head, "", "", ""

        txns.append(
            {
                "date": date,
                "description": " ".join(desc_parts),
                "user": user,
                "debit": debit,
                "credit": credit,
                "balance": balance,
            }
        )
    return txns


_INLINE_ROW_RE = re.compile(
    r"^(\d{2}/\d{2}/\d{2})\s+(.+?)\s+(\w+)\s+([\d,.]+)?\s+([\d,.]+)?\s+([\d,.]+)"
)
# substring header guards of the inline parser (pdfplumber_parser.py:111-125);
# a line containing any of these is skipped before the row regex runs
_INLINE_SKIP_SUBSTRINGS = (
    "Tanggal Transaksi", "Transaction Date", "Uraian Transaksi",
    "Transaction Description", "Teller", "User ID", "Debet", "Debit",
    "Kredit", "Credit", "Saldo", "Balance", "Total Transaksi",
    "Opening Balance",
)


def extract_transactions_inline(text: str) -> List[Dict[str, str]]:
    """One-line transaction rows (P9); contract of pdfplumber_parser.py:85-142.

    Quirks preserved: the date keeps only ``DD/MM/YY`` (no time), the
    description capture is leftmost-shortest so multi-word descriptions can
    shift fields (single-token descriptions parse cleanly), header lines are
    skipped by substring containment.
    """
    out: List[Dict[str, str]] = []
    for raw in text.split("\n"):
        line = raw.strip()
        if not line or any(s in line for s in _INLINE_SKIP_SUBSTRINGS):
            continue
        m = _INLINE_ROW_RE.match(line)
        if not m:
            continue
        date, desc, user, debit, credit, balance = m.groups()
        out.append(
            {
                "date": date.strip(),
                "description": desc.strip(),
                "user": user.strip(),
                "debit": debit.strip() if debit else "",
                "credit": credit.strip() if credit else "",
                "balance": balance.strip(),
            }
        )
    return out


def transactions_from_table_rows(tables: List[List[List[Optional[str]]]]) -> List[Dict[str, str]]:
    """Table-cell rows → transactions (P10); contract of
    pdfplumber_parser.py:145-178: header row skipped, ≥6 cells, date-anchored.

    Spark-native form: ``filter(size(row) >= 6 AND row[0] rlike anchor)`` +
    struct projection over an ``array<array<string>>`` column.
    """
    out: List[Dict[str, str]] = []
    for table in tables:
        if not table or len(table) < 2:
            continue
        for row in table[1:]:
            if len(row) < 6:
                continue
            cells = [c or "" for c in row]
            if not _ANCHOR_RE.match(cells[0]):
                continue
            out.append(
                {
                    "date": cells[0].strip(),
                    "description": cells[1].strip(),
                    "user": cells[2].strip(),
                    "debit": cells[3].strip(),
                    "credit": cells[4].strip(),
                    "balance": cells[5].strip(),
                }
            )
    return out


def extract_summary_totals(text: str) -> Dict[str, Optional[str]]:
    """Summary-section label→value mapping; contract of utils.py:551-649."""
    result: Dict[str, Optional[str]] = dict.fromkeys(_SUMMARY_KEYS)
    lines = [ln.strip() for ln in text.split("\n")]

    labels: List[Tuple[str, int]] = []
    seen_types = set()
    for idx, ln in enumerate(lines):
        for pat, label_type in _SUMMARY_LABELS:
            if pat.fullmatch(ln):
                if label_type not in seen_types:
                    labels.append((label_type, idx))
                    seen_types.add(label_type)
                break

    if labels:
        first = min(pos for _, pos in labels)
        values: List[Tuple[int, str]] = []
        for idx in range(first, len(lines)):
            ln = lines[idx]
            if ln and _NUMERICISH_RE.fullmatch(ln):
                values.append((idx, ln))
            elif ln and len(values) >= 2:
                break  # end of the consecutive values section
        if values and len(values) >= len(labels):
            for (label_type, _), (_, val) in zip(labels, values):
                result[label_type] = val
        elif values:
            for label_type, label_idx in labels:
                for val_idx, val in values:
                    if val_idx > label_idx:
                        result[label_type] = val
                        break

    for key, pat in _INLINE_TOTAL_RES:  # inline "Label: value" fallback
        if result[key] is None:
            m = pat.search(text)
            if m:
                result[key] = m.group(1).strip()
    return result


def parse_id_number(value: Optional[str]) -> float:
    """Indonesian-format numeric parse; malformed → 0.0 (utils.py:527-548)."""
    if not value or not value.strip():
        return 0.0
    try:
        return float(value.strip().replace(".", "").replace(",", "."))
    except ValueError:
        return 0.0


def normalize_number(value: str) -> str:
    """CSV number normalization; contract of utils.py:363-425.

    ``1.000.000,00`` and ``1,000,000.00`` → ``1000000``; non-numbers pass
    through unchanged; trailing ``.00`` stripped.
    """
    if not value or not value.strip():
        return ""
    if not any(ch.isdigit() for ch in value):
        return value
    s = value.strip()
    comma, period = s.rfind(","), s.rfind(".")
    if comma >= 0 and period >= 0:
        if comma > period:  # Indonesian: '.' thousands, ',' decimal
            parsed = parse_id_number(s)
        else:  # US: ',' thousands, '.' decimal
            try:
                parsed = float(s.replace(",", ""))
            except ValueError:
                return s
    elif comma >= 0:
        try:
            parsed = float(s.replace(",", ""))
        except ValueError:
            return s
    else:
        try:
            parsed = float(s)
        except ValueError:
            return s
    text = f"{parsed:.2f}"
    return text[:-3] if text.endswith(".00") else text


def is_valid_parse(metadata: Dict[str, str], transactions: List[Dict[str, str]]) -> bool:
    """Quality gate; contract of utils.py:484-509."""
    non_empty = sum(1 for v in metadata.values() if v and v.strip())
    if non_empty < 2 or not transactions:
        return False
    return all(t.get("date") and t.get("balance") for t in transactions)


def verify_turnover(
    transactions: List[Dict[str, str]],
    tolerance: float = 0.01,
    summary_text: str = "",
    summary: Optional[Dict[str, Optional[str]]] = None,
) -> Dict[str, object]:
    """Per-document turnover verification; contract of utils.py:686-775.

    In the Spark plan this becomes join J1 + aggregates A1–A3
    (``b_pdf_parser_spark/plans/verify.py``) — this per-doc form exists for
    golden fixtures and the Arrow batch kernel. Pass ``summary`` when the
    caller already ran :func:`extract_summary_totals` (the batch path does)
    to avoid re-scanning every line of the document.
    """
    if summary is None:
        summary = extract_summary_totals(summary_text)
    calc_debit = sum(parse_id_number(t.get("debit", "")) for t in transactions)
    calc_credit = sum(parse_id_number(t.get("credit", "")) for t in transactions)

    ext_debit = parse_id_number(summary["total_debit"]) if summary["total_debit"] else None
    ext_credit = parse_id_number(summary["total_credit"]) if summary["total_credit"] else None

    debit_match = credit_match = False
    debit_disc = credit_disc = 0.0
    if ext_debit is not None:
        debit_disc = abs(ext_debit - calc_debit)
        debit_match = debit_disc <= tolerance
    if ext_credit is not None:
        credit_disc = abs(ext_credit - calc_credit)
        credit_match = credit_disc <= tolerance

    if summary["total_debit"] is None and summary["total_credit"] is None:
        status = "not_available"
        message = "Summary totals not found in PDF - verification not applicable"
    elif debit_match and credit_match:
        status = "passed"
        message = "All turnover totals match within tolerance"
    else:
        status = "failed"
        parts = []
        if ext_debit is not None and not debit_match:
            parts.append(f"debit discrepancy: {debit_disc:,.2f}")
        if ext_credit is not None and not credit_match:
            parts.append(f"credit discrepancy: {credit_disc:,.2f}")
        message = f"Turnover mismatch - {', '.join(parts)}"

    return {
        "passed": status == "passed",
        "debit_match": debit_match,
        "credit_match": credit_match,
        "total_debit_extracted": summary["total_debit"],
        "total_debit_calculated": calc_debit,
        "debit_discrepancy": debit_disc,
        "total_credit_extracted": summary["total_credit"],
        "total_credit_calculated": calc_credit,
        "credit_discrepancy": credit_disc,
        "status": status,
        "message": message,
    }


def document_fields(
    kind: str,
    text: str,
    label_text: str,
    tables: List[List[List[Optional[str]]]],
    url_stem: str,
    verify: bool = True,
) -> Dict[str, object]:
    """The field layer of one extracted document → its six field columns:
    ``metadata``, ``transactions``, ``n_transactions``, ``txn_strategy``,
    ``valid`` and ``verification`` (None when ``verify`` is off).

    ``text`` is the document text (all PDF pages; the HTML main content),
    ``label_text`` the header label-scan surface (the PDF's first page; ALL
    HTML blocks — header label/value lines are short and link-poor, so the
    boilerplate classifier rightly drops them from the content text, but
    they are exactly what the field extractor needs), ``tables`` the
    document's table cell rows and ``url_stem`` the filename the account
    number falls back to (pymupdf_parser.py:62-71).
    """
    meta = extract_metadata(label_text)
    meta["account_no"] = account_no_from_url(url_stem, meta["account_no"])
    # strategy fallback chain (S2 semantics): cell tables first
    # (pdfplumber_parser.py:212-250 tries extract_tables() before any text
    # strategy), then the column-layout cursor walk, then inline one-line
    # rows (PDF only). NOTE on text strategies: the reference's pdfplumber
    # path tries inline before the column walk; we deliberately invert —
    # the column walk takes precedence for pymupdf parity (the primary
    # backend). Orders coincide whenever exactly one strategy matches (true
    # for the whole corpus).
    txns: List[Dict[str, str]] = []
    strategy = "none"
    if tables:
        txns = transactions_from_table_rows(tables)
        if txns:
            strategy = "table"
    if not txns and text:
        txns = extract_transactions(text)
        if txns:
            strategy = "column"
    if not txns and kind == "pdf" and text:
        txns = extract_transactions_inline(text)
        if txns:
            strategy = "inline"
    # summary labels live in ALL blocks for html (the content classifier
    # rightly drops short label lines); for pdf the full multi-page text is
    # the scan surface
    summary = extract_summary_totals(label_text if kind == "html" else text)
    for k in _SUMMARY_KEYS:
        meta[k] = summary.get(k) or ""  # merge rule: only truthy values
    return {
        "metadata": meta,
        "transactions": txns,
        "n_transactions": len(txns),
        "txn_strategy": strategy,
        "valid": is_valid_parse(meta, txns),
        # summary passed through: the line scan already ran above
        "verification": (verify_turnover(txns, 0.01, summary=summary)
                         if verify else None),
    }
