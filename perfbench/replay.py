"""Driver-side replay of the extraction layers on a corpus sample.

A deterministic sample of the corpus (every k-th row in file order) is read
with pyarrow and pushed, in one process, through the public functions in the
order ``operators.extract.make_extract_batch`` calls them: the PDF walk
(``pdfmodel.extract_pdf_pages_and_tables``, split on ``/Encrypt`` in the
payload so the decryption share shows), the HTML walk
(``htmlmodel.extract_html_blocks`` / ``extract_html_tables``), then the field
layer (``fields.extract_metadata_batch``, the table → column → inline
transaction chain, ``extract_summary_totals``, ``verify_turnover``). The
whole ``make_extract_batch`` body is then timed over the same sample; what
the body spends beyond the walk and the field layer is row assembly.
"""

from __future__ import annotations

import statistics
from pathlib import Path

from spans import Tracer

SAMPLE_DOCS = 400
REPS = 5
_SUMMARY_KEYS = ("total_debit", "total_credit", "opening_balance", "closing_balance")


def sample(corpus: Path, n: int = SAMPLE_DOCS):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.concat_tables(
        pq.read_table(p, columns=["url", "warc_ts", "html"])
        for p in sorted(corpus.glob("part-*.parquet"))
    )
    step = max(1, table.num_rows // n)
    return table.take(list(range(0, table.num_rows, step))[:n]).to_pandas()


def _walk(tracer: Tracer, url: str, payload, stats: dict) -> dict:
    from b_pdf_parser_spark import htmlmodel, pdfmodel
    from b_pdf_parser_spark.htmlmodel import _decode_html_bytes
    from b_pdf_parser_spark.operators.extract import _TABLE_HINT_RE

    doc = {"kind": "empty", "text": "", "first": "", "tables": []}
    if payload is None or len(payload) == 0:
        return doc
    if payload[:1024].lstrip()[:5] == b"%PDF-":
        enc = b"/Encrypt" in payload
        stats["pdf_enc" if enc else "pdf_plain"] += 1
        with tracer.span("pdfmodel.encrypted" if enc else "pdfmodel.plain", url):
            try:
                pages, tables = pdfmodel.extract_pdf_pages_and_tables(payload)
            except Exception:
                stats["pdf_errors"] += 1
                return {**doc, "kind": "error"}
        return {"kind": "pdf", "text": "".join(p + "\n" for p in pages),
                "first": pages[0], "tables": tables}
    stats["html"] += 1
    try:
        with tracer.span("htmlmodel.blocks", url):
            html = _decode_html_bytes(payload)
            blocks = htmlmodel.extract_html_blocks(html)
        doc = {"kind": "html",
               "text": "\n".join(b.text for b in blocks if b.is_content),
               "first": "\n".join(b.text for b in blocks), "tables": []}
        if _TABLE_HINT_RE.search(html):
            with tracer.span("htmlmodel.tables", url):
                doc["tables"] = htmlmodel.extract_html_tables(html)
    except Exception:
        return {**doc, "kind": "error"}
    return doc


def _fields(tracer: Tracer, urls, docs, stats: dict) -> None:
    import pandas as pd

    from b_pdf_parser_spark import fields

    with tracer.span("fields.metadata", "batch"):
        fields.extract_metadata_batch(pd.Series([d["first"] for d in docs])).to_dict("records")
    for url, d in zip(urls, docs):
        text = d["text"]
        with tracer.span("fields.txn_chain", url):
            txns, strategy = [], "none"
            if d["tables"]:
                txns = fields.transactions_from_table_rows(d["tables"])
                strategy = "table" if txns else strategy
            if not txns and text:
                txns = fields.extract_transactions(text)
                strategy = "column" if txns else strategy
            if not txns and d["kind"] == "pdf" and text:
                txns = fields.extract_transactions_inline(text)
                strategy = "inline" if txns else strategy
        if d["tables"] or text:
            stats["chain_runs"] += 1
            stats["chain_hits"] += bool(txns)
        stats["strategy." + strategy] += 1
        scan = d["first"] if d["kind"] == "html" else text
        with tracer.span("fields.summary", url):
            summary = (fields.extract_summary_totals(scan) if scan
                       else dict.fromkeys(_SUMMARY_KEYS))
        with tracer.span("fields.verify", url):
            fields.verify_turnover(txns, 0.01, summary=summary)


def _body(tracer: Tracer, frame) -> None:
    from b_pdf_parser_spark.operators.extract import make_extract_batch

    batch = frame.assign(partition_id=0)
    with tracer.span("extract.batch_body", "batch"):
        for _ in make_extract_batch()(iter([batch])):
            pass


_LAYERS = ("pdfmodel.encrypted", "pdfmodel.plain", "htmlmodel.blocks",
           "htmlmodel.tables", "fields.metadata", "fields.txn_chain",
           "fields.summary", "fields.verify", "extract.batch_body")


def run(corpus: Path, tracer: Tracer) -> dict:
    """Replay the sample ``REPS`` times, alternating whether the layer walk
    or the whole body goes first; layer seconds are medians over the
    repetitions, counts come from one repetition."""
    frame = sample(corpus)
    urls = frame["url"].tolist()
    payloads = frame["html"].tolist()
    per_rep: dict[str, list[float]] = {k: [] for k in _LAYERS}
    for rep in range(REPS):
        stats = {k: 0 for k in ("pdf_enc", "pdf_plain", "pdf_errors", "html",
                                "chain_runs", "chain_hits", "strategy.table",
                                "strategy.column", "strategy.inline", "strategy.none")}
        first = len(tracer.spans)
        with tracer.span("replay", "batch"):
            if rep % 2:
                _body(tracer, frame)
            docs = []
            for url, p in zip(urls, payloads):
                with tracer.span("doc", url):
                    docs.append(_walk(tracer, url, p, stats))
            _fields(tracer, urls, docs, stats)
            if not rep % 2:
                _body(tracer, frame)
        new = tracer.spans[first:]
        for k in _LAYERS:
            per_rep[k].append(sum(s["end"] - s["start"] for s in new if s["name"] == k))
    t = {k: statistics.median(v) for k, v in per_rep.items()}
    n = len(urls)
    n_pdf = stats["pdf_enc"] + stats["pdf_plain"]
    walk = t["pdfmodel.encrypted"] + t["pdfmodel.plain"] + t["htmlmodel.blocks"] + t["htmlmodel.tables"]
    field = t["fields.metadata"] + t["fields.txn_chain"] + t["fields.summary"] + t["fields.verify"]

    def per(x, d):
        return x / d if d else 0.0

    return {
        "docs": n,
        "pdfmodel.s_per_doc": per(t["pdfmodel.encrypted"] + t["pdfmodel.plain"], n_pdf),
        "pdfmodel.encrypted.s_per_doc": per(t["pdfmodel.encrypted"], stats["pdf_enc"]),
        "pdfmodel.plain.s_per_doc": per(t["pdfmodel.plain"], stats["pdf_plain"]),
        "pdfmodel.error_docs": stats["pdf_errors"],
        "htmlmodel.blocks_s_per_doc": per(t["htmlmodel.blocks"], stats["html"]),
        "htmlmodel.tables_s_per_doc": per(t["htmlmodel.tables"], stats["html"]),
        "fields.metadata_s_per_doc": per(t["fields.metadata"], n),
        "fields.txn_chain_s_per_doc": per(t["fields.txn_chain"], n),
        "fields.summary_s_per_doc": per(t["fields.summary"], n),
        "fields.verify_s_per_doc": per(t["fields.verify"], n),
        "fields.txn_hit_ratio": per(stats["chain_hits"], stats["chain_runs"]),
        "fields.strategy.table": stats["strategy.table"],
        "fields.strategy.column": stats["strategy.column"],
        "fields.strategy.inline": stats["strategy.inline"],
        "fields.strategy.none": stats["strategy.none"],
        "extract.batch_body_s_per_doc": per(t["extract.batch_body"], n),
        "extract.assembly_s_per_doc": per(t["extract.batch_body"] - walk - field, n),
    }
