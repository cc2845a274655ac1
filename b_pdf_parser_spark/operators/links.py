"""Outlink extraction + host-graph aggregation (the link-graph stage of a
web-scale pipeline: crawl frontiers, PageRank-style host ranking, spam-host
heuristics all start from exactly this edge table).

Spark shape: one Arrow-batch Python dispatch per document for the byte-level
href walk (``htmlmodel.extract_links``), then pure column expressions —
host parsing is a codegen'd ``regexp_extract`` and the host roll-ups
(PageRank, robots decisions) shuffle on the host key with map-side partial
aggregation. At 10^12 pages the edge table is the biggest intermediate in
the pipeline; keeping it (url, href, anchor) narrow and letting the host
roll-up reduce map-side is what makes it tractable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import arrow_kernel

__all__ = [
    "extract_outlinks",
    "host_pagerank",
    "parse_robots",
    "robots_filter",
    "synth_linkdoc_df",
    "synth_pdflink_doc_df",
    "extract_pdf_outlinks",
]

LINKS_SCHEMA_DDL = "doc_id BIGINT, href STRING, anchor STRING"

# scheme://host[/...] — same regex evaluates identically in DuckDB, so the
# host roll-up stays oracle-portable (no engine-specific parse_url)
_HOST_PATTERN = r"^[a-z][a-z0-9+.-]*://([^/?#]+)"


def synth_linkdoc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` deterministic HTML documents, doc ``i`` carrying ``i % 5``
    outlinks to ``https://host{(i*k) % 20}.example/p{k}`` — every href a
    pure function of (i, k), so a DuckDB oracle recomputes the expected
    edge table while the Spark path walks REAL markup (nav boilerplate,
    nested tags, entities, unquoted attributes)."""

    def row(i: int) -> dict:
        anchors = "".join(
            (
                f'<li><a href="https://host{(i * k) % 20}.example/p{k}">'
                f"go &amp; see {k}</a></li>"
                if k % 2
                else f"<li><a href=https://host{(i * k) % 20}.example/p{k}>"
                     f"go &amp; see <b>{k}</b></a></li>"
            )
            for k in range(1, 1 + i % 5)
        )
        html = (
            f"<html><head><title>doc {i}</title></head><body>"
            f"<nav><a name='top'>menu</a></nav>"
            f"<article><p>Body text of document {i}.</p>"
            f"<ul>{anchors}</ul></article></body></html>"
        )
        return {"doc_id": i, "html": html.encode("utf-8")}

    return arrow_kernel(
        spark.range(0, n, 1, num_partitions),
        lambda bs: ([row(i) for i in b["id"].tolist()] for b in bs),
        "doc_id BIGINT, html BINARY",
    )


def extract_outlinks(docs: DataFrame, id_col: str = "doc_id", html_col: str = "html") -> DataFrame:
    """(doc, href, anchor) edges via the byte-level href walk."""

    def run(batches):
        from b_pdf_parser_spark.htmlmodel import extract_links

        for b in batches:
            yield [
                {"doc_id": did, **link}
                for did, payload in zip(b[id_col].tolist(), b[html_col].tolist())
                if payload is not None
                for link in extract_links(payload)
            ]

    return arrow_kernel(docs, run, LINKS_SCHEMA_DDL)


def host_pagerank(
    edges: DataFrame, iters: int = 3, scale: int = 10**12, damping_pct: int = 85
) -> DataFrame:
    """Host-level PageRank over ``(src, dst)`` edges — the crawl-priority
    signal schedulers rank frontiers by — in **fixed-point integer
    arithmetic**: ranks are BIGINT micro-units of ``scale`` with truncating
    division. Floating-point PageRank is partition-dependent (distributed
    SUM order perturbs low bits); integer sums are order-independent, so
    the same job gives bit-identical ranks on 1 or 1,000 executors and the
    DuckDB oracle verifies exact values, not approximations.

    Plan per iteration: one src-keyed equi-join + one dst-keyed groupBy,
    both linear, partial-aggregated map-side. The rank/degree tables have
    host cardinality (≪ edges) — broadcastable at web scale; the 1-row
    host count enters as a broadcast crossJoin, never a driver collect.
    Simplified model: dangling-host mass is not redistributed (mirrored in
    the oracle).
    """
    e = edges.select("src", "dst").distinct()
    # e feeds outdeg + every iteration's join; cut the re-computation
    e = e.localCheckpoint(eager=False)
    hosts = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    n1 = hosts.agg(F.count("*").alias("n"))  # 1-row dimension
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    r = hosts.crossJoin(F.broadcast(n1)).select(
        "host", F.expr(f"CAST({scale} AS BIGINT) DIV n").alias("rank")
    )
    base = F.expr(f"(CAST({scale} AS BIGINT) * {100 - damping_pct} DIV 100) DIV n")
    for _ in range(iters):
        contrib = (
            e.join(r.withColumnRenamed("host", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("host"), F.expr("rank DIV outdeg").alias("c"))
        )
        summed = contrib.groupBy("host").agg(F.sum("c").alias("s"))
        r = (
            hosts.crossJoin(F.broadcast(n1))
            .join(summed, "host", "left")
            .select(
                "host",
                (
                    base
                    + F.expr(f"{damping_pct} * coalesce(s, CAST(0 AS BIGINT)) DIV 100")
                ).alias("rank"),
            )
        )
    return r


def parse_robots(robots: DataFrame, host_col: str = "host",
                 txt_col: str = "robots_txt") -> DataFrame:
    """robots.txt text → (host, rule_path, allow) rows, entirely relational
    (RFC 9309 line grammar, no UDF): explode lines, strip comments, parse
    ``User-agent/Allow/Disallow`` directives case-insensitively, assign each
    line to its User-agent *group* (a maximal run of consecutive UA lines
    starts a group — the running-sum window below), and keep the rules of
    groups that name ``*``. Empty Disallow (the "allow all" idiom) is
    dropped. Feeds :func:`robots_filter` directly.

    Scale shape: one posexplode + two windows partitioned by host — robots
    files are small and per-host, so partitions stay tiny at any corpus
    size.
    """
    from pyspark.sql import Window

    # split on \r?\n and strip all edge whitespace explicitly — Spark's
    # trim() removes only spaces, so CRLF files would otherwise leave a
    # trailing \r inside every rule path
    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(txt_col), r"\r?\n")).alias("pos", "raw"),
    ).select(
        "host", "pos",
        F.regexp_replace(
            F.regexp_replace("raw", r"#.*$", ""), r"^\s+|\s+$", ""
        ).alias("line"),
    )
    parsed = lines.select(
        "host", "pos",
        F.lower(F.regexp_extract("line", r"^([A-Za-z-]+)\s*:", 1)).alias("kind"),
        F.trim(F.regexp_extract("line", r"^[A-Za-z-]+\s*:\s*(.*)$", 1)).alias("value"),
    ).filter(F.col("kind").isin("user-agent", "allow", "disallow"))
    w = Window.partitionBy("host").orderBy("pos")
    grouped = parsed.select(
        "host", "pos", "kind", "value",
        F.sum(
            F.when(
                (F.col("kind") == "user-agent")
                & (F.coalesce(F.lag("kind").over(w), F.lit("")) != "user-agent"),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).over(w).alias("grp"),
    )
    star = (
        grouped.filter(F.col("kind") == "user-agent")
        .groupBy("host", "grp")
        .agg(F.max(F.when(F.col("value") == "*", 1).otherwise(0)).alias("is_star"))
        .filter(F.col("is_star") == 1)
        .select("host", "grp")
    )
    return (
        grouped.filter(F.col("kind").isin("allow", "disallow"))
        .join(star, ["host", "grp"])
        .filter(F.col("value") != "")
        .select(
            "host",
            F.col("value").alias("rule_path"),
            (F.col("kind") == "allow").alias("allow"),
        )
        .distinct()
    )


def robots_filter(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """robots.txt decision per URL (RFC 9309 / Google semantics): among the
    host's rules whose path is a prefix of the URL path, the MOST SPECIFIC
    (longest) wins; length ties resolve to allow; a URL with no matching
    rule is allowed.

    ``urls``:  (url, host, path)   ``rules``: (host, rule_path, allow)

    Pure relational plan — a host-keyed equi-join against the rules
    dimension (per-host rulesets are tiny: broadcastable at any scale),
    prefix test as a codegen'd ``startswith``, then one per-URL window to
    pick the winning rule. No UDF, and the same ordering expression runs
    verbatim in the DuckDB oracle.
    """
    from pyspark.sql import Window

    matches = urls.join(rules, "host").filter(
        F.col("path").startswith(F.col("rule_path"))
    )
    w = Window.partitionBy("url").orderBy(
        F.length("rule_path").desc(), F.col("allow").desc()
    )
    best = (
        matches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("url", "allow")
    )
    return urls.join(best, "url", "left").select(
        "url", "host", "path", F.coalesce("allow", F.lit(True)).alias("allowed")
    )


# ---------------------------------------------------------------------------
# PDF outlinks (URI link annotations — the PDF half of the link graph)
# ---------------------------------------------------------------------------

PDF_LINKS_SCHEMA_DDL = "doc_id BIGINT, page INT, uri STRING"


def synth_pdflink_doc_df(spark, n: int, num_partitions: int = 8) -> DataFrame:
    """``n`` deterministic PDFs, doc ``i`` carrying ``i % 4`` URI link
    annotations to ``https://host{(i*k) % 20}.example/d{k}`` — real PDFs
    through the writer (alternating emission modes), formulas the DuckDB
    oracle recomputes."""
    from ..pdfwriter import build_pdf

    def row(i: int) -> dict:
        spans = [[(40.0, 700.0, f"pdf with links {i}")]]
        links = [
            (0, f"https://host{(i * k) % 20}.example/d{k}")
            for k in range(1, 1 + i % 4)
        ]
        return {"doc_id": i, "pdf": build_pdf(spans, xref_stream=(i % 2 == 0), links=links)}

    return arrow_kernel(
        spark.range(0, n, 1, num_partitions),
        lambda bs: ([row(i) for i in b["id"].tolist()] for b in bs),
        "doc_id BIGINT, pdf BINARY",
    )


def extract_pdf_outlinks(docs: DataFrame, id_col: str = "doc_id", pdf_col: str = "pdf") -> DataFrame:
    """(doc, page, uri) edges from URI link annotations (one Arrow-batch
    Python dispatch per document; corrupt docs contribute no rows)."""

    def run(batches):
        from b_pdf_parser_spark.pdfmodel import link_annotations

        for b in batches:
            rows = []
            for did, payload in zip(b[id_col].tolist(), b[pdf_col].tolist()):
                if payload is None:
                    continue
                try:
                    for rec in link_annotations(payload):
                        rows.append({"doc_id": did, **rec})
                except Exception:  # same contract as the extraction
                    # operator (S10): a corrupt document (PdfError, or e.g.
                    # a ValueError from a mangled AES stream) must
                    # contribute no rows, never fail the task
                    continue
            yield rows

    return arrow_kernel(docs, run, PDF_LINKS_SCHEMA_DDL)
