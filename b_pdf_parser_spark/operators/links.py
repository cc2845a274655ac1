"""Outlink extraction + host-graph aggregation (the link-graph stage of a
web-scale pipeline: crawl frontiers, PageRank-style host ranking, spam-host
heuristics all start from exactly this edge table).

Spark shape: one Arrow-batch Python dispatch per document for the byte-level
href walk (``htmlmodel.extract_links``), then pure column expressions —
host parsing is a codegen'd ``regexp_extract`` and the degree aggregation is
one shuffle on the host key with map-side partial aggregation. At 10^12
pages the edge table is the biggest intermediate in the pipeline; keeping it
(url, href, anchor) narrow and letting the host roll-up reduce map-side is
what makes it tractable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from . import arrow_kernel

__all__ = [
    "extract_outlinks",
    "anchor_texts",
    "host_degrees",
    "host_pagerank",
    "host_hits",
    "parse_robots",
    "parse_sitemaps",
    "parse_feeds",
    "sitemap_index_urls",
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


def anchor_texts(
    edges: DataFrame,
    href_col: str = "href",
    anchor_col: str = "anchor",
) -> DataFrame:
    """Per-target anchor-text profile over the outlink edge table — the
    anchor-mining aggregate web corpora use to attach external descriptions
    to documents (anchor text approximates queries/titles for ranking and
    training data; cf. the MS MARCO / ORCAS anchor-corpus lineage).

    For every link target: total inlinks, distinct anchor strings, and the
    dominant anchor (most frequent, ties broken lexicographically — fully
    deterministic). Shape at scale: one (href, anchor) pre-aggregation
    (map-side combined — collapses the head target's millions of identical
    anchors before the shuffle), then one href-keyed window pass that
    serves the argmax, the inlink total and the variant count from a
    single Exchange."""
    from pyspark.sql import Window

    pairs = edges.groupBy(href_col, anchor_col).agg(F.count("*").alias("n"))
    w = Window.partitionBy(href_col).orderBy(F.desc("n"), F.asc(anchor_col))
    wt = Window.partitionBy(href_col)
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .withColumn("n_inlinks", F.sum("n").over(wt))
        .withColumn("n_anchors", F.count("*").over(wt))
        .filter(F.col("rn") == 1)
        .select(
            href_col,
            F.col("n_inlinks").cast("long").alias("n_inlinks"),
            F.col("n_anchors").cast("long").alias("n_anchors"),
            F.col(anchor_col).alias("top_anchor"),
            F.col("n").cast("long").alias("top_anchor_n"),
        )
    )


def host_degrees(edges: DataFrame) -> DataFrame:
    """Host-level in-degree: total inlinks + distinct linking documents.
    One shuffle on the host key; both aggregates partial-combine map-side."""
    return (
        edges.select(
            "doc_id", F.regexp_extract("href", _HOST_PATTERN, 1).alias("host")
        )
        .filter(F.col("host") != "")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_inlinks"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
    )


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


def host_hits(
    edges: DataFrame, iters: int = 3, scale: int = 10**6
) -> DataFrame:
    """HITS hubs & authorities over ``(src, dst)`` edges (Kleinberg 1999 —
    public) — PageRank's companion crawl signal: authorities are the pages
    worth fetching, hubs the listings worth re-crawling for discovery.
    Same fixed-point BIGINT discipline as :func:`host_pagerank` (integer
    sums are partition-order-independent, so ranks are bit-identical on
    any cluster size and the oracle checks exact values), with L1
    normalization each half-step: ``x * scale DIV total`` (truncating
    division, deterministic).

    Sizing contract: ``scale`` must comfortably exceed the HOST count
    (initial hub = scale DIV n; at n ≥ scale it truncates to 0 and the
    normalization divides by zero) and ``scale²`` must stay inside BIGINT
    (the renormalization computes ``raw·scale`` with ``raw ≤ scale``), so
    ``scale ≤ 3·10^9`` — the default 10^6 serves graphs up to ~10^5
    hosts; a web-scale host graph (~10^8–10^9 hosts) runs at the 10^9
    ceiling with proportionally coarser rank resolution. Plan per
    iteration: two equi-joins + two host-keyed groupBys, all linear and
    map-side combined; the normalization totals are 1-row broadcast
    crossJoins, never driver collects."""
    if iters < 1:
        raise ValueError("host_hits needs at least one iteration")
    e = edges.select("src", "dst").distinct()
    e = e.localCheckpoint(eager=False)
    hosts = (
        e.select(F.col("src").alias("host"))
        .union(e.select(F.col("dst").alias("host")))
        .distinct()
    )
    n1 = hosts.agg(F.count("*").alias("n"))
    h = hosts.crossJoin(F.broadcast(n1)).select(
        "host", F.expr(f"CAST({scale} AS BIGINT) DIV n").alias("hub")
    )
    a = None
    for _ in range(iters):
        ar = (
            e.join(h.withColumnRenamed("host", "src"), "src")
            .groupBy("dst").agg(F.sum("hub").alias("ar"))
            .withColumnRenamed("dst", "host")
        )
        atot = ar.agg(F.sum("ar").alias("at"))
        a = (
            hosts.join(ar, "host", "left")
            .crossJoin(F.broadcast(atot))
            .select(
                "host",
                F.expr(f"coalesce(ar, 0) * {scale} DIV at").alias("authority"),
            )
        )
        hr = (
            e.join(a.withColumnRenamed("host", "dst"), "dst")
            .groupBy("src").agg(F.sum("authority").alias("hr"))
            .withColumnRenamed("src", "host")
        )
        htot = hr.agg(F.sum("hr").alias("ht"))
        h = (
            hosts.join(hr, "host", "left")
            .crossJoin(F.broadcast(htot))
            .select(
                "host",
                F.expr(f"coalesce(hr, 0) * {scale} DIV ht").alias("hub"),
            )
        )
    return a.join(h, "host")


def _xml_unescape(c: F.Column) -> F.Column:
    """The five XML predefined entities (sitemap locs escape & as &amp;).
    amp last, so '&amp;lt;' decodes to the literal '&lt;' like real parsers."""
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&apos;", "'"), ("&amp;", "&")):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def parse_sitemaps(
    df: DataFrame, host_col: str = "host", xml_col: str = "xml"
) -> DataFrame:
    """XML sitemap (sitemaps.org protocol) → one row per ``<url>`` entry:
    (host, loc, lastmod, changefreq, priority) — entirely relational, the
    discovery-side complement of :func:`parse_robots` (robots says what may
    be crawled; sitemaps say what exists and how fresh it is).

    Tolerances matching real feeds: arbitrary whitespace/newlines inside
    entries, missing optional fields (lastmod/changefreq → null, priority →
    the protocol's 0.5 default), XML-escaped ampersands in locs, attributes
    on the ``<urlset>``/``<url>`` tags. Entries with no ``<loc>`` are
    dropped. ``<![CDATA[...]]>`` locs are not supported (rare in practice
    and regex-hostile; a feed using them parses to no rows, never garbage).

    Scale shape: regexp_extract_all + explode is map-only per sitemap doc;
    sitemap files cap at 50k urls / 50 MB by protocol, so one document is
    always one task's worth of work. The same (?s) RE2 patterns run
    verbatim in the DuckDB oracle.
    """
    blocks = df.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.expr(f"regexp_extract_all({xml_col}, '(?s)<url[ >](.*?)</url>', 1)")
        ).alias("entry"),
    )
    loc = F.regexp_extract("entry", r"(?s)<loc>\s*(.*?)\s*</loc>", 1)
    lastmod = F.regexp_extract("entry", r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1)
    freq = F.regexp_extract("entry", r"(?s)<changefreq>\s*(.*?)\s*</changefreq>", 1)
    prio = F.regexp_extract("entry", r"(?s)<priority>\s*(.*?)\s*</priority>", 1)
    return (
        blocks.select(
            "host",
            _xml_unescape(loc).alias("loc"),
            F.when(lastmod != "", lastmod).alias("lastmod"),
            F.when(freq != "", F.lower(freq)).alias("changefreq"),
            F.coalesce(prio.try_cast("double"), F.lit(0.5)).alias("priority"),
        )
        .filter(F.col("loc") != "")
    )


def parse_feeds(
    df: DataFrame, id_col: str = "feed_id", xml_col: str = "xml"
) -> DataFrame:
    """RSS 2.0 / Atom 1.0 syndication feeds → one row per item/entry:
    ``(feed_id, kind, item_ix, title, link, pub_date)`` — entirely
    relational like :func:`parse_sitemaps` (regexp_extract_all + explode;
    zero Python in the hot path, the same RE2 patterns restate in DuckDB).
    Feeds are the freshness side of crawl discovery: sitemaps say what
    exists, feeds say what just changed.

    Tolerances matching real feeds: ``<![CDATA[...]]>`` titles pass their
    content RAW (real feeds put markup there), plain titles get the five
    XML entities decoded, attributes on ``<entry>``/``<title>``/``<link>``
    tags are ignored, a missing date yields null, and a TRUNCATED trailing
    item (no close tag) is dropped, never garbage. RSS dates (RFC 822
    ``Tue, 02 Jan 2024 …``) and Atom dates (ISO 8601) both normalize to
    ``YYYY-MM-DD``; RSS ``<link>`` is element text, Atom's is the ``href``
    attribute — the two syntaxes unify into one schema.

    Scale shape: map-only per feed document (posexplode of the per-doc
    match list); feeds are small by protocol convention, so one document
    is far below one task's worth of work."""
    src = df.select(F.col(id_col).alias("feed_id"), F.col(xml_col).alias("xml"))
    kind = (
        F.when(F.col("xml").rlike("<rss[ >]"), F.lit("rss"))
        .when(F.col("xml").rlike("<feed[ >]"), F.lit("atom"))
    )
    base = src.withColumn("kind", kind).filter(F.col("kind").isNotNull())
    items = base.select(
        "feed_id",
        "kind",
        F.posexplode(
            F.when(
                F.col("kind") == "rss",
                F.expr(
                    "regexp_extract_all(xml, '(?s)<item[ >](.*?)</item>', 1)"
                ),
            ).otherwise(
                F.expr(
                    "regexp_extract_all(xml, '(?s)<entry[ >](.*?)</entry>', 1)"
                )
            )
        ).alias("item_ix", "entry"),
    )
    rawt = F.regexp_extract("entry", r"(?s)<title[^>]*>\s*(.*?)\s*</title>", 1)
    cdata = F.regexp_extract(rawt, r"(?s)^<!\[CDATA\[(.*)\]\]>$", 1)
    title = F.when(cdata != "", cdata).otherwise(_xml_unescape(rawt))
    link = F.when(
        F.col("kind") == "rss",
        F.regexp_extract("entry", r"(?s)<link>\s*(.*?)\s*</link>", 1),
    ).otherwise(F.regexp_extract("entry", r'<link[^>]*href\s*=\s*"([^"]*)"', 1))
    rfc = F.regexp_extract(
        "entry", r"(?s)<pubDate>\s*([^<]*?)\s*</pubDate>", 1
    )
    # RFC 822 allows a 1-or-2-digit day and makes the leading weekday
    # OPTIONAL — real feeds use every combination
    _d = r"^(?:[A-Za-z]{3},\s*)?(\d{1,2}) [A-Za-z]{3} \d{4}"
    _m = r"^(?:[A-Za-z]{3},\s*)?\d{1,2} ([A-Za-z]{3}) \d{4}"
    _y = r"^(?:[A-Za-z]{3},\s*)?\d{1,2} [A-Za-z]{3} (\d{4})"
    mon = F.regexp_extract(rfc, _m, 1)
    mm = F.lit(None).cast("string")
    for k, name in enumerate(
        ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
         "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"), start=1
    ):
        mm = F.when(mon == name, F.lit(f"{k:02d}")).otherwise(mm)
    rss_date = F.concat(
        F.regexp_extract(rfc, _y, 1),
        F.lit("-"), mm, F.lit("-"),
        F.lpad(F.regexp_extract(rfc, _d, 1), 2, "0"),
    )
    atom_upd = F.regexp_extract(
        "entry", r"(?s)<updated>\s*(.*?)\s*</updated>", 1
    )
    pub_date = F.when(
        F.col("kind") == "rss", F.when(rfc != "", rss_date)
    ).otherwise(F.when(atom_upd != "", F.substring(atom_upd, 1, 10)))
    return items.select(
        "feed_id", "kind", "item_ix",
        title.alias("title"),
        _xml_unescape(link).alias("link"),
        pub_date.alias("pub_date"),
    )


def sitemap_index_urls(
    df: DataFrame, host_col: str = "host", xml_col: str = "xml"
) -> DataFrame:
    """Sitemap INDEX files → (host, sitemap_loc): the recursion edge a
    crawler follows to fetch child sitemaps (protocol: index files wrap
    ``<sitemap><loc>`` entries instead of ``<url>``)."""
    locs = df.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.expr(
                f"regexp_extract_all({xml_col},"
                " '(?s)<sitemap[ >].*?<loc>\\\\s*(.*?)\\\\s*</loc>.*?</sitemap>', 1)"
            )
        ).alias("raw"),
    )
    return locs.select(
        "host", _xml_unescape(F.col("raw")).alias("sitemap_loc")
    ).filter(F.col("sitemap_loc") != "")


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
