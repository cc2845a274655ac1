"""Outlink harvesting: byte-level href walk edge cases + the host-degree
roll-up. (Value-level oracle parity for `outlinks`/`link_hosts` is covered
by tests/test_entry_oracle.py.)"""

from b_pdf_parser_spark.htmlmodel import extract_links

MESSY = b"""<html><body>
<a href="https://x.example/a">First &amp; best</a>
<a href='https://y.example/b?q=1'>two<b>bold</b></a>
<a href=https://z.example/c>bare</a>
<a name="noref">no href</a>
<abbr>not a link</abbr>
<!-- <a href="https://commented.example/">out</a> -->
<a href="https://t.example/d">unclosed anchor text"""


def test_extract_links_edge_cases():
    links = extract_links(MESSY)
    assert [l["href"] for l in links] == [
        "https://x.example/a",
        "https://y.example/b?q=1",
        "https://z.example/c",
        "https://commented.example/",  # commented markup is still bytes to a
        "https://t.example/d",         # frontier builder; droppable downstream
    ]
    by = {l["href"]: l["anchor"] for l in links}
    assert by["https://x.example/a"] == "First & best"   # entity decoded
    assert by["https://y.example/b?q=1"] == "two bold"   # inner tags stripped
    assert by["https://t.example/d"] == "unclosed anchor text"


def test_extract_links_empty_and_binary():
    assert extract_links(b"") == []
    assert extract_links(b"no markup at all") == []
    assert extract_links(b"\xff\xfe<\x00a\x00 \x00h\x00r\x00e\x00f\x00=\x00x\x00>\x00") != []


def test_host_degrees(spark):
    from b_pdf_parser_spark.operators.links import extract_outlinks, synth_linkdoc_df

    edges = extract_outlinks(synth_linkdoc_df(spark, 40, num_partitions=4)).collect()
    # sum over i<40 of i%5 = 8 * (0+1+2+3+4)
    assert len(edges) == 80
    # per-host in-degree of the outlink graph: (edges, distinct source docs)
    hosts = {}
    for r in edges:
        deg = hosts.setdefault(r.href.split("/")[2], [0, set()])
        deg[0] += 1
        deg[1].add(r.doc_id)
    assert all(h.startswith("host") and h.endswith(".example") for h in hosts)
    assert sum(n for n, _ in hosts.values()) == 80
    # every host's distinct-doc count is bounded by its inlink count
    assert all(len(d) <= n for n, d in hosts.values())


# ---- error-contract property tests ------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=4096))
def test_extract_links_is_total(data):
    # the href walk is a total function of bytes: any input → a list of
    # {href, anchor} string pairs, never an exception
    out = extract_links(data)
    assert all(
        isinstance(l["href"], str) and isinstance(l["anchor"], str) for l in out
    )


# ---- PDF link annotations ----------------------------------------------------

from b_pdf_parser_spark.pdfmodel import PdfError, link_annotations
from b_pdf_parser_spark.pdfwriter import build_pdf


def test_pdf_link_annotations_roundtrip():
    spans = [[(40.0, 700.0, "Hello")], [(40.0, 700.0, "Two")]]
    links = [(0, "https://a.example/x"), (1, "https://c.example/(z)")]
    for xs in (False, True):
        pdf = build_pdf(spans, xref_stream=xs, links=links)
        got = link_annotations(pdf)
        assert got == [
            {"page": 0, "uri": "https://a.example/x"},
            {"page": 1, "uri": "https://c.example/(z)"},  # escaped parens survive
        ]
        assert link_annotations(build_pdf(spans, xref_stream=xs)) == []


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=2048))
def test_link_annotations_never_raises_anything_but_pdferror(data):
    try:
        link_annotations(b"%PDF-" + data)
    except PdfError:
        pass


def test_spark_pdf_outlinks(spark):
    from b_pdf_parser_spark.operators.links import (
        extract_pdf_outlinks,
        synth_pdflink_doc_df,
    )

    edges = extract_pdf_outlinks(synth_pdflink_doc_df(spark, 40, num_partitions=4))
    # sum over i<40 of i%4 = 10 * (0+1+2+3)
    assert edges.count() == 60
    r = {(e.doc_id, e.uri) for e in edges.collect()}
    assert (7, "https://host14.example/d2") in r  # (7*2)%20 = 14


def test_host_pagerank_matches_integer_reference(spark):
    from b_pdf_parser_spark.operators.links import host_pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "a")], "src string, dst string"
    )
    got = {r["host"]: r["rank"] for r in host_pagerank(edges, iters=3).collect()}

    # mirror of the fixed-point recurrence in plain Python ints
    s = 10**12
    outdeg = {"a": 2, "b": 1}
    r = {h: s // 3 for h in "abc"}
    for _ in range(3):
        inbox = {"a": r["b"] // 1, "b": r["a"] // 2, "c": r["a"] // 2}
        r = {h: (s * 15 // 100) // 3 + 85 * inbox.get(h, 0) // 100 for h in "abc"}
    assert got == r
    # dangling host c keeps only redistributed mass; a out-ranks it
    assert got["a"] > got["c"]


def test_host_pagerank_partitioning_independent(spark):
    from b_pdf_parser_spark.operators.links import host_pagerank

    rows = [(f"h{i % 7}", f"h{(i * 3) % 7}") for i in range(50) if i % 7 != (i * 3) % 7]
    df1 = spark.createDataFrame(rows, "src string, dst string")
    a = {(r["host"], r["rank"]) for r in host_pagerank(df1).collect()}
    b = {(r["host"], r["rank"])
         for r in host_pagerank(df1.repartition(13)).collect()}
    assert a == b  # bit-identical under re-partitioning (the fixed-point claim)


def test_robots_filter_longest_prefix_semantics(spark):
    from b_pdf_parser_spark.operators.links import robots_filter

    urls = spark.createDataFrame(
        [
            ("https://a/x/secret", "a", "/x/secret"),   # /x disallow wins over /
            ("https://a/x/pub/1", "a", "/x/pub/1"),     # /x/pub allow wins over /x
            ("https://a/open", "a", "/open"),           # only / matches → allow
            ("https://b/x/secret", "b", "/x/secret"),   # no rules for host b → allow
            ("https://a/tie", "a", "/tie"),             # equal-length conflict → allow
        ],
        "url string, host string, path string",
    )
    rules = spark.createDataFrame(
        [
            ("a", "/", True),
            ("a", "/x", False),
            ("a", "/x/pub", True),
            ("a", "/tie", False),
            ("a", "/tie", True),
        ],
        "host string, rule_path string, allow boolean",
    )
    got = {r["url"]: r["allowed"] for r in robots_filter(urls, rules).collect()}
    assert got == {
        "https://a/x/secret": False,
        "https://a/x/pub/1": True,
        "https://a/open": True,
        "https://b/x/secret": True,
        "https://a/tie": True,
    }


def test_parse_robots_group_semantics(spark):
    from b_pdf_parser_spark.operators.links import parse_robots

    txt = (
        "# comment\n"
        "User-agent: googlebot\n"      # non-star group: its rules excluded
        "Disallow: /google-only\n"
        "\n"
        "User-agent: helper\n"          # consecutive UA lines merge into one
        "user-agent: *\n"               # group; '*' makes the group apply
        "Allow: /\n"
        "DISALLOW: /private # trailing comment\n"
        "Disallow:\n"                   # empty Disallow = allow-all idiom, dropped
        "\n"
        "User-agent: other\n"           # later non-star group excluded again
        "Disallow: /never\n"
    )
    df = spark.createDataFrame([("h.example", txt)], "host string, robots_txt string")
    got = {(r["rule_path"], r["allow"]) for r in parse_robots(df).collect()}
    assert got == {("/", True), ("/private", False)}


def test_parse_robots_no_star_group_yields_nothing(spark):
    from b_pdf_parser_spark.operators.links import parse_robots

    df = spark.createDataFrame(
        [("h", "User-agent: bot\nDisallow: /x\n")], "host string, robots_txt string"
    )
    assert parse_robots(df).count() == 0


def test_parse_robots_crlf_and_tabs(spark):
    from b_pdf_parser_spark.operators.links import parse_robots

    txt = "User-agent: *\r\n\tAllow: /ok\t\r\nDisallow: /no \r\n"
    df = spark.createDataFrame([("h", txt)], "host string, robots_txt string")
    got = {(r["rule_path"], r["allow"]) for r in parse_robots(df).collect()}
    assert got == {("/ok", True), ("/no", False)}


def test_extract_links_nested_and_implicitly_closed_anchors():
    # browsers implicitly close an open <a> at the next <a> start tag: both
    # hrefs must surface and neither anchor text swallows the other's markup
    html = b'<a href="https://a.example/">x <a href="https://b.example/">y</a> tail'
    links = extract_links(html)
    assert [l["href"] for l in links] == ["https://a.example/", "https://b.example/"]
    assert links[0]["anchor"] == "x"
    assert links[1]["anchor"] == "y"
    # an unclosed anchor followed by another anchor stops at the next open
    html2 = b'<a href="https://c.example/">head <a href="https://d.example/">tail</a>'
    got = extract_links(html2)
    assert [(l["href"], l["anchor"]) for l in got] == [
        ("https://c.example/", "head"),
        ("https://d.example/", "tail"),
    ]


def test_anchor_close_is_not_prefix_matched():
    # '</address>' must not read as '</a'+'ddress>' and truncate the anchor
    html = b'<a href="/x">see <address>HQ</address> map</a> tail'
    links = extract_links(html)
    assert links == [{"href": "/x", "anchor": "see HQ map"}]


def test_unicode_case_change_does_not_desync_offsets():
    # Turkish İ (U+0130) lowercases to TWO characters via str.lower(); the
    # offset-sharing scans must therefore use a length-preserving lowercase
    html = ("<html><head><title>İSTANBUL İİİ</title>"
            "<style>x{}</style></head><body>"
            '<a href="/tr">İzmir</a></body></html>').encode("utf-8")
    links = extract_links(html)
    assert links == [{"href": "/tr", "anchor": "İzmir"}]
