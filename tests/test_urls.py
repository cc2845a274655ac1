"""URL canonicalization unit tests (oracle parity for `canonical_urls` is in
tests/test_entry_oracle.py)."""

import random

import pyspark.sql.functions as F
from pyspark.sql import Column

from b_pdf_parser_spark.functions.urls import canonical_url, url_host

CASES = [
    ("HTTP://Host.Example:80/path#frag", "http://host.example/path"),
    ("https://x.example:443/?q=1#a", "https://x.example/?q=1"),
    ("https://x.example:8443/p", "https://x.example:8443/p"),  # non-default port kept
    ("http://x.example:8080/", "http://x.example:8080/"),
    ("https://X.example", "https://x.example/"),               # root path added
    ("ftp://Files.Example:21/pub", "ftp://files.example:21/pub"),  # unknown default kept
    ("  https://pad.example/a  ", "https://pad.example/a"),    # trimmed
    ("not a url", "not a url"),                                # opaque passthrough
    ("", ""),
]


def test_canonical_url_cases(spark):
    df = spark.createDataFrame([(r,) for r, _ in CASES], "raw string")
    got = [r.c for r in df.select(canonical_url("raw").alias("c")).collect()]
    assert got == [want for _, want in CASES]


def test_url_host(spark):
    df = spark.createDataFrame(
        [("HTTPS://WWW.Example:8443/p?q#f",), ("nope",)], "raw string"
    )
    got = [r.h for r in df.select(url_host("raw").alias("h")).collect()]
    assert got == ["www.example:8443", ""]


def test_canonicalization_is_idempotent(spark):
    df = spark.createDataFrame([(r,) for r, _ in CASES], "raw string")
    once = df.select(canonical_url("raw").alias("c"))
    twice = once.select(canonical_url("c").alias("c"))
    assert [r.c for r in once.collect()] == [r.c for r in twice.collect()]


# The Column-API forms the SQL helpers replaced, kept as the reference for
# the equivalence property below.
_SCHEME = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_REST = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)"


def _ref_url_host(c: Column) -> Column:
    return F.lower(F.regexp_extract(c, _HOST, 1))


def _ref_canonical_url(c: Column) -> Column:
    c = F.trim(c)
    scheme = F.lower(F.regexp_extract(c, _SCHEME, 1))
    host = _ref_url_host(c)
    host = F.when(
        (scheme == "http") & host.endswith(":80"),
        F.regexp_replace(host, ":80$", ""),
    ).when(
        (scheme == "https") & host.endswith(":443"),
        F.regexp_replace(host, ":443$", ""),
    ).otherwise(host)
    rest = F.regexp_extract(c, _REST, 1)
    rest = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(scheme == "", c).otherwise(F.concat(scheme, F.lit("://"), host, rest))


def _messy_url(rng: random.Random):
    """A URL-ish string: scheme and host in mixed case, default and
    non-default ports, paths, queries, fragments and surrounding
    whitespace; or a string that is no URL, empty, or null."""
    kind = rng.random()
    if kind < 0.05:
        return None
    if kind < 0.1:
        return ""
    if kind < 0.2:
        return rng.choice(["not a url", "mailto:x@y.example", "://nohost", "http:/one-slash",
                           "1http://digit.first", "http://", "https:///path", "  ", "x:80",
                           "http://a:80:80", "http://host:80\n"])
    mixed = lambda s: "".join(ch.upper() if rng.random() < 0.5 else ch for ch in s)  # noqa: E731
    scheme = mixed(rng.choice(["http", "https", "ftp", "git+ssh", "a.b-c"]))
    host = mixed(rng.choice(["host", "www.example.com", "x", "", "b\u00fccher.de",
                             "\u0391\u03a3", "h:80x"]))
    port = rng.choice(["", ":80", ":443", ":8080", ":21", ":", ":80\n"])
    path = rng.choice(["", "/", "/a/b", "/A/B/", "/a b", "/%7Euser", "/p:80"])
    query = rng.choice(["", "?q=1", "?a=b&c=d#x", "?"])
    frag = rng.choice(["", "#frag", "#", "#a#b"])
    pad = lambda: rng.choice(["", "", " ", "  ", "\t", "\n"])  # noqa: E731
    return f"{pad()}{scheme}://{host}{port}{path}{query}{frag}{pad()}"


def test_sql_helpers_match_the_column_forms(spark):
    rng = random.Random(20261019)
    raws = [_messy_url(rng) for _ in range(3000)] + [r for r, _ in CASES]
    df = spark.createDataFrame([(i, r) for i, r in enumerate(raws)], "i int, raw string")
    got = df.select(
        "i", "raw",
        canonical_url("raw").alias("c"), _ref_canonical_url(F.col("raw")).alias("c_ref"),
        url_host("raw").alias("h"), _ref_url_host(F.col("raw")).alias("h_ref"),
    ).collect()
    bad = [r for r in got if r.c != r.c_ref or r.h != r.h_ref]
    assert not bad, bad[:5]
    # the draw reaches every branch: both default-port cuts, a kept
    # non-default port, the root path, passthrough, and null
    pairs = [(r.raw.strip().lower(), r.c) for r in got if r.raw and r.c]
    for hit in (
        lambda raw, c: raw.startswith("http://host:80/") and c.startswith("http://host/"),
        lambda raw, c: raw.startswith("https://host:443/") and c.startswith("https://host/"),
        lambda raw, c: raw.startswith("http://host:8080") and c.startswith("http://host:8080"),
        lambda raw, c: raw.endswith("://host") and c.endswith("://host/"),
        lambda raw, c: raw == c == "not a url",
    ):
        assert any(hit(raw, c) for raw, c in pairs)
    assert any(r.raw is None and r.c is None for r in got)
