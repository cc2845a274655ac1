"""URL canonicalization as Catalyst SQL expressions.

Crawl dedup starts BEFORE content dedup: ``HTTP://Host.Example:80/p#frag``
and ``http://host.example/p`` are the same fetch, and a frontier that
doesn't canonicalize re-crawls (and re-stores) every casing/port/fragment
variant. The rules here are the standard safe subset (RFC 3986 §6.2.2-6.2.3
syntax-based normalization): lowercase scheme+host, strip the fragment,
strip default ports (http:80 / https:443), and give host-only URLs the
``/`` root path.

Each helper takes a column NAME and returns one ``F.expr``: the whole rule
is one SQL expression of regexps and a CASE, built with one Py4J crossing
(the build rule in ``operators``), run by whole-stage codegen with no UDF.
Strings without a ``scheme://`` prefix pass through trimmed (opaque ids
stay stable keys). The patterns are SQL raw strings, so they read the same
under any ``spark.sql.parser.escapedStringLiterals``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

from ..operators import sql_name

__all__ = ["url_host", "canonical_url"]

_SCHEME = "^[A-Za-z][A-Za-z0-9+.-]*://"
_HOST = _SCHEME + "([^/?#]+)"
# scheme://authority; the authority may be empty, so it matches exactly
# when _SCHEME does
_ORIGIN = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
_REST = _SCHEME + "[^/?#]+([^#]*)"  # path+query, fragment dropped
# the default port is scheme-aware (:8080 on http must survive) and is cut
# only at the very end of the lowercased origin (\z, not $, which also
# matches before a final line break)
_DEFAULT_PORT = r"^(http://[^/?#]*):80\z|^(https://[^/?#]*):443\z"


def url_host(col: str) -> Column:
    """Lowercased authority (host[:port]) of the string column ``col``; ''
    for non-URL strings."""
    return F.expr(f"lower(regexp_extract({sql_name(col)}, r'{_HOST}', 1))")


def canonical_url(col: str) -> Column:
    """The canonical form of the string column ``col``: lowercased
    ``scheme://host``, default port cut, fragment dropped, ``/`` for an
    empty path; a string with no ``scheme://`` prefix comes back trimmed."""
    t = f"trim({sql_name(col)})"
    origin = f"lower(regexp_extract({t}, r'{_ORIGIN}', 1))"
    origin = f"regexp_replace({origin}, r'{_DEFAULT_PORT}', '$1$2')"
    rest = f"coalesce(nullif(regexp_extract({t}, r'{_REST}', 1), ''), '/')"
    return F.expr(f"CASE WHEN {t} RLIKE r'{_SCHEME}' THEN concat({origin}, {rest}) ELSE {t} END")
