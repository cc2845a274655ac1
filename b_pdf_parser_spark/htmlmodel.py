"""Byte-level HTML tokenizer + boilerplate classifier (no lxml available).

Covers the north-rule HTML path (``BASELINE.json.north_star``: "lxml-free
byte-level HTML tokenizer with text-density/link-density boilerplate
classification (boilerpipe-style block features)"). There is no reference
analog — the reference is PDF-only — so the semantics here are pinned by our
own golden fixtures (FIXTURES.md §3).

Pipeline: bytes → one tag walk over the decoded string, which yields both
text blocks (split at block-level tags, script/style/head content dropped,
entities decoded, whitespace collapsed) and ``<table>`` cell rows → per-block
features (word count, link density, enclosing semantic container) →
densitometric classification (the published boilerpipe
``NumWordsRulesClassifier`` decision tree, Kohlschütter et al., WSDM 2010)
with a DOM-heuristic override for ``nav/header/footer/aside/form`` — →
main-content text = classified blocks joined with ``"\\n"``. An HTML page
with a table is tokenized once: ``extract_html_blocks``,
``extract_html_tables`` and ``extract_html_text`` are views of
``extract_html_blocks_and_tables``. ``extract_links`` is a separate scan
with its own rules.

Pure ``bytes -> str``; safe for an Arrow batch kernel (one Python dispatch
per document).
"""

from __future__ import annotations

import re
from typing import List, NamedTuple, Tuple

__all__ = ["Block", "extract_html_blocks", "extract_html_blocks_and_tables",
           "extract_html_text", "extract_html_tables", "extract_links"]


class Block(NamedTuple):
    text: str
    n_words: int
    n_chars: int
    link_chars: int
    container: str  # innermost semantic ancestor: article/main/nav/header/...
    is_content: bool


# tags whose open OR close terminates the current text block
_BLOCK_TAGS = frozenset(
    """address article aside blockquote body br caption dd div dl dt fieldset
    figcaption figure footer form h1 h2 h3 h4 h5 h6 header hr html li main
    nav ol option p pre section select table tbody td tfoot th thead tr ul
    title""".split()
)
# raw-text elements: content is dropped wholesale
_RAW_TEXT_TAGS = frozenset({"script", "style", "noscript", "template", "svg", "textarea"})
# containers that bias classification
_BOILER_CONTAINERS = frozenset({"nav", "header", "footer", "aside", "form", "head", "title"})
_CONTENT_CONTAINERS = frozenset({"article", "main"})
_SEMANTIC_CONTAINERS = _BOILER_CONTAINERS | _CONTENT_CONTAINERS
_VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)

_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
    "copy": "©",
    "reg": "®",
    "trade": "™",
    "hellip": "…",
    "mdash": "—",
    "ndash": "–",
    "lsquo": "‘",
    "rsquo": "’",
    "ldquo": "“",
    "rdquo": "”",
}

_ENTITY_RE = re.compile(r"&(#x?[0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]{1,30});")
_WS_RUN_RE = re.compile(r"[ \t\r\n\f\v ]+")
_TAG_NAME_RE = re.compile(r"^/?\s*([a-zA-Z][a-zA-Z0-9:-]*)")
# length-preserving lowercase for offset-sharing scans: str.lower() can CHANGE
# string length (e.g. Turkish İ U+0130 → 'i' + combining dot, 2 chars), which
# would desync every offset computed on the lowered copy against the original;
# tag names are ASCII, so translating only A-Z is both safe and exact
_ASCII_LOWER = str.maketrans("ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                             "abcdefghijklmnopqrstuvwxyz")


def _decode_entity(m: re.Match) -> str:
    body = m.group(1)
    if body.startswith("#"):
        try:
            cp = int(body[2:], 16) if body[1] in "xX" else int(body[1:])
            # a surrogate code point is no character (Arrow cannot encode a
            # lone one): kept as the reference text, like out-of-range ones
            if 0 < cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
                return chr(cp)
        except ValueError:
            pass
        return m.group(0)
    # the small table first (frozen-golden behavior, e.g. nbsp → plain
    # space), then the full HTML5 named-entity table (stdlib, ~2k names;
    # case-sensitive per spec, with a lowercase retry for sloppy markup)
    s = _ENTITIES.get(body.lower())
    if s is not None:
        return s
    from html.entities import html5 as _h5

    return _h5.get(body + ";") or _h5.get(body.lower() + ";") or m.group(0)


def _clean_text(raw: str) -> str:
    # entity decode only when an ampersand exists (a sub with no matches is
    # the identity; the containment check is a C scan, the regex pass isn't)
    if "&" in raw:
        raw = _ENTITY_RE.sub(_decode_entity, raw)
    return _WS_RUN_RE.sub(" ", raw)


class _BlockBuilder:
    __slots__ = ("pieces", "link_chars", "container")

    def __init__(self, container: str):
        self.pieces: List[str] = []
        self.link_chars = 0
        self.container = container

    def add(self, text: str, in_link: bool) -> None:
        self.pieces.append(text)
        if in_link:
            self.link_chars += len(text.strip())


def _classify(blocks: List[Block]) -> List[Block]:
    """Boilerpipe NumWordsRulesClassifier + semantic-container overrides."""
    out: List[Block] = []
    n = len(blocks)
    for i, b in enumerate(blocks):
        prev = blocks[i - 1] if i > 0 else None
        nxt = blocks[i + 1] if i + 1 < n else None
        if b.container in _BOILER_CONTAINERS:
            content = False
        elif b.container in _CONTENT_CONTAINERS and b.n_words >= 2:
            content = True
        else:
            ld = b.link_chars / b.n_chars if b.n_chars else 0.0
            prev_ld = (prev.link_chars / prev.n_chars) if (prev and prev.n_chars) else 0.0
            if ld > 0.333333:
                content = False
            elif prev_ld <= 0.555556:
                content = (
                    b.n_words > 16
                    or (nxt is not None and nxt.n_words > 15)
                    or (prev is not None and prev.n_words > 4 and b.n_words > 3)
                )
            else:
                content = b.n_words > 40 or (nxt is not None and nxt.n_words > 17)
        out.append(b._replace(is_content=content))
    return out


# WHATWG-style encoding sniff: BOM wins, then a prescan of the first 1024
# bytes for a declared <meta charset> / http-equiv content-type, then UTF-8,
# then windows-1252 (the WHATWG legacy default — latin-1 labels alias to it;
# the 0x80-0x9F range is where real web text puts € and smart quotes), and
# latin-1 as the never-fails last resort (cp1252 leaves 5 bytes unmapped).
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([a-zA-Z0-9_-]+)", re.I
)
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "iso-8859-1": "cp1252", "latin-1": "cp1252", "latin1": "cp1252",
    "us-ascii": "cp1252", "ascii": "cp1252",
}


def _decode_html_bytes(data: bytes) -> str:
    if data[:2] in (b"\xff\xfe", b"\xfe\xff"):  # UTF-16 BOM sniff
        try:
            return data.decode("utf-16")
        except UnicodeDecodeError:
            return data.decode("latin-1")
    if data[:3] == b"\xef\xbb\xbf":
        data = data[3:]
    m = _META_CHARSET_RE.search(data[:1024])
    if m:
        codec = _CHARSET_ALIASES.get(m.group(1).decode("ascii").lower())
        if codec:
            try:
                return data.decode(codec)
            except UnicodeDecodeError:
                pass  # mis-declared page: fall through to the sniff chain
    for codec in ("utf-8", "cp1252"):
        try:
            return data.decode(codec)
        except UnicodeDecodeError:
            continue
    return data.decode("latin-1")


def extract_html_blocks_and_tables(data) -> Tuple[List[Block], List[List[List[str]]]]:
    """One tag walk over HTML (bytes, or an already-decoded ``str``) →
    ``(blocks, tables)``.

    ``blocks`` are the classified text blocks. ``tables`` are the
    ``<table>`` structures as rows of entity-decoded, tag-stripped cell
    strings — the HTML twin of the PDF span-cluster table detection, so an
    HTML bank statement feeds the SAME table→transactions strategy chain
    (``fields.document_fields``) as a PDF one. Each text run feeds both the
    current block and the open cell; each tag event drives both the
    link/container state and the table/row/cell stack.

    Table tolerances matching real markup: unclosed ``<td>``/``<tr>``
    (implicitly closed by the next cell/row/table boundary, as browsers
    do), ``<th>`` treated as a cell, nested tables (inner table is its own
    entry, listed before the outer one; its cells don't leak into the outer
    row), raw-text elements dropped, comments skipped. Tables with no rows
    are omitted.
    """
    html = data if isinstance(data, str) else _decode_html_bytes(data)

    blocks: List[Block] = []
    cur = _BlockBuilder("body")
    container_stack: List[str] = []
    link_depth = 0
    tables: List[List[List[str]]] = []
    # open tables, innermost last: [rows, cur_row_or_None, cell_pieces_or_None]
    tstack: List[list] = []
    lower = html.translate(_ASCII_LOWER)

    def flush() -> None:
        nonlocal cur
        text = _clean_text("".join(cur.pieces)).strip()
        if text:
            words = len(text.split())
            blocks.append(
                Block(text, words, len(text), min(cur.link_chars, len(text)),
                      cur.container, False)
            )
        cur = _BlockBuilder(container_stack[-1] if container_stack else "body")

    def add_text(text: str) -> None:
        cur.add(text, link_depth > 0)
        if tstack and tstack[-1][2] is not None:
            tstack[-1][2].append(text)

    def close_cell() -> None:
        t = tstack[-1]
        if t[2] is not None:
            t[1].append(_clean_text("".join(t[2])).strip())
            t[2] = None

    def close_row() -> None:
        t = tstack[-1]
        close_cell()
        if t[1] is not None:
            if any(c for c in t[1]):
                t[0].append(t[1])
            t[1] = None

    def close_table() -> None:
        close_row()
        rows = tstack.pop()[0]
        if rows:
            tables.append(rows)

    i = 0
    n = len(html)
    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            add_text(html[i:])
            break
        if lt > i:
            add_text(html[i:lt])
        i = lt
        nxt_ch = html[lt + 1 : lt + 2]  # one char probe replaces 3 startswith
        if nxt_ch == "!":
            if html.startswith("<!--", i):  # comment
                end = html.find("-->", i + 4)
                i = n if end < 0 else end + 3
            else:  # doctype
                end = html.find(">", i)
                i = n if end < 0 else end + 1
            continue
        if nxt_ch == "?":  # processing instruction
            end = html.find(">", i)
            i = n if end < 0 else end + 1
            continue
        gt = html.find(">", i + 1)
        if gt < 0:
            break  # truncated tag: drop the rest
        tag_body = html[i + 1 : gt]
        i = gt + 1
        m = _TAG_NAME_RE.match(tag_body)
        if not m:
            continue  # stray '<' treated as markup noise
        name = m.group(1).lower()
        closing = tag_body.startswith("/")
        self_closing = tag_body.rstrip().endswith("/") or name in _VOID_TAGS

        if not closing and name in _RAW_TEXT_TAGS and not self_closing:
            # raw-text content: skip to the matching close tag
            end = lower.find("</" + name, i)
            if end < 0:
                break
            i = lower.find(">", end)
            i = n if i < 0 else i + 1
            continue

        if name == "a":
            if closing:
                link_depth = max(0, link_depth - 1)
            elif not self_closing:
                link_depth += 1
            continue

        if name not in _BLOCK_TAGS:
            continue  # inline tags: their text flows through
        flush()
        if name in _SEMANTIC_CONTAINERS:
            if closing:
                if name in container_stack:
                    while container_stack and container_stack[-1] != name:
                        container_stack.pop()
                    if container_stack:
                        container_stack.pop()
            elif not self_closing:
                container_stack.append(name)
            cur.container = container_stack[-1] if container_stack else "body"

        # table, tr, td and th are block tags too: the table stack
        if name == "table":
            if closing:
                if tstack:
                    close_table()
            elif not self_closing:
                tstack.append([[], None, None])
        elif tstack and name == "tr":
            close_row()
            if not closing:
                tstack[-1][1] = []
        elif tstack and name in ("td", "th"):
            close_cell()
            if not closing:
                if tstack[-1][1] is None:  # cell before any <tr>: implicit row
                    tstack[-1][1] = []
                tstack[-1][2] = []
    flush()
    # truncated markup: close whatever table is still open, outermost last
    while tstack:
        close_table()
    return _classify(blocks), tables


def extract_html_blocks(data) -> List[Block]:
    """Classified text blocks of HTML bytes or ``str``."""
    return extract_html_blocks_and_tables(data)[0]


def extract_html_tables(data) -> List[List[List[str]]]:
    """``<table>`` rows of cell strings of HTML bytes or ``str``."""
    return extract_html_blocks_and_tables(data)[1]


def extract_html_text(data) -> str:
    """Main-content text: classified content blocks joined with ``"\\n"``."""
    return "\n".join(b.text for b in extract_html_blocks(data) if b.is_content)


# ---------------------------------------------------------------------------
# outlink harvesting (the link-graph face of the HTML walk)
# ---------------------------------------------------------------------------

_HREF_RE = re.compile(r"""href\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""", re.I)
_INNER_TAG_RE = re.compile(r"<[^>]*>")


def extract_links(data: bytes) -> List[dict]:
    """``<a href>`` edges with entity-decoded targets and whitespace-
    collapsed anchor text, in document order. Crawl frontiers and link-graph
    builds consume exactly this row shape; the boilerplate classifier above
    only *counts* anchor chars (link density) — this walk surfaces them.

    Tolerates the same markup noise as the block tokenizer: unclosed tags
    (anchor runs to EOF), quoted/unquoted attributes, comments inside the
    anchor, and links without an href (skipped).
    """
    html = _decode_html_bytes(data)
    lower = html.translate(_ASCII_LOWER)
    out: List[dict] = []
    i = 0
    n = len(html)

    def _next_anchor_open(p: int) -> int:
        while True:
            j = lower.find("<a", p)
            if j < 0:
                return -1
            after = lower[j + 2 : j + 3]
            if after in ("", " ", "\t", "\n", "\r", "\f", ">", "/"):
                return j
            p = j + 2  # <abbr>, <address>, ... — not an anchor

    def _next_anchor_close(p: int) -> int:
        while True:
            j = lower.find("</a", p)
            if j < 0:
                return -1
            after = lower[j + 3 : j + 4]
            if after in ("", ">", " ", "\t", "\n", "\r", "\f"):
                return j
            p = j + 3  # </abbr>, </address>, </article> — not an anchor close

    while True:
        j = _next_anchor_open(i)
        if j < 0:
            break
        gt = html.find(">", j + 1)
        if gt < 0:
            break
        m = _HREF_RE.search(html, j + 1, gt)
        # anchor text ends at </a> OR at the next <a> open tag — browsers
        # implicitly close an open anchor when a new one starts, so
        # '<a href=A>x <a href=B>y</a>' yields both A ("x") and B ("y")
        # instead of A swallowing B's markup
        close = _next_anchor_close(gt + 1)
        end = close if close >= 0 else n
        nxt = _next_anchor_open(gt + 1)
        if 0 <= nxt < end:
            end = nxt
        if m:
            href = m.group(1) or m.group(2) or m.group(3) or ""
            href = _ENTITY_RE.sub(_decode_entity, href).strip()
            inner = html[gt + 1 : end]
            anchor = _clean_text(_INNER_TAG_RE.sub(" ", inner)).strip()
            if href:
                out.append({"href": href, "anchor": anchor})
        # resume just past the open tag so a nested anchor is itself scanned
        i = gt + 1
    return out
