"""HTML text + outlink extraction.

The engine analogue of the reference's payload normalization
(reference: internal/infrastructure/blockchain/ethereum_service.go:421-456
convertBlock — raw RPC payload -> typed row; :318-325 sanitizeData —
bytes -> UTF-8-safe string). The ``input_hint`` invariant: extracted text
must be **byte-identical per url** between the Spark path and the oracle —
guaranteed by sharing this exact pure function, asserted bytewise in tests.

Implementation: stdlib ``html.parser.HTMLParser`` (tolerant of malformed
markup — the fixture injects ~1% truncated documents), script/style
contents dropped, character references decoded, whitespace collapsed to
single spaces. No locale-dependent operations, no wall clock.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser
from urllib.parse import urljoin

_SKIP_CONTENT = {"script", "style", "noscript", "template"}

# ---------------------------------------------------------------------------
# Fast path: a regex scanner for "simple" HTML (no character references, no
# comments/doctype/PI, only double-quoted attributes) that reproduces
# HTMLParser's event stream BYTE-IDENTICALLY on that subset — including its
# handling of truncated documents ('<' with no closing '>' at EOF becomes a
# '<' data chunk followed by the raw remainder, calibrated empirically and
# pinned by tests/test_fast_extract_equivalence.py. Anything outside the
# subset falls back to HTMLParser, so behavior NEVER diverges — the fast
# path is a pure optimization (~10x) for the common corpus shape, which is
# what dominates the crawl round's CPU at the 1M-page bench.
# ---------------------------------------------------------------------------

_SIMPLE_TAG = re.compile(
    r"<(?:"
    r"/(?P<ename>[a-zA-Z][a-zA-Z0-9]*)\s*"
    r"|"
    r"(?P<name>[a-zA-Z][a-zA-Z0-9]*)"
    r"(?P<attrs>(?:\s+[a-zA-Z-]+=\"[^\"<>&]*\")*)\s*(?P<slash>/?)"
    r")>"
)
_ATTR = re.compile(r"([a-zA-Z-]+)=\"([^\"]*)\"")

# HTMLParser switches to CDATA mode inside <script>/<style> (its
# CDATA_CONTENT_ELEMENTS): everything until the matching '</name' is raw
# data — a nested same-name open tag does NOT nest. The fast path mirrors
# that with a raw scan; anything trickier than a clean '</name\s*>' close
# falls back to HTMLParser.
_CDATA_CLOSE = {
    name: (
        re.compile(r"</\s*" + name, re.I),
        re.compile(r"</\s*" + name + r"\s*>", re.I),
    )
    for name in ("script", "style")
}

_ABS_HTTP = re.compile(r"^https?://[^/?#]")

# Bench knob: force the HTMLParser reference path (identical output, more
# CPU per row) — used by the scaling evidence to show the dataflow scales
# when per-row compute dominates vs. when the box's DRAM bandwidth binds.
import os as _os

_REFERENCE_PARSER = _os.environ.get("SPARK_GRAFT_REFERENCE_PARSER") == "1"


def _fast_parse(text: str):
    """(chunks, links) for simple HTML, or None to fall back."""
    if "&" in text or "<!" in text or "<?" in text:
        return None
    chunks: list[str] = []
    links: list[str] = []
    skip = 0
    pos, n = 0, len(text)
    while True:
        lt = text.find("<", pos)
        if lt == -1:
            if pos < n and skip == 0:
                chunks.append(text[pos:])
            break
        if lt > pos and skip == 0:
            chunks.append(text[pos:lt])
        m = _SIMPLE_TAG.match(text, lt)
        if m is not None:
            ename = m.group("ename")
            if ename is not None:  # end tag
                if ename.lower() in _SKIP_CONTENT and skip > 0:
                    skip -= 1
            else:
                name = m.group("name").lower()
                # HTMLParser fires handle_starttag for an <a> even inside
                # a skipped noscript/template subtree, so links are
                # collected regardless of skip depth (only script/style
                # CDATA suppresses tag events — handled below)
                if name == "a":
                    for am in _ATTR.finditer(m.group("attrs")):
                        if am.group(1).lower() == "href" and am.group(2):
                            links.append(am.group(2))
                if name in _CDATA_CLOSE and not m.group("slash"):
                    find_re, close_re = _CDATA_CLOSE[name]
                    cm = find_re.search(text, m.end())
                    if cm is None:
                        break  # CDATA runs to EOF; all of it is dropped data
                    em = close_re.match(text, cm.start())
                    if em is None:
                        return None  # '</scriptfoo>'-style — fall back
                    pos = em.end()
                    continue
                if name in _SKIP_CONTENT and not m.group("slash"):
                    skip += 1
                # <x/> in the skip set: starttag + endtag cancel out
            pos = m.end()
            continue
        nxt = text[lt + 1] if lt + 1 < n else ""
        if not (nxt.isalpha() or nxt == "/"):
            # '<' that does not open a tag: HTMLParser emits it as its own
            # data chunk and resumes scanning right after it
            if skip == 0:
                chunks.append("<")
            pos = lt + 1
            continue
        rest = text[lt + 1 :]
        if ">" not in rest and "<" not in rest:
            # truncated tag at EOF: '<' chunk + raw remainder chunk
            if skip == 0:
                chunks.append("<")
                if rest:
                    chunks.append(rest)
            break
        return None  # tag-like construct outside the simple subset
    return chunks, links


class _TextAndLinks(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.chunks: list[str] = []
        self.links: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_CONTENT:
            self._skip_depth += 1
        elif tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.links.append(v)

    def handle_endtag(self, tag):
        if tag in _SKIP_CONTENT and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data):
        if self._skip_depth == 0 and data:
            self.chunks.append(data)


class _Parsed:
    __slots__ = ("chunks", "links")

    def __init__(self, chunks: list[str], links: list[str]) -> None:
        self.chunks = chunks
        self.links = links


def _text(html: bytes | str | None) -> str:
    if html is None:
        return ""
    if isinstance(html, (bytes, bytearray, memoryview)):
        return bytes(html).decode("utf-8", errors="replace")
    return html


def _parse(html: bytes | str | None) -> _Parsed:
    text = _text(html)
    fast = None if _REFERENCE_PARSER else _fast_parse(text)
    return _Parsed(*fast) if fast is not None else _parse_reference(text)


def _parse_reference(html: bytes | str | None) -> _Parsed:
    """HTMLParser-only path — the behavioral reference the fast scanner is
    pinned against (tests/test_fast_extract_equivalence.py), and the
    fallback for input outside its subset."""
    parser = _TextAndLinks()
    try:
        parser.feed(_text(html))
        parser.close()
    except Exception:
        # Total function: malformed input yields whatever was parsed so far.
        pass
    return _Parsed(parser.chunks, parser.links)


def extract_text(html: bytes | str | None) -> str:
    """Visible text of ``html``: tag-stripped, entity-decoded,
    whitespace-collapsed. Deterministic, total, pure."""
    parsed = _parse(html)
    return " ".join(" ".join(parsed.chunks).split())


def extract_page(html, base: str) -> tuple[str, list[str]]:
    """One parse: (visible text, per-doc-deduped CANONICAL outlinks) —
    shared verbatim by the Spark UDF and the oracle, so it is the binding
    definition of a page's extraction."""
    from ethereum_raw_data_crawler_spark.functions.urls import canonicalize_url

    parsed = _parse(html)
    text = " ".join(" ".join(parsed.chunks).split())
    seen: dict[str, None] = {}
    for href in parsed.links:
        if _ABS_HTTP.match(href):
            # absolute http(s) href with a nonempty authority: urljoin
            # returns it unchanged up to differences canonicalize_url
            # erases anyway (property-tested in tests/test_functions.py)
            # — skip the parse/unparse cost. Empty-authority forms
            # ("http://", "http:///p") still take urljoin, which inherits
            # the base host.
            absolute = href
        else:
            try:
                absolute = urljoin(base, href) if base else href
            except ValueError:
                continue
        c = canonicalize_url(absolute)
        if c is not None:
            seen[c] = None
    return text, list(seen)


def extract_links(html: bytes | str | None, base_url: str | None = None) -> list[str]:
    """``<a href>`` targets of ``html`` resolved against ``base_url``,
    in document order, duplicates preserved (dedup is the frontier's job —
    reference dedups at the store via unique index, mongodb.go:86-92)."""
    parsed = _parse(html)
    if base_url is None:
        return parsed.links
    out = []
    for href in parsed.links:
        try:
            out.append(urljoin(base_url, href))
        except ValueError:
            continue
    return out
