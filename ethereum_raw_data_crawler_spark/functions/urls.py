"""URL canonicalization — the engine's analogue of the reference's
address/hash normalization (reference:
internal/infrastructure/blockchain/ethereum_service.go:421-456 convertBlock,
:459-576 convertTransaction — deterministic pure per-row conversion of a raw
payload into a typed row; :318-325 sanitizeData for encoding safety).

RFC 3986 normalization implemented:
  * scheme + host lowercased
  * default ports stripped (http:80, https:443)
  * userinfo and fragment dropped
  * dot-segments removed (RFC 3986 §5.2.4)
  * percent-encoding normalized: unreserved characters decoded, other
    escapes uppercased (RFC 3986 §6.2.2.2)
  * tracking query params stripped (utm_*, gclid, fbclid, ...)
  * remaining query params sorted by (key, value) for a canonical order
  * empty path -> "/"

The function is TOTAL and PURE: any string in, canonical string or None
out (None = not a crawlable http(s) URL), no locale or wall-clock
dependence. The same function body runs inside Arrow-batched pandas UDFs
on executors and inside the single-threaded oracle, so equality of the
two paths is structural.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit

# Version of the canonicalization RULES (not the code). Bump whenever a
# change alters the canonical form of ANY url: url_hash values derive
# from the canonical string, so a store resumed under different rules
# would silently treat previously-seen urls as new (re-crawl/duplicate
# frontier rows). The store stamps this into config.json at create and
# refuses to resume under a different version or without the stamp
# (plans/rounds.py).
#   v2: trailing ';' stripped from paths (urljoin parity, round 4).
#   v3: the strip happens BEFORE dot-segment resolution too, so a
#       trailing ';' can no longer shield a final dot segment from
#       resolving ("/.;" -> "/", not "/."); hosts are validated
#       (registered-name/IPv4/IPv6 shapes only, IDNA for non-ASCII) —
#       garbage authorities that previously produced non-idempotent
#       keys now canonicalize to None.
CANON_VERSION = 3

_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_HEX = set("0123456789abcdefABCDEF")

#: Tracking parameters stripped during canonicalization. Exact-match keys
#: plus the utm_* prefix family.
TRACKING_EXACT = frozenset(
    {
        "gclid",
        "fbclid",
        "msclkid",
        "igshid",
        "mc_cid",
        "mc_eid",
        "ref",
        "ref_src",
        "spm",
    }
)
TRACKING_PREFIXES = ("utm_",)

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def _normalize_percent(s: str) -> str:
    """Decode %XX escapes of unreserved chars; uppercase the rest.

    Malformed escapes (%Z9, trailing %) are left verbatim — total function.
    """
    if "%" not in s:
        return s
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 2 <= n - 1:
            h1, h2 = s[i + 1], s[i + 2]
            if h1 in _HEX and h2 in _HEX:
                code = int(h1 + h2, 16)
                ch = chr(code)
                if ch in _UNRESERVED:
                    out.append(ch)
                else:
                    out.append("%" + h1.upper() + h2.upper())
                i += 3
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _encode_forbidden(s: str) -> str:
    """Percent-encode (UTF-8) every char outside printable ASCII
    0x21-0x7E: C0 controls, space, DEL, and all non-ASCII — the WHATWG
    forbidden set that makes canonical keys IDEMPOTENT. Raw whitespace
    in a canonical form is a key-drift hazard (``.strip()`` and
    urlsplit's tab/newline removal eat it on re-parse: a 400k-case fuzz
    measured 85 such drifts); raw non-ASCII risks the same via unicode
    whitespace. Valid %XX escapes pass through untouched (they were
    already normalized); a stray ``%`` stays verbatim, matching
    _normalize_percent's malformed-escape policy, so a second pass is a
    no-op."""
    if all("\x20" < c <= "\x7e" for c in s):
        return s
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 2 < n and s[i + 1] in _HEX and s[i + 2] in _HEX:
            out.append(s[i : i + 3])
            i += 3
            continue
        if "\x20" < c <= "\x7e":
            out.append(c)
        else:
            out.extend(f"%{b:02X}" for b in c.encode("utf-8", errors="replace"))
        i += 1
    return "".join(out)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    output: list[str] = []
    buf = path
    while buf:
        if buf.startswith("../"):
            buf = buf[3:]
        elif buf.startswith("./"):
            buf = buf[2:]
        elif buf.startswith("/./"):
            buf = "/" + buf[3:]
        elif buf == "/.":
            buf = "/"
        elif buf.startswith("/../"):
            buf = "/" + buf[4:]
            if output:
                output.pop()
        elif buf == "/..":
            buf = "/"
            if output:
                output.pop()
        elif buf in (".", ".."):
            buf = ""
        else:
            i = buf.find("/", 1) if buf.startswith("/") else buf.find("/")
            if i == -1:
                output.append(buf)
                buf = ""
            else:
                output.append(buf[:i])
                buf = buf[i:]
    return "".join(output)


def _is_tracking(key: str) -> bool:
    k = key.lower()
    return k in TRACKING_EXACT or any(k.startswith(p) for p in TRACKING_PREFIXES)


# Fast path: URLs that are ALREADY canonical by inspection — lowercase
# scheme+host, no userinfo/port/query/fragment/percent-escape, path made of
# pchar-set characters with no dot segments — pass through unchanged (plus
# the empty-path -> "/" rule). Everything else takes the full slow path.
# Pinned equal to the slow path by a property test
# (tests/test_functions.py::test_canonical_fast_path_equivalence); this is
# the hot branch of outlink discovery, where most links on real pages are
# plain absolute URLs.
_FAST_CANON = re.compile(
    # \Z, not $: re's $ also matches BEFORE a trailing newline, which let
    # "https://um\n" take the fast path and keep the \n (one more
    # idempotence drift class, 200k-case fuzz; the slow path's urlsplit
    # strips \t\r\n so pass 2 produced a different key)
    r"^(https?)://"
    r"([a-z0-9](?:[a-z0-9.\-]*[a-z0-9])?)"
    r"(/[A-Za-z0-9\-._~!$&'()*+,;=:@/]*)?\Z"
)
_DOT_SEG = re.compile(r"/\.{1,2}(?:/|$)")
# plausible crawl-target hosts: registered names / IPv4 (underscore kept —
# invalid DNS but common in the wild); IPv6 literal chars after lowercase
_HOST_OK = re.compile(r"^[a-z0-9._-]+\Z")  # \Z: $ would accept "um\n"
_IPV6_OK = re.compile(r"^[0-9a-f:.]+\Z")


def canonicalize_url(url: str | None) -> str | None:
    """Canonical form of ``url``, or None if not a crawlable http(s) URL."""
    if url is None:
        return None
    m = _FAST_CANON.match(url)
    if m is not None:
        path = m.group(3)
        if path is None:
            return url + "/"
        if ("/." not in path or not _DOT_SEG.search(path)) and not path.endswith(
            ";"
        ):
            return url
    # fragment off FIRST, then whitespace: a trailing space that only
    # looked "inner" because a fragment followed it ("/p #x") must strip
    # exactly like it does after urljoin drops the fragment ("/p ") —
    # otherwise canonicalize(urljoin(base, href)) != canonicalize(href)
    url = url.split("#", 1)[0].strip()
    # ... and a bare trailing "?" (empty query, which RFC-1808 parsers
    # also drop) can shield one more run of whitespace
    if url.endswith("?") and url.find("?") == len(url) - 1:
        url = url[:-1].strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return None
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    # Host validation (canon v3): real pages carry hrefs with spaces,
    # quotes, parens, backslashes in the authority — unfetchable, and
    # worse, they canonicalized NON-IDEMPOTENTLY (a 400k-case fuzz found
    # 1.7k key drifts), which is a dedup hazard: the same string can
    # enter the seen set under two keys. Reject anything that is not a
    # plausible registered name / IPv4; keep IPv6 literals (re-bracketed
    # below); punycode non-ASCII hosts via IDNA, rejecting on failure.
    bracket = False
    if not _HOST_OK.match(host):
        if ":" in host and _IPV6_OK.match(host):
            bracket = True
        else:
            try:
                host = host.encode("idna").decode("ascii").lower()
            except UnicodeError:
                return None
            if not _HOST_OK.match(host):
                return None
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = f"[{host}]" if bracket else host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
        netloc = f"{netloc}:{port}"

    # empty trailing matrix params: RFC-1808 parsers (urllib's urljoin /
    # urlunparse) silently drop a bare trailing ';' from the last path
    # segment, so "/a;" and "/a" alias the same resource depending on
    # whether a URL passed through a join. Strip ALL trailing ';' —
    # idempotent, and it absorbs urljoin's one-shot drop, keeping
    # canonicalize(urljoin(base, abs_href)) == canonicalize(abs_href)
    # (the premise of extract_page's absolute-href urljoin skip). The
    # strip must run BEFORE dot-segment resolution: urljoin drops the
    # ';' first and so resolves "/.;" as a dot segment; stripping only
    # after resolution left "/." behind (canon v3, hypothesis-found).
    # Resolution can't re-expose a trailing ';' (removed segments only
    # ever leave "/" or a shorter prefix at the end), but the re-strip
    # after is free and keeps the invariant local.
    path = _normalize_percent(_remove_dot_segments(parts.path.rstrip(";")))
    path = _encode_forbidden(path.rstrip(";"))
    if not path:
        path = "/"

    query = ""
    if parts.query:
        pairs = []
        for piece in parts.query.split("&"):
            if not piece:
                continue
            if "=" in piece:
                k, v = piece.split("=", 1)
            else:
                k, v = piece, ""
            k = _encode_forbidden(_normalize_percent(k))
            v = _encode_forbidden(_normalize_percent(v))
            # tracking test AFTER normalization: "%75tm_source" must be
            # dropped like "utm_source", or the second pass disagrees
            # with the first (idempotence)
            if _is_tracking(k):
                continue
            # a pair that is empty on both sides (piece was "=") renders
            # as an empty string, which the NEXT parse skips as an empty
            # piece — drop it now or the second pass disagrees
            if not k and not v:
                continue
            pairs.append((k, v))
        pairs.sort()
        query = "&".join(k if not v else f"{k}={v}" for k, v in pairs)

    out = f"{scheme}://{netloc}{path}"
    if query:
        out += "?" + query
    return out


def host_of(url_canon: str | None) -> str | None:
    """Host (with non-default port) of an already-canonical URL."""
    if not url_canon:
        return None
    rest = url_canon.split("://", 1)
    if len(rest) != 2:
        return None
    netloc = rest[1].split("/", 1)[0]
    return netloc or None


# XXH64 (public spec, xxhash.com) — bit-exact with Spark's F.xxhash64
# (seed 42 over UTF-8 bytes), verified on randomized inputs in tests.
_M = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    11400714785074694791,
    14029467366897019727,
    1609587929392839161,
    9650029242287828579,
    2870177450012600261,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1, v2, v3, v4 = (
            (seed + _P1 + _P2) & _M,
            (seed + _P2) & _M,
            seed & _M,
            (seed - _P1) & _M,
        )
        while i <= n - 32:
            vs = [v1, v2, v3, v4]
            for j in range(4):
                lane = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (vs[j] + lane * _P2) & _M
                vs[j] = (_rotl(v, 31) * _P1) & _M
            v1, v2, v3, v4 = vs
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            v = (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = ((h ^ v) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        lane = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl((lane * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M
        i += 8
    if i <= n - 4:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def url_hash64(url_canon: str) -> int:
    """Signed 64-bit dedup key: xxhash64(utf-8 bytes, seed 42) — chosen to
    be BIT-EXACT with Spark's built-in ``F.xxhash64``, so the engine
    computes it JVM-side inside whole-stage codegen (no Python crossing)
    while the oracle uses this pure function.

    The engine's analogue of the reference's unique index on ``hash`` /
    ``number`` (reference: internal/infrastructure/database/mongodb.go:86-92,
    111-115) — the key is computed up front and dedup is a set operation,
    not a constraint violation.
    """
    h = xxh64(url_canon.encode("utf-8"))
    return h - (1 << 64) if h >= (1 << 63) else h


def path_of(url_canon: str) -> str:
    """Path+query of a canonical URL (for robots prefix checks)."""
    rest = url_canon.split("://", 1)
    if len(rest) != 2:
        return "/"
    i = rest[1].find("/")
    return rest[1][i:] if i >= 0 else "/"
