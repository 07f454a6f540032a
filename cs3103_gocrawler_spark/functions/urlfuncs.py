"""URL canonicalization + hashing (SURVEY.md §2.7 F1/F2/F11, UDF U1).

One pure-Python source of truth shared by the sequential oracle and the
vectorized Spark UDF, so conformance tests compare identical semantics.

Divergence from the reference, documented per SURVEY.md §1.3: the reference's
``DefaultLinkExtractor`` resolves relative hrefs by mutating a shared
``*url.URL`` (reference linkextractor.go:45-49 — later relative hrefs inherit
earlier mutations). We use correct RFC 3986 resolution via ``urljoin``;
conformance fixtures use absolute hrefs only, where both semantics agree.
"""

from __future__ import annotations

import hashlib
import re
from urllib.parse import urljoin, urlsplit

_DEFAULT_PORTS = {"http": 80, "https": 443}

# Fast path: URLs already in canonical form (lowercase scheme+host, no port /
# query / fragment / userinfo, non-empty path) pass through unchanged — by
# construction the slow path below is the identity on exactly these strings.
_CANONICAL_RE = re.compile(r"^https?://[a-z0-9.\-]+/[^?#\s]*$")


def canonicalize_url(url: str, base: str | None = None) -> str | None:
    """Canonical form: lowercase scheme/host, default-port strip, '' path →
    '/', fragment dropped, query kept. Returns None for non-http(s) or
    unparsable URLs (reference drops unparsable links, linkextractor.go:39-42).
    """
    url = url.strip()
    # already-canonical absolute URL: skip urljoin entirely (it costs ~5 µs
    # per href and is the identity here; the "/." guard keeps dot-segment
    # hrefs on the resolving path so they still get RFC 3986 normalization)
    if _CANONICAL_RE.match(url) and "/." not in url:
        return url
    if base:
        url = urljoin(base, url)
    if _CANONICAL_RE.match(url):
        return url
    try:
        p = urlsplit(url)
    except ValueError:
        return None
    scheme = p.scheme.lower()
    if scheme not in ("http", "https"):
        return None
    try:
        host = (p.hostname or "").lower()
        port = p.port
    except ValueError:
        return None
    if not host:
        return None
    port_part = f":{port}" if port is not None and port != _DEFAULT_PORTS[scheme] else ""
    path = p.path or "/"
    query = f"?{p.query}" if p.query else ""
    return f"{scheme}://{host}{port_part}{path}{query}"


def url_host(url: str) -> str:
    try:
        return (urlsplit(url).hostname or "").lower()
    except ValueError:
        return ""


def url_path(url: str) -> str:
    try:
        return urlsplit(url).path or "/"
    except ValueError:
        return ""


def split_canonical(cu: str) -> tuple[str, str]:
    """(host, path) of an already-canonical URL via string ops — ~5× faster
    than two urlsplit calls, exact on canonicalize_url output (which always
    has scheme://host[:port]/path[?query], lowercase host, no fragment;
    IPv6 literals are out of scope for the synthetic web)."""
    i = cu.index("//") + 2
    j = cu.find("/", i)
    netloc = cu[i:j]
    host = netloc.rsplit(":", 1)[0] if ":" in netloc else netloc
    path = cu[j:]
    q = path.find("?")
    return host, (path[:q] if q != -1 else path)


def sha1_64(s: str) -> int:
    """First 8 bytes of SHA1(s) as signed int64 — the url_sha1 column every
    frontier and fetched row carries (SURVEY.md F11); the bloom library
    routes and hashes on it."""
    d = hashlib.sha1(s.encode("utf-8")).digest()
    return int.from_bytes(d[:8], "big", signed=True)
