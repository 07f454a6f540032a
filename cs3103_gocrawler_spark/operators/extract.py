"""U3/X1 — link extraction (SURVEY.md §2.8).

Reference ``DefaultLinkExtractor`` (linkextractor.go:19-66): find ``<a href>``
attributes, resolve against the current URL, drop blacklisted hosts,
deduplicate, sort. Runs per row inside the fused fetch pass
(``fetch.fetch_process``), which returns the links as ``array<string>`` —
HTML parse stays in Python (the one place it must), the explode/fan-out
stays JVM-side. Contract: every extractor returns canonical links (a user
extractor is wrapped by ``canonicalizing``), so the round never
canonicalizes a link again.

The regex href scan matches the generator's output and any well-formed
``<a ... href="...">`` / ``href='...'`` tag; a full HTML5 parser is a drop-in
replacement behind the same extractor signature (X2 plug-point).
"""

from __future__ import annotations

import re

from ..functions.urlfuncs import canonicalize_url, split_canonical

_HREF_RE = re.compile(r"""<a\s[^>]*?href\s*=\s*["']([^"']*)["']""", re.IGNORECASE)


def expand_blacklist_www(hosts) -> frozenset[str]:
    """SO3 — the reference blacklists every host with AND without the 'www.'
    prefix (example/explorer/internal/explorer/config.go:52-65)."""
    out = set()
    for h in hosts:
        h = h.strip()
        if not h:
            continue
        out.add(h)
        out.add(h[4:] if h.startswith("www.") else "www." + h)
    return frozenset(out)


def canonicalizing(extractor):
    """Wrap a user extractor so its output meets the canonical-links
    contract: each entry becomes ``canonicalize_url(u)`` (no base), and
    ``None``, unparsable and non-http(s) entries are dropped."""

    def extract(base_url: str, body_html: str) -> list[str] | None:
        links = extractor(base_url, body_html)
        if links is None:
            return None
        canon = (canonicalize_url(u) for u in links if u is not None)
        return [cu for cu in canon if cu is not None]

    return extract


def make_scoped_extractor(
    blacklist: frozenset[str] = frozenset(),
    blacklist_substrings: tuple[str, ...] = (),
    same_host: bool = False,
    path_includes: tuple[str, ...] = (),
):
    """X2 — the reference's pluggable ``LinkExtractor`` surface as an
    extractor factory: ``(base_url, body_html) -> sorted link list``. The
    three reference example apps are compositions of these scope filters:

    * explorer  — ``blacklist_substrings``: drop a link when its host and any
      entry contain each other (bidirectional substring,
      example/explorer/internal/explorer/linkextractor.go:34-42)
    * sitemapper — ``same_host=True``: keep only links on the fetched page's
      host (example/sitemapper/internal/sitemapper/linkextractor.go:26-43)
    * tianalyser — ``same_host=True`` + ``path_includes``: additionally the
      link path must contain an include substring
      (example/tianalyser/internal/tianalyser/linkextractor.go:33-53)

    The returned callable plugs into ``fetch_process(extractor=...)`` and
    ships to executors in the UDF closure; any user extractor with the same
    signature slots in, behind ``canonicalizing`` (reference
    ``LinkExtractor`` field, linkextractor.go:14).
    """

    def extract(base_url: str, body_html: str) -> list[str]:
        base_host = split_canonical(base_url)[0] if same_host else None
        out = set()
        for href in _HREF_RE.findall(body_html or ""):
            cu = canonicalize_url(href, base=base_url)
            if cu is None:
                continue
            host, path = split_canonical(cu)
            if host in blacklist:
                continue
            if blacklist_substrings and any(
                b in host or host in b for b in blacklist_substrings
            ):
                continue
            if same_host and host != base_host:
                continue
            if path_includes and not any(p in path for p in path_includes):
                continue
            out.add(cu)
        return sorted(out)

    return extract
