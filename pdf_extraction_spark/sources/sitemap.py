"""Sitemap XML source (sitemaps.org protocol): crawl-frontier feed.

Crawlers seed and refresh their frontiers from ``/sitemap.xml``; a
web-scale pipeline ingests millions of them (plain or gzipped, ``urlset``
leaves or ``sitemapindex`` trees). The parser is a deterministic, total,
stdlib-only tag scanner — sitemaps in the wild violate XML often enough
that a strict parser loses real URLs, so unclosed/<url>-less soup degrades
to whatever entries are recoverable.

* :func:`parse_sitemap` — one payload → ``{kind, entries}``;
* :func:`read_sitemaps` — Spark source: file paths parsed on executors,
  one row per URL entry, embarrassingly parallel (no shuffle).
"""

from __future__ import annotations

import gzip
import re

from ..pipeline import fanout
from . import paths_df

_LOC_BLOCK = re.compile(
    r"<(url|sitemap)\b[^>]*>(.*?)</\1\s*>", re.DOTALL | re.IGNORECASE
)
_FIELD = {
    name: re.compile(
        r"<%s\b[^>]*>\s*(.*?)\s*</%s\s*>" % (name, name),
        re.DOTALL | re.IGNORECASE,
    )
    for name in ("loc", "lastmod", "changefreq", "priority")
}
_KIND = re.compile(r"<\s*(urlset|sitemapindex)\b", re.IGNORECASE)
_CDATA = re.compile(r"<!\[CDATA\[(.*?)\]\]>", re.DOTALL)
# &amp; must decode LAST (same ordering as sources/feeds.py): doing it
# first turns the nested entity '&amp;lt;' (a literal '&lt;' in the URL)
# into '&lt;' and then into '<' — a classic double-unescape
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"),
             ("&quot;", '"'), ("&apos;", "'"), ("&amp;", "&"))


def _text(raw: str) -> str:
    m = _CDATA.search(raw)
    if m:
        raw = m.group(1)
    for ent, ch in _ENTITIES:
        if ent in raw:
            raw = raw.replace(ent, ch)
    return raw.strip()


def parse_sitemap(payload: bytes | str) -> dict:
    """Parse one sitemap payload (gzipped or plain, urlset or index).

    Returns ``{"kind": "urlset"|"sitemapindex"|"unknown", "entries":
    [{"loc", "lastmod", "changefreq", "priority"}]}`` in document order;
    missing fields are None, junk priority is None. Never raises."""
    try:
        if isinstance(payload, bytes):
            if payload[:2] == b"\x1f\x8b":
                try:
                    payload = gzip.decompress(payload)
                except (OSError, EOFError):
                    return {"kind": "unknown", "entries": []}
            xml = payload.decode("utf-8", errors="replace")
        else:
            xml = payload
        km = _KIND.search(xml)
        kind = km.group(1).lower() if km else "unknown"
        entries = []
        for m in _LOC_BLOCK.finditer(xml):
            block = m.group(2)
            loc_m = _FIELD["loc"].search(block)
            if not loc_m:
                continue
            loc = _text(loc_m.group(1))
            if not loc:
                continue
            e = {"loc": loc, "lastmod": None, "changefreq": None,
                 "priority": None}
            for f in ("lastmod", "changefreq"):
                fm = _FIELD[f].search(block)
                if fm:
                    e[f] = _text(fm.group(1)) or None
            pm = _FIELD["priority"].search(block)
            if pm:
                try:
                    e["priority"] = float(_text(pm.group(1)))
                except ValueError:
                    pass
            entries.append(e)
        return {"kind": kind, "entries": entries}
    except Exception:
        return {"kind": "unknown", "entries": []}


def read_sitemaps(spark, paths: list[str], partitions: int | None = None):
    """DataFrame of ``(sitemap_path, kind, loc, lastmod, changefreq,
    priority)`` — one row per entry, parsed on executors by a per-path
    :func:`..pipeline.fanout`."""

    def entries(path):
        with open(path, "rb") as f:
            parsed = parse_sitemap(f.read())
        for e in parsed["entries"]:
            yield path, parsed["kind"], e["loc"], e["lastmod"], e["changefreq"], e["priority"]

    return fanout(
        paths_df(spark, paths, partitions), entries,
        "sitemap_path string, kind string, loc string, lastmod string, "
        "changefreq string, priority double",
    )
