"""RSS 2.0 / Atom feed source: article-discovery channel.

News/blog crawls discover fresh documents through feeds long before
generic link discovery finds them; a web-scale pipeline polls millions of
feeds and joins new entry URLs into the frontier. Total, deterministic,
stdlib-only scanner — real feeds violate XML constantly, so recoverable
entries beat strict parsing.

* :func:`parse_feed` — one payload → ``{kind, title, entries}``;
* :func:`read_feeds` — Spark source, one row per entry, parsed on
  executors, no shuffle.
"""

from __future__ import annotations

import gzip
import re

from ..pipeline import fanout
from . import paths_df

_ITEM = re.compile(r"<(item|entry)\b[^>]*>(.*?)</\1\s*>", re.DOTALL | re.IGNORECASE)
_KIND = re.compile(r"<\s*(rss|feed)\b", re.IGNORECASE)
_TAG = {
    name: re.compile(
        r"<%s\b[^>]*>\s*(.*?)\s*</%s\s*>" % (name, name),
        re.DOTALL | re.IGNORECASE,
    )
    for name in ("title", "link", "pubdate", "published", "updated", "guid", "id")
}
_ATOM_LINK_TAG = re.compile(r"<link\b[^>]*>", re.IGNORECASE)
_ATOM_HREF = re.compile(r"""href\s*=\s*["']([^"']+)["']""", re.IGNORECASE)
_ATOM_REL = re.compile(r"""rel\s*=\s*["']([^"']+)["']""", re.IGNORECASE)


def _atom_entry_link(block: str) -> str | None:
    """The entry's ARTICLE link: RFC 4287 makes rel="alternate" the
    document link and an absent rel default to alternate — a Blogger-style
    entry lists rel="replies"/"self"/"edit" links FIRST, so taking the
    first href crawls the comments feed instead of the post."""
    best: tuple[int, str] | None = None
    for m in _ATOM_LINK_TAG.finditer(block):
        tag = m.group(0)
        href = _ATOM_HREF.search(tag)
        if not href:
            continue
        rel = _ATOM_REL.search(tag)
        rank = 0 if (rel is None or rel.group(1).lower() == "alternate") else 1
        if best is None or rank < best[0]:
            best = (rank, href.group(1))
        if best[0] == 0:
            break
    return best[1] if best else None
_CDATA = re.compile(r"<!\[CDATA\[(.*?)\]\]>", re.DOTALL)
# &amp; must decode LAST: doing it first turns the nested entity
# '&amp;lt;' (a literal '&lt;') into '&lt;' and then into '<' — a classic
# double-unescape
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
             ("&apos;", "'"), ("&#39;", "'"), ("&amp;", "&"))


def _text(raw: str) -> str | None:
    m = _CDATA.search(raw)
    if m:
        raw = m.group(1)
    for ent, ch in _ENTITIES:
        if ent in raw:
            raw = raw.replace(ent, ch)
    raw = " ".join(raw.split())
    return raw or None


def _field(block: str, *names: str) -> str | None:
    for n in names:
        m = _TAG[n].search(block)
        if m:
            return _text(m.group(1))
    return None


def parse_feed(payload: bytes | str) -> dict:
    """Parse one RSS 2.0 or Atom feed (plain or gzipped).

    Returns ``{"kind": "rss"|"atom"|"unknown", "title": str|None,
    "entries": [{"title", "link", "published", "entry_id"}]}`` in document
    order; missing fields are None. Atom ``<link href=...>`` and RSS
    ``<link>text</link>`` both resolve. Never raises."""
    try:
        if isinstance(payload, bytes):
            if payload[:2] == b"\x1f\x8b":
                try:
                    payload = gzip.decompress(payload)
                except (OSError, EOFError):
                    return {"kind": "unknown", "title": None, "entries": []}
            xml = payload.decode("utf-8", errors="replace")
        else:
            xml = payload
        km = _KIND.search(xml)
        kind = {"rss": "rss", "feed": "atom"}.get(
            km.group(1).lower() if km else "", "unknown"
        )
        head = _ITEM.split(xml, 1)[0]
        feed_title = _field(head, "title")
        entries = []
        for m in _ITEM.finditer(xml):
            block = m.group(2)
            link = _field(block, "link")
            if not link:  # Atom: self-closing <link href=...>
                lm = _atom_entry_link(block)
                link = _text(lm) if lm else None
            e = {
                "title": _field(block, "title"),
                "link": link,
                "published": _field(block, "pubdate", "published", "updated"),
                "entry_id": _field(block, "guid", "id"),
            }
            if e["link"] or e["title"]:
                entries.append(e)
        return {"kind": kind, "title": feed_title, "entries": entries}
    except Exception:
        return {"kind": "unknown", "title": None, "entries": []}


def read_feeds(spark, paths: list[str], partitions: int | None = None):
    """DataFrame of ``(feed_path, kind, feed_title, title, link, published,
    entry_id)`` — one row per entry, parsed on executors by a per-path
    :func:`..pipeline.fanout`."""

    def entries(path):
        with open(path, "rb") as f:
            parsed = parse_feed(f.read())
        for e in parsed["entries"]:
            yield (path, parsed["kind"], parsed["title"], e["title"], e["link"],
                   e["published"], e["entry_id"])

    return fanout(
        paths_df(spark, paths, partitions), entries,
        "feed_path string, kind string, feed_title string, title string, link string, "
        "published string, entry_id string",
    )
