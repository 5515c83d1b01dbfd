"""Core-font glyph metrics (Adobe base-14 AFM widths, public data).

Real PDF producers position text runs by true glyph metrics; viewers use
the same metrics to advance the text cursor between consecutive show ops.
This module is the single metrics source shared by the fixture writer
(:mod:`pdf_write`, which positions split-run fragments at their metric
offsets) and the extractor (:mod:`pdf_extract`/:mod:`pdf_fonts`, which
advance the text matrix by them) — so the byte-identical goldens pin the
whole advance pipeline: width summation, /1000 scaling, Tc/Tw/Tz handling
and per-code /Widths//W lookup.

Widths are glyph-space units (1/1000 em) from the Adobe base-14 AFM files,
which Adobe publishes freely: Helvetica, Times-Roman, Courier (monospace
600 for every face) and Symbol. Fonts whose /BaseFont names none of these
families fall back to Helvetica (the pre-r4 behavior, and the closest
metric stand-in for the Arial/sans default of real-world PDFs).
Characters outside a table fall back to the width of their NFD base
character (accented Latin keeps the base letter's advance), then to the
table's default width.
"""

from __future__ import annotations

import re
import unicodedata

DEFAULT_WIDTH = 556

# Helvetica.afm character widths, ASCII 32-126
_HELV_ASCII = (
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 278, 278,
    584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611, 778, 722, 278,
    500, 667, 556, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 278, 278, 278, 469, 556, 333, 556, 556, 500, 556, 556,
    278, 556, 556, 222, 222, 500, 222, 833, 556, 556, 556, 556, 333, 500,
    278, 556, 500, 722, 500, 500, 500, 334, 260, 334, 584,
)

# Times-Roman.afm character widths, ASCII 32-126
_TIMES_ASCII = (
    250, 333, 408, 500, 500, 833, 778, 333, 333, 333, 500, 564, 250, 333,
    250, 278, 500, 500, 500, 500, 500, 500, 500, 500, 500, 500, 278, 278,
    564, 564, 564, 444, 921, 722, 667, 667, 722, 611, 556, 722, 722, 333,
    389, 722, 611, 889, 722, 722, 556, 722, 667, 556, 611, 722, 722, 944,
    722, 722, 611, 333, 278, 333, 469, 500, 333, 444, 500, 444, 500, 444,
    333, 500, 500, 278, 278, 500, 278, 778, 500, 500, 500, 500, 333, 389,
    278, 500, 500, 722, 500, 500, 444, 480, 200, 480, 541,
)

# Symbol.afm character widths, codes 32-126 (Symbol's own encoding — keyed
# by the Latin-1 passthrough codepoint, which is how undecoded 1-byte show
# strings reach the metrics lookup).
_SYMBOL_ASCII = (
    250, 333, 713, 500, 549, 833, 778, 439, 333, 333, 500, 549, 250, 549,
    250, 278, 500, 500, 500, 500, 500, 500, 500, 500, 500, 500, 278, 278,
    549, 549, 549, 444, 549, 722, 667, 722, 612, 611, 763, 603, 722, 333,
    631, 722, 686, 889, 722, 722, 768, 741, 556, 592, 611, 690, 439, 768,
    645, 795, 611, 333, 863, 333, 658, 500, 500, 631, 549, 549, 494, 439,
    521, 411, 603, 329, 603, 549, 549, 576, 521, 549, 549, 521, 549, 603,
    439, 576, 713, 686, 493, 686, 494, 480, 200, 480, 549,
)

class Metrics:
    """Width table of one core-font family (glyph-space, 1/1000 em)."""

    __slots__ = ("name", "widths", "default", "fixed", "_cache")

    def __init__(self, name: str, widths: dict[str, int], default: int,
                 fixed: int | None = None):
        self.name = name
        self.widths = widths
        self.default = default
        self.fixed = fixed  # monospace: every glyph this wide
        # width of every character seen: the table, plus NFD fallbacks
        self._cache: dict[str, int] = dict(widths)

    def char_width(self, ch: str) -> int:
        if self.fixed is not None:
            return self.fixed
        w = self._cache.get(ch)
        if w is None:
            base = unicodedata.normalize("NFD", ch)[0]
            w = self.widths.get(base, self.default)
            self._cache[ch] = w
        return w

    def text_units(self, s: str) -> int:
        """Total glyph-space advance of a string (no Tc/Tw), 1/1000 units."""
        if self.fixed is not None:
            return self.fixed * len(s)
        # one dict lookup per character; a miss fills the cache once
        cache = self._cache
        try:
            return sum(map(cache.__getitem__, s))
        except KeyError:
            for ch in s:
                self.char_width(ch)
            return sum(map(cache.__getitem__, s))


def _table(ascii_widths, extras) -> dict[str, int]:
    t = {chr(32 + i): w for i, w in enumerate(ascii_widths)}
    t.update(extras)
    t["\xa0"] = t[" "]  # nbspace = space width
    return t


HELVETICA = Metrics("Helvetica", _table(_HELV_ASCII, {
    "•": 350, "–": 556, "—": 1000,
    "‘": 222, "’": 222, "“": 333, "”": 333,
    "°": 400, "·": 278, "×": 584, "÷": 584,
    "ß": 611, "æ": 889, "Æ": 1000, "ø": 611, "Ø": 778,
}), DEFAULT_WIDTH)

TIMES = Metrics("Times-Roman", _table(_TIMES_ASCII, {
    "•": 350, "–": 500, "—": 1000,
    "‘": 333, "’": 333, "“": 444, "”": 444,
    "°": 400, "·": 250, "×": 564, "÷": 564,
    "ß": 500, "æ": 667, "Æ": 889, "ø": 500, "Ø": 722,
}), 500)

COURIER = Metrics("Courier", {}, 600, fixed=600)

SYMBOL = Metrics("Symbol", _table(_SYMBOL_ASCII, {}), 549)

HELVETICA_WIDTHS = HELVETICA.widths  # legacy alias (pre-r4 callers)

# Subset-font tag prefix ("ABCDEF+Times-Roman") stripped before matching.
_SUBSET_TAG = re.compile(r"^[A-Z]{6}\+")


def metrics_for(base_font: str | None) -> Metrics:
    """Core-font metrics for a /BaseFont name (PDF 32000-1 §9.6.2.2 names
    plus their common aliases); unknown families → Helvetica."""
    if not base_font:
        return HELVETICA
    name = _SUBSET_TAG.sub("", base_font).lower()
    if "times" in name:
        return TIMES
    # monospace detection must not catch Monotype-foundry proportional
    # fonts (Monotype Corsiva, *-MonotypeMT): require "courier", a
    # trailing "mono" (DejaVuSansMono, PTMono), or explicit "monospace"
    if "courier" in name or "monospace" in name or name.rstrip("-. ").endswith("mono"):
        return COURIER
    if "symbol" in name:
        return SYMBOL
    return HELVETICA


def char_width(ch: str) -> int:
    """Glyph-space width (1/1000 em) of one character in Helvetica."""
    return HELVETICA.char_width(ch)


def text_units(s: str) -> int:
    """Total glyph-space advance of a string in Helvetica (no Tc/Tw)."""
    return HELVETICA.text_units(s)
