"""HTML main-content extraction: boilerplate stripping with text-density +
link-density heuristics (Boilerpipe / trafilatura family of algorithms).

Pure Python, stdlib only, deterministic, total (never raises on malformed
input). This is the single-threaded ground-truth kernel; the Spark pipeline
calls :func:`extract_html` from inside an Arrow-batched ``mapInArrow`` stage
and golden tests require byte-identical output from both paths.

Semantics carried over from the reference pipeline (see SURVEY.md §2, all
citations into /root/reference):

* block model with typed elements — the 10-class ElementType enum of
  ``advanced_layout_extractor.py:52-63`` (TITLE, PARAGRAPH, LIST, TABLE,
  FIGURE, EQUATION, HEADER, FOOTER, CAPTION, REFERENCE);
* TITLE heuristic "max font ≥ 1.2 × page median" of
  ``advanced_layout_extractor.py:343-349`` re-expressed structurally as
  heading tags h1–h6 (HTML already declares the font hierarchy);
* link-density / text-density boilerplate gates replacing the reference's
  OCR keyword + confidence gates (``advanced_layout_extractor.py:807-910``,
  ``hybrid_docling_gpt4_processor.py:397-423``);
* swallow-and-degrade totality posture of
  ``advanced_layout_extractor.py:690-691`` — but errors are *reported* in the
  result record, never silenced.

Output contract (FIXTURES.md §2): ``extracted_text`` is the kept blocks'
whitespace-normalized text joined with "\\n\\n"; ``spans[i]`` is
``(elem_type, page, char_start, char_end, bbox)`` with the invariant
``extracted_text[char_start:char_end] == block_text``; spans also carry
``confidence`` (boilerplate-gate margin) and ``(hierarchy_level,
parent_id)``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from html import unescape

# The reference's 10-class element taxonomy (advanced_layout_extractor.py:52-63).
ELEMENT_TYPES = (
    "title",
    "paragraph",
    "list",
    "table",
    "figure",
    "equation",
    "header",
    "footer",
    "caption",
    "reference",
)

# Tags that open a new text block.
_BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li td th dt dd pre blockquote figcaption
    caption article section main aside nav header footer table tr ul ol dl
    figure form fieldset address summary details""".split()
)

# Subtrees dropped entirely (no text contribution).
_DROP_TAGS = frozenset(
    "script style noscript template svg iframe head title object embed".split()
)

# Structural boilerplate containers: blocks inside these are navigation chrome
# unless the page has no other content at all.
_CHROME_TAGS = frozenset("nav header footer aside".split())

# Void elements never get close tags; <br> acts as a soft line break.
_VOID_TAGS = frozenset(
    "br hr img input meta link area base col source track wbr".split()
)

# class/id substrings that mark boilerplate (deterministic, lowercase match).
_CHROME_HINTS = (
    "nav",
    "menu",
    "sidebar",
    "footer",
    "header",
    "banner",
    "breadcrumb",
    "comment",
    "share",
    "social",
    "advert",
    "promo",
    "related",
    "cookie",
)


# charset detection: BOM first, then <meta charset=...> / http-equiv content
# within the first 2 KB (the WHATWG prescan region), then a strict-UTF-8
# probe; payloads that are not valid UTF-8 decode per the WHATWG legacy
# default windows-1252 (Encoding Standard §4.2 — undeclared legacy pages
# must not mojibake through utf-8/replace). Rule-based and deterministic
# (north rule: no seeded/statistical detection).
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)""", re.IGNORECASE
)
# 16/32-bit BOMs map to the endian-detecting 'utf-16'/'utf-32' codecs, which
# CONSUME the BOM during decode; the -le/-be variants would leave a U+FEFF
# at the start of the decoded text and break byte-identical goldens.
_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32"),
    (b"\x00\x00\xfe\xff", "utf-32"),
    (b"\xff\xfe", "utf-16"),
    (b"\xfe\xff", "utf-16"),
)


# Encoding Standard labels that resolve to the windows-1252 decoder (the
# spec folds ASCII and ISO-8859-1 into it; Python's iso-8859-1 codec maps
# 0x80-0x9F to C1 controls instead of the spec's table, so these must be
# routed to the WHATWG decode path, not codecs.lookup).
_CP1252_LABELS = frozenset(
    """windows-1252 cp1252 x-cp1252 iso-8859-1 iso8859-1 iso_8859-1 iso88591
    latin1 latin-1 l1 ascii us-ascii csisolatin1 cp819 ibm819 iso-ir-100
    iso_8859-1:1987 unknown-8bit""".split()
)

# WHATWG windows-1252 rows 0x80-0x9F (Encoding Standard index); bytes the
# Python cp1252 codec leaves undefined (81 8D 8F 90 9D) map to the matching
# C1 controls per the spec. 0x00-0x7F and 0xA0-0xFF agree with latin-1, so
# decode latin-1 (total) and translate this window.
_CP1252_C1 = {
    0x80: "€", 0x81: "\x81", 0x82: "‚", 0x83: "ƒ",
    0x84: "„", 0x85: "…", 0x86: "†", 0x87: "‡",
    0x88: "ˆ", 0x89: "‰", 0x8A: "Š", 0x8B: "‹",
    0x8C: "Œ", 0x8D: "\x8d", 0x8E: "Ž", 0x8F: "\x8f",
    0x90: "\x90", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9A: "š", 0x9B: "›",
    0x9C: "œ", 0x9D: "\x9d", 0x9E: "ž", 0x9F: "Ÿ",
}


_C1_RE = re.compile("[\x80-\x9f]")

# comment opener inside the charset prescan window (buffer-compatible)
_COMMENT_OPEN_RE = re.compile(rb"<!--")

# -- undeclared legacy CJK probe (VERDICT r4 item 3) ------------------------------
#
# WHATWG label → Python codec for the legacy CJK families. The Encoding
# Standard's "euc-kr" IS windows-949 (UHC) and its "shift_jis" IS
# windows-31j, both supersets of the plain stdlib codecs; "gb2312" is a
# label for GBK. Routing declared labels through this table keeps real
# pages (which routinely carry extension characters under the narrow
# label) from mojibaking through the strict base codec.
_WHATWG_CJK_CODECS = {
    "euc-kr": "cp949", "euc_kr": "cp949", "euckr": "cp949",
    "ks_c_5601-1987": "cp949", "ksc5601": "cp949", "korean": "cp949",
    "cseuckr": "cp949", "windows-949": "cp949", "cp949": "cp949",
    "shift_jis": "cp932", "shift-jis": "cp932", "sjis": "cp932",
    "x-sjis": "cp932", "ms_kanji": "cp932", "csshiftjis": "cp932",
    "windows-31j": "cp932", "cp932": "cp932",
    "euc-jp": "euc_jp", "euc_jp": "euc_jp", "x-euc-jp": "euc_jp",
    "cseucpkdfmtjapanese": "euc_jp",
    # WHATWG's ISO-2022-JP decoder speaks ESC ( I half-width katakana,
    # which Python's plain iso2022_jp refuses — the _ext codec is the
    # strict superset that matches the spec's escape repertoire
    "iso-2022-jp": "iso2022_jp_ext", "csiso2022jp": "iso2022_jp_ext",
    "gb2312": "gbk", "gbk": "gbk", "gb_2312": "gbk", "gb_2312-80": "gbk",
    "csgb2312": "gbk", "chinese": "gbk", "x-gbk": "gbk", "iso-ir-58": "gbk",
    "big5": "big5hkscs", "big5-hkscs": "big5hkscs", "cn-big5": "big5hkscs",
    "csbig5": "big5hkscs", "x-x-big5": "big5hkscs",
}

# Probe candidates for UNDECLARED non-UTF-8 payloads. Structure alone
# cannot separate the EUC-family encodings (a GB2312 hanzi page strictly
# decodes as cp949 too), so each candidate carries TWO character classes
# over its decoded text:
#
# * ``core`` — the script only that language produces (full-width kana for
#   Japanese, Hangul for Korean, CJK ideographs for Chinese). The KS X 1001
#   / GB2312 row layout makes the core fraction the discriminator: GB2312
#   rows B0-F7 decoded as cp949 land only ~35% in Hangul rows (B0-C8),
#   while real Korean text is nearly all Hangul — so a 2/3 core-fraction
#   gate accepts Korean and rejects Chinese bytes. Japanese gets a 1/3
#   gate (kanji-heavy text is still ≥1/3 kana in practice).
# * ``broad`` — core plus the shared CJK-ideograph / CJK-punctuation /
#   fullwidth blocks; at least 2/3 of all decoded non-ASCII characters
#   must be broad (random mojibake scatters outside these blocks).
#
# Ladder order matters: cp932 first (an SJIS page strictly decodes as
# cp949 into extended-Hangul mojibake, so Korean must not see it first; a
# Korean/Chinese page decodes via cp932 into half-width katakana, which is
# deliberately NOT core), then euc_jp (an EUC-JP kana row 0xA4/0xA5 pair
# strictly decodes via cp949 into Hangul COMPATIBILITY JAMO — Unicode-wise
# core Hangul — so Japanese must not see the Korean rung first; the
# converse is safe: Korean/Chinese EUC bytes decode via euc_jp into JIS
# kanji, which the kana core gate rejects. One documented ambiguity is
# unavoidable at the byte level: GB2312 copied the JIS kana rows verbatim,
# so kana bytes are IDENTICAL in euc-jp and gb2312 — a ≥1/3-kana page
# resolves to euc_jp, which is exact for the kana and garbles only hanzi
# on a hypothetical kana-heavy GB page, the overwhelmingly rarer reading),
# then cp949 (reference corpus is Korean,
# compare_gpt_vs_hybrid.py:101-107), then the two hanzi encodings. GBK and
# Big5 both decode each other's byte streams into plausible hanzi, so the
# hanzi gates can't separate them — the BYTE SHAPE can: GB2312/GBK text is
# overwhelmingly EUC-zone (both bytes >= 0xA1; low trails appear only in
# the rare GBK/3/4 extension rows), while real Big5 text draws trails from
# 0x40-0x7E for roughly a third of its pairs. `_big5_shaped` measures that
# low-trail fraction and picks which hanzi codec probes first. Known
# residual bias, documented: a nearly-kana-free SJIS page, an all-high-
# trail Big5 page (probes as gbk), and an extension-row-heavy GBK page
# (probes as big5) are out of the probe's reach.
_CJK_SHARED = "一-鿿　-〿＀-￯"
_KANA = "぀-ヿㇰ-ㇿ"
_HANGUL = "가-힣ᄀ-ᇿ㄰-㆏"
_HANZI = "一-鿿"
_HANZI_GATES = (re.compile(f"[{_HANZI}]"), re.compile(f"[{_CJK_SHARED}]"),
                2.0 / 3.0)
_KANA_GATES = (re.compile(f"[{_KANA}]"),
               re.compile(f"[{_KANA}{_CJK_SHARED}]"), 1.0 / 3.0)
_CJK_PROBE_CANDIDATES = (
    ("cp932", *_KANA_GATES),
    ("euc_jp", *_KANA_GATES),
    ("cp949", re.compile(f"[{_HANGUL}]"),
     re.compile(f"[{_HANGUL}{_CJK_SHARED}]"), 2.0 / 3.0),
    ("gbk", *_HANZI_GATES),
    ("big5hkscs", *_HANZI_GATES),
)

# ISO-2022-JP is pure 7-bit (escape-shifted JIS), so it sails through the
# strict-UTF-8 probe and used to surface as literal '$B…' escape soup on
# the valid-UTF-8 lane — the one legacy CJK family the high-byte ladder
# can never see. The shift regex is memchr-cheap on ESC-free pages (ESC is
# a control byte legit HTML text essentially never carries), and a hit
# still has to survive the strict _ext decode PLUS the same kana gates as
# the other Japanese rungs — a UTF-8 page QUOTING an escape sequence in a
# code sample decodes its following ASCII as kanji soup and fails the
# kana-fraction gate (or the strict decode, once a high byte appears).
_ISO2022_JP_SHIFT_RE = re.compile(rb"\x1b\$[@B]")
_ISO2022_JP_CAND = ("iso2022_jp_ext", *_KANA_GATES)

# cp949's extension zone decodes arbitrary low-trail byte pairs (GBK/3/4
# extension rows, SJIS) into *rare* Hangul syllables — Unicode-wise
# ordinary U+AC00-D7A3, so the block gates can't tell them from Korean
# (hypothesis found a rare-hanzi GBK page whose cp949 decode passed every
# gate). Real Korean text draws almost exclusively from the 2,350 KS X
# 1001 syllables (EUC rows 0xB0-0xC8), so the discriminator is membership:
# at least half of the decoded syllables must be KS X 1001. Derived from
# the codec itself, no table to maintain.
_KSX1001_SYLLABLES = frozenset(
    s for l in range(0xB0, 0xC9) for t in range(0xA1, 0xFF)
    for s in (bytes((l, t)).decode("cp949", "ignore"),) if s
)
# Big5 low-trail pairs (lead in the hanzi rows, trail in the ASCII range)
# vs EUC-zone pairs; >= 4 low pairs and >= 1/6 of the zone mass flips the
# hanzi probe order. The raw pair scan is unaligned: at a hanzi-run →
# ASCII-word boundary the GB trail byte (also 0xA4-0xF9) reads as a
# phantom "lead" against the word's first letter, so a GBK glossary page
# ('议告matrix …') would count as Big5-shaped (review-confirmed misroute
# when the big5 strict decode then happened to succeed). A REAL Big5 low
# trail is the second byte of a hanzi, so the byte after it is the next
# hanzi's high lead, whitespace, or punctuation — almost never the middle
# of an ASCII word. Subtracting pairs whose trail starts an alphanumeric
# run (lead, alnum, alnum) removes exactly the boundary phantoms while
# undercounting real Big5 by at most the rare letter-trail-then-Latin
# adjacency, which the 1/6 threshold absorbs.
_BIG5_LOW_PAIR_RE = re.compile(rb"[\xa4-\xf9][\x40-\x7e]")
_BIG5_PHANTOM_RE = re.compile(rb"[\xa4-\xf9][0-9A-Za-z][0-9A-Za-z]")
_EUC_ZONE_PAIR_RE = re.compile(rb"[\xa1-\xfe][\xa1-\xfe]")


def _big5_shaped(payload) -> bool:
    # regex scans run on the buffer directly (bytes OR the zero-copy
    # Arrow memoryview) — no payload copy on this path
    low = (len(_BIG5_LOW_PAIR_RE.findall(payload))
           - len(_BIG5_PHANTOM_RE.findall(payload)))
    return low >= 4 and low * 6 >= len(_EUC_ZONE_PAIR_RE.findall(payload))


# The nearly-kana-free SJIS tail (r5 close-out of the documented residual):
# a kanji-heavy Shift-JIS page (headline/glossary prose with <1/3 kana)
# fails the cp932 rung's KANA gate, then its byte pairs — mostly valid GBK
# pairs — strict-decode on the gbk rung into plausible hanzi mojibake
# (repro'd: 東京都… → 丄棫寷…). The byte SHAPE separates them: SJIS
# first-level kanji leads live in 0x81-0x9F, which mainstream GB2312/Big5
# text never uses as a lead (GB2312 leads ≥ 0xB0, standard Big5 hanzi
# leads ≥ 0xA4, EUC-KR/EUC-JP bytes ≥ 0xA1 apart from the rare 0x8E/0x8F
# shifts) — measured 0 such pairs on realistic zh-CN/zh-TW/ko/EUC-JP/latin
# corpora vs 27-69 on SJIS pages. Phantom subtraction mirrors
# `_big5_shaped`: an extension-row trail byte in 0x81-0x9F against the
# start of an ASCII word is a boundary artifact, not a lead. A shaped page
# probes cp932 under combined kana∪kanji gates (the 1/3-kana gate already
# had its turn, and a real sub-1/3-kana page still mixes both scripts —
# repro'd at 30% kana / 62% kanji, where a kanji-only core also fails;
# the union is safe HERE because the shape has already excluded every
# EUC-zone byte stream, so nothing else strict-decodes via cp932 into
# mostly kana+kanji) before the hanzi tail. Documented residual beyond
# this tier: a half-width-katakana-only EUC-JP page (0x8E leads) is
# second-level-only SJIS page (0xE0+ leads) lacks the shape entirely and
# remains the documented residual. A half-width-katakana-only EUC-JP page
# (legacy terminal text) is ALSO SJIS-shaped — its 0x8E shift bytes land
# in the lead range — so a dominance sub-check runs first: when ≥3/4 of
# the shaped pairs carry the single lead 0x8E (EUC-JP's SS2 shift; real
# SJIS prose spreads leads across the 0x88-0x9F kanji rows, and GB2312
# has no 0x8E bytes at all), euc_jp gets one probe under a
# half-width-kana core gate before cp932.
_SJIS_LEAD_PAIR_RE = re.compile(rb"[\x81-\x9f][\x40-\x7e\x80-\xfc]")
_SJIS_PHANTOM_RE = re.compile(rb"[\x81-\x9f][0-9A-Za-z][0-9A-Za-z]")
_SJIS_KANJI_CAND = ("cp932", re.compile(f"[{_KANA}{_HANZI}]"),
                    re.compile(f"[{_KANA}{_CJK_SHARED}]"), 2.0 / 3.0)
_SS2_PAIR_RE = re.compile(rb"\x8e[\xa1-\xdf]")
_HW_KANA_CAND = ("euc_jp", re.compile("[｡-ﾟ]"),
                 re.compile(f"[｡-ﾟ{_KANA}{_CJK_SHARED}]"), 2.0 / 3.0)


def _sjis_shaped(payload) -> bool:
    low = (len(_SJIS_LEAD_PAIR_RE.findall(payload))
           - len(_SJIS_PHANTOM_RE.findall(payload)))
    return low >= 4 and low * 4 >= len(_EUC_ZONE_PAIR_RE.findall(payload))
_NON_ASCII_RE = re.compile("[^\x00-\x7f]")

# Floor gates shared by all candidates: at least 8 core characters, at
# least 5 DISTINCT ones, and — the structural gate — the payload must not
# be LATIN-SHAPED. The floors alone do NOT protect Latin pages (hypothesis
# found the hole the original comment here missed): an accented letter
# followed by an ASCII letter IS a valid GBK/cp949/cp932 pair (0xE0 0x61 →
# one hanzi), so a page with ≥8 mid-word accents over ≥5 distinct bigrams
# ("Müller Böhm Jürgen…") strict-decodes and passes every fraction gate.
# The shape that separates the scripts: in Latin text the high bytes ARE
# Latin letters (0xC0-0xFF minus ×÷ — where every Western-European accent
# lives) sitting against ASCII letters inside words; in CJK byte streams
# the high bytes are leads/trails whose neighbors are other high bytes,
# ASCII *trail* bytes of NON-letter leads (katakana 0x83, fullwidth punct
# 0x81), or whitespace. `_latin_shape` counts high bytes that read as a
# Latin letter with an ASCII-letter neighbor; ≥2/3 of all high bytes →
# the CJK ladder is skipped. Measured: every Latin flip corpus vetoed;
# 0/8000 wrongly-vetoed random hangul/hiragana/KATAKANA/hanzi pages (an
# earlier adjacent-high-pair gate regressed pure-katakana Shift-JIS —
# all-ASCII trails — which this veto detects correctly again).
# Bounds pinned by tests/test_html_kernel.py + tests/test_properties.py.
_CJK_MIN_CORE = 8
_CJK_MIN_DISTINCT = 5
_CJK_BROAD_FRACTION = 2.0 / 3.0
_HIGH_BYTE_RE = re.compile(rb"[\x80-\xff]")
_LATIN_PAIR_RE = re.compile(
    rb"[A-Za-z][\xc0-\xd6\xd8-\xf6\xf8-\xff]"
    rb"|[\xc0-\xd6\xd8-\xf6\xf8-\xff][A-Za-z]"
)
# adjacent DIFFERING high bytes — the lead/trail signature of an isolated
# 2-byte CJK char; Latin doubled vowels (Finnish "ää" E4E4) are IDENTICAL
# bytes and are deliberately not matched
_HETERO_PAIR_RE = re.compile(rb"([\x80-\xff])(?!\1)([\x80-\xff])")


def _latin_shape(payload) -> bool:
    """True when >=2/3 of the payload's high bytes are cp1252 Latin letters
    adjacent to an ASCII letter — the signature of accented Latin words,
    never of a legacy CJK byte stream (see gate comment above). C-level
    scans, no per-byte Python: the non-overlapping pair scan counts each
    high byte at most once and can only UNDERcount the shared-ASCII shape
    high,letter,high (the un-counted second accent then sits against a
    non-letter, which already breaks the candidates' strict decode in the
    letter-trail encodings), so the error direction is veto-less — safe
    for CJK, and the fraction floor still holds for every measured Latin
    corpus. Scans run on the buffer directly (bytes OR the zero-copy
    Arrow memoryview) — no payload copy.

    Carve-out (hypothesis-found misroute): a glossary page of ISOLATED
    hanzi between ASCII words ("下reduce一reduce…") puts every high byte
    against an ASCII letter, the exact accented-Latin shape. Such pages
    are still decidable at the byte level — their high bytes sit in
    adjacent DIFFERING pairs (lead+trail), while Latin accents are mostly
    isolated (French/German/Spanish), identical when doubled (Finnish
    "ää"), and draw on few pair types when digraphed (Portuguese "ção" ⇒
    2-3 types). The veto therefore stands down only when hetero pairs
    cover >=1/2 of the high bytes AND >=5 distinct pair types appear
    (mirroring the ladder's own >=5-distinct-core floor); identical-byte
    hanzi (乙 D2D2 vs "ää" E4E4) remain a documented ambiguous tail. The
    extra scan is paid only by pages already past the Latin fraction,
    i.e. about to be vetoed."""
    n_high = len(_HIGH_BYTE_RE.findall(payload))
    if not n_high:
        return False
    if len(_LATIN_PAIR_RE.findall(payload)) * 3 < n_high * 2:
        return False
    pairs = _HETERO_PAIR_RE.findall(payload)
    return not (len(pairs) * 4 >= n_high and len(set(pairs)) >= 5)


def _probe_cjk(payload) -> tuple[str, str] | None:
    """Byte-pattern probe for undeclared legacy CJK (VERDICT r4 item 3):
    ``(codec, decoded_text)`` for the first ladder candidate whose strict
    decode passes the core/broad script gates above, or None. Returning
    the decoded string keeps decode_payload single-decode on this lane —
    the winning strict decode IS the result (a re-decode with 'replace'
    would be a byte-identical no-op paid per page). Runs only on the
    minority non-UTF-8 undeclared path; each attempt is one C-level
    decode plus three C-level regex scans."""
    if _latin_shape(payload):
        return None  # accented Latin words, not a CJK byte stream
    # the shape scans run lazily: a page the cp932/cp949 rungs claim never
    # pays them — they only order the two-candidate hanzi tail
    for cand in _CJK_PROBE_CANDIDATES[:-2]:
        hit = _probe_one(payload, cand)
        if hit is not None:
            return hit
    # nearly-kana-free SJIS: the kana rungs passed on it, and its pairs
    # would strict-decode as gbk hanzi below — the 0x81-0x9F lead shape
    # gives cp932 one try under the hanzi gates first
    if _sjis_shaped(payload):
        n_ss2 = len(_SS2_PAIR_RE.findall(payload))
        n_lead = (len(_SJIS_LEAD_PAIR_RE.findall(payload))
                  - len(_SJIS_PHANTOM_RE.findall(payload)))
        if 4 * n_ss2 >= 3 * n_lead:
            hit = _probe_one(payload, _HW_KANA_CAND)
            if hit is not None:
                return hit
        hit = _probe_one(payload, _SJIS_KANJI_CAND)
        if hit is not None:
            return hit
    tail = _CJK_PROBE_CANDIDATES[-2:]
    if _big5_shaped(payload):
        tail = tail[::-1]
    for cand in tail:
        hit = _probe_one(payload, cand)
        if hit is not None:
            return hit
    return None


def _probe_one(payload, cand) -> tuple[str, str] | None:
    """One probe-ladder rung: strict decode + the core/broad script gates."""
    codec, core_re, broad_re, core_frac = cand
    try:
        s = str(payload, codec)
    except (UnicodeDecodeError, ValueError):
        return None
    core = core_re.findall(s)
    if len(core) < _CJK_MIN_CORE or len(set(core)) < _CJK_MIN_DISTINCT:
        return None
    high = len(_NON_ASCII_RE.findall(s))
    if len(core) < high * core_frac:
        return None
    if len(broad_re.findall(s)) < high * _CJK_BROAD_FRACTION:
        return None
    if codec == "cp949":
        syl = [c for c in core if "가" <= c <= "힣"]
        # real Korean core is SYLLABLES; a jamo-majority decode is the
        # EUC-JP-kana-rows-as-cp949 signature (row 0xA4/0xA5 → U+3130
        # compatibility jamo), which the vacuous `if syl` guard used to
        # wave through when not a single true syllable appeared
        if 2 * len(syl) < len(core):
            return None  # compatibility-jamo mojibake, not Korean
        if syl and 2 * sum(c in _KSX1001_SYLLABLES for c in syl) < len(syl):
            return None  # extension-zone mojibake, not Korean
    return codec, s


def _decode_cp1252(payload) -> str:
    """Total windows-1252 decode with the WHATWG table (never raises).
    The dict-translate is paid only when a 0x80-0x9F byte is present —
    pages that are latin-1-pure outside that window return the latin-1
    decode untouched (one C-level scan instead of a per-char dict walk)."""
    s = str(payload, "latin-1")
    if _C1_RE.search(s):
        return s.translate(_CP1252_C1)
    return s


def _declared_charset(payload) -> str | None:
    """BOM- or <meta>-declared codec of a payload, None when undeclared —
    the single sniff shared by :func:`detect_charset` and
    :func:`decode_payload` so the two can never drift. 'windows-1252'
    means the WHATWG table (:func:`_decode_cp1252`). Accepts ``bytes`` or
    a ``memoryview`` (the zero-copy Arrow batch path)."""
    head = bytes(payload[:4])
    for bom, enc in _BOMS:
        if head.startswith(bom):
            return enc
    prescan = payload[:2048]
    m = _META_CHARSET_RE.search(prescan)
    if m and _COMMENT_OPEN_RE.search(prescan):
        # the WHATWG prescan SKIPS comments: a commented-out
        # <!-- <meta charset=…> --> must not win (an unterminated comment
        # swallows the rest of the prescan window, same as the spec's
        # skip-until--> rule). The strip is paid only when both a meta
        # match AND a comment opener exist in the window.
        m = _META_CHARSET_RE.search(
            re.sub(rb"<!--.*?(?:-->|$)", b"", bytes(prescan), flags=re.S)
        )
    if m:
        name = m.group(1).decode("ascii", "replace").lower()
        if name in _CP1252_LABELS:
            return "windows-1252"
        whatwg = _WHATWG_CJK_CODECS.get(name)
        if whatwg is not None:
            return whatwg
        try:
            import codecs

            # lookup() also accepts bytes↔bytes transforms (base64, hex,
            # zlib…) that str(payload, name) would LATER blow up on —
            # CodecInfo flags real text encodings (the b"".decode probe
            # can't: empty bytes short-circuit before the codec check).
            # WHATWG: an unrecognized label is IGNORED and detection
            # continues (UTF-8 probe / CJK ladder / cp1252 default).
            if not getattr(codecs.lookup(name), "_is_text_encoding", True):
                raise LookupError(name)
            return name
        except LookupError:
            pass
    return None


def detect_charset(payload) -> str:
    """Charset sniff: BOM > declared <meta> in the 2 KB prescan > strict
    UTF-8 probe (with the 7-bit ISO-2022-JP escape check on success) >
    undeclared-CJK byte-pattern probe > windows-1252 (the WHATWG default
    for undeclared legacy content). Returns a codec name."""
    enc = _declared_charset(payload)
    if enc is not None:
        return enc
    try:
        str(payload, "utf-8")
        if _ISO2022_JP_SHIFT_RE.search(payload):
            hit = _probe_one(payload, _ISO2022_JP_CAND)
            if hit is not None:
                return hit[0]
        return "utf-8"
    except UnicodeDecodeError:
        probed = _probe_cjk(payload)
        return probed[0] if probed else "windows-1252"


def decode_payload(payload) -> str:
    """Decode an HTML payload per :func:`detect_charset` (total).

    Single-pass on the dominant undeclared-UTF-8 path: the strict decode IS
    the probe, so valid pages are not scanned twice. Accepts ``bytes`` or a
    ``memoryview`` (zero-copy Arrow batch path — the decoded ``str`` is the
    first and only per-doc payload allocation)."""
    enc = _declared_charset(payload)
    if enc == "windows-1252":
        return _decode_cp1252(payload)
    if enc is not None:
        return str(payload, enc, "replace")
    try:
        s = str(payload, "utf-8")
    except UnicodeDecodeError:
        probed = _probe_cjk(payload)
        if probed is not None:
            return probed[1]  # the probe's strict decode IS the result
        return _decode_cp1252(payload)
    if _ISO2022_JP_SHIFT_RE.search(payload):
        hit = _probe_one(payload, _ISO2022_JP_CAND)
        if hit is not None:
            return hit[1]
    return s


# Boilerplate gates (deterministic constants; tuned on FIXTURES.md variants).
MIN_CONTENT_CHARS = 10          # shorter non-heading blocks need context to stay
LINK_DENSITY_MAX = 0.40         # blocks above this are link farms
LINK_DENSITY_MAX_SHORT = 0.20   # stricter gate for short blocks
SHORT_BLOCK_WORDS = 8


# any whitespace char that is not a plain space: with no doubled or edge
# spaces either, the text is already in normal form and _norm returns it
# unchanged — substring check + one C-level class scan, no allocations.
_ODD_WS = re.compile("[^\\S ]")


def _norm(text: str) -> str:
    """Collapse whitespace runs to single spaces and strip (HTML semantics).

    ``" ".join(text.split())`` is exactly ``re.sub(r"\\s+", " ", text).strip()``
    (``\\s`` and ``str.isspace()`` agree on every codepoint — verified
    exhaustively). Fast path: no edge spaces, no doubled spaces, no
    non-space whitespace ⇒ the join-of-split is the identity (equivalence
    fuzzed over 200k random strings incl. unicode whitespace) and the text
    returns unchanged without building a word list.
    """
    if (text and text[0] != " " and text[-1] != " "
            and "  " not in text and not _ODD_WS.search(text)):
        return text
    return " ".join(text.split())


@dataclass(slots=True)
class Block:
    """One candidate text block with boilerplate-scoring features."""

    tag: str
    depth: int
    in_chrome: bool            # inside nav/header/footer/aside or hinted class
    in_main: bool              # inside <main>/<article>
    chrome_tag: str = ""       # outermost enclosing chrome tag, "" outside
    heading: int = 0           # 1..6 for h1..h6, else 0
    kind: str = "paragraph"    # provisional element type
    parts: list = field(default_factory=list)        # text fragments
    link_parts: list = field(default_factory=list)   # fragments inside <a>
    _text: str | None = None   # normalized text, cached at block close

    def text(self) -> str:
        if self._text is None:
            self._text = _norm("".join(self.parts))
        return self._text

    def link_chars(self) -> int:
        return len(_norm("".join(self.link_parts)))


def _parse_srcset(value: str | None) -> list:
    """``srcset`` candidates per the HTML spec's comma-split-with-descriptor
    grammar: ``url [descriptor]`` pairs; commas inside URLs are tolerated by
    splitting only on commas followed by whitespace or preceded by a
    descriptor. Returns ``[(url, descriptor)]``, descriptor "" when absent.
    """
    if not value:
        return []
    out: list = []
    for part in value.split(","):
        part = part.strip()
        if not part:
            continue
        bits = part.split(None, 1)
        url = bits[0]
        desc = bits[1].strip() if len(bits) > 1 else ""
        if url:
            out.append((url, desc))
    return out


def _span_attr(attrs, name: str) -> int:
    """colspan/rowspan per WHATWG table processing: non-numeric or missing
    → 1; clamped to [1, 1000] (the spec's colspan ceiling)."""
    for k, v in attrs:
        if k == name and v is not None:
            s = str(v).strip()
            if s.isdigit():
                return max(1, min(1000, int(s)))
            return 1
    return 1


_REFRESH_RE = re.compile(
    r"""^\s*(\d+)\s*(?:[;,]\s*(?:url\s*=\s*)?['"]?([^'"\s]+)['"]?)?\s*$""",
    re.IGNORECASE,
)


def _parse_refresh(content: str) -> tuple | None:
    """WHATWG-style `<meta http-equiv=refresh>` content: a delay in whole
    seconds, optionally followed by ';'/',' and a (possibly quoted,
    possibly `url=`-prefixed) target. Returns (delay, url|None) or None on
    junk."""
    m = _REFRESH_RE.match(content)
    if not m:
        return None
    url = m.group(2)
    return (int(m.group(1)), url if url else None)


def _kind_for_tag(tag: str) -> str:
    if tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
        return "title"
    if tag in ("li", "dt", "dd"):
        return "list"
    if tag in ("td", "th"):
        return "table"
    if tag in ("figcaption", "caption"):
        return "caption"
    return "paragraph"


class _BlockParser:
    """Handler producing a flat, document-ordered block list; driven by
    :func:`_scan` (a direct tag scanner ~2× faster than stdlib html.parser,
    which dominated the kernel profile — VERDICT r1 item 8)."""

    def __init__(self) -> None:
        self.blocks: list[Block] = []
        self.links: list[dict] = []  # {href, text, chrome} per <a href=...>
        self.title: str | None = None  # head <title> (first wins)
        self.meta: dict[str, str] = {}  # <meta name=... content=...>
        self.base_href: str | None = None  # <base href> (first wins)
        self.canonical: str | None = None  # <link rel=canonical> (first wins)
        self.refresh: tuple | None = None  # (delay_s, url|None), first wins
        self.feeds: list[dict] = []  # <link rel=alternate type=*ss+xml>
        self._stack: list[str] = []
        self._drop_depth = 0
        self._chrome_depth = 0
        self._chrome_tag = ""
        self._main_depth = 0
        self._link_depth = 0
        self._figure_depth = 0
        self._open_a: list[tuple] = []  # (href, anchor_parts, in_chrome)
        self._cur: Block | None = None
        self.saw_main = False
        self.assets: list[dict] = []  # {src, alt, chrome} per <img src=...>
        self.ldjson: list[str] = []  # raw <script type=application/ld+json> bodies
        # table grid capture (runs alongside, independent of block scoring)
        self.tables: list[dict] = []
        self._table_stack: list[dict] = []  # innermost last
        self._table_seq = 0

    # -- block lifecycle ---------------------------------------------------

    def _open_block(self, tag: str) -> None:
        self._close_block()
        kind = _kind_for_tag(tag)
        if self._figure_depth > 0 and kind == "paragraph":
            kind = "figure"
        blk = Block(
            tag=tag,
            depth=len(self._stack),
            in_chrome=self._chrome_depth > 0,
            in_main=self._main_depth > 0,
            chrome_tag=self._chrome_tag if self._chrome_depth > 0 else "",
            heading=int(tag[1]) if len(tag) == 2 and tag[0] == "h" and tag[1].isdigit() else 0,
            kind=kind,
        )
        self._cur = blk

    def _close_block(self) -> None:
        if self._cur is not None and self._cur.text():
            self.blocks.append(self._cur)
        self._cur = None

    def handle_starttag(self, tag, attrs):
        # tag arrives already lowercased from _scan
        if tag in _VOID_TAGS:
            if tag == "br" and self._cur is not None:
                self._cur.parts.append(" ")
            elif tag == "img":
                src_v = alt_v = srcset_v = None
                for k, v in attrs:
                    if k == "src" and v:
                        src_v = str(v).strip()
                    elif k == "alt" and v is not None:
                        alt_v = str(v)
                    elif k == "srcset" and v:
                        srcset_v = str(v)
                if src_v or srcset_v:
                    self.assets.append({
                        "src": src_v,
                        "alt": _norm(alt_v) if alt_v else "",
                        "chrome": self._chrome_depth > 0,
                        "srcset": _parse_srcset(srcset_v),
                    })
            elif tag == "meta":
                name = content = equiv = None
                for k, v in attrs:
                    if k in ("name", "property") and v:
                        name = str(v).lower()
                    elif k == "http-equiv" and v:
                        equiv = str(v).lower()
                    elif k == "content" and v is not None:
                        content = str(v)
                if name and content is not None and name not in self.meta:
                    self.meta[name] = _norm(content)
                if (equiv == "refresh" and content is not None
                        and self.refresh is None):
                    parsed = _parse_refresh(content)
                    if parsed is not None:
                        self.refresh = parsed
            elif tag == "link":
                rel = href = ltype = title = None
                for k, v in attrs:
                    if k == "rel" and v:
                        rel = str(v).lower().split()
                    elif k == "href" and v:
                        href = str(v)
                    elif k == "type" and v:
                        ltype = str(v).strip().lower()
                    elif k == "title" and v is not None:
                        title = str(v)
                if rel and href:
                    if "canonical" in rel and self.canonical is None:
                        self.canonical = href.strip()
                    elif "alternate" in rel and ltype in (
                        "application/rss+xml", "application/atom+xml"
                    ):
                        self.feeds.append({
                            "href": href.strip(),
                            "kind": "rss" if "rss" in ltype else "atom",
                            "title": _norm(title) if title else "",
                        })
            elif tag == "base" and self.base_href is None:
                href = next(
                    (str(v) for k, v in attrs if k == "href" and v), None
                )
                if href:
                    self.base_href = href.strip()
            return
        if tag in _DROP_TAGS or self._drop_depth > 0:
            # </head> is OPTIONAL (HTML spec §13.1.2.4): a body-content tag
            # arriving while the innermost drop scope is rooted at <head>
            # implicitly closes it — otherwise the head's drop mode would
            # swallow the entire document text. Scopes rooted at real drop
            # subtrees (svg/iframe/script…) keep dropping their children.
            if (self._drop_depth > 0 and tag not in _DROP_TAGS
                    and len(self._stack) >= self._drop_depth
                    and self._stack[-self._drop_depth] == "head"):
                self.handle_endtag("head")
            else:
                self._stack.append(tag)
                self._drop_depth += 1
                return
        hinted = False
        if tag in ("div", "section", "ul", "ol", "table"):
            attr_blob = " ".join(
                str(v).lower() for k, v in attrs if k in ("class", "id", "role") and v
            )
            hinted = any(h in attr_blob for h in _CHROME_HINTS)
        self._stack.append(tag)
        if tag in _CHROME_TAGS or hinted:
            if self._chrome_depth == 0:
                self._chrome_tag = tag
            self._chrome_depth += 1
            self._stack[-1] = "!chrome:" + tag
        if tag in ("main", "article"):
            self._main_depth += 1
            self.saw_main = True
        if tag == "figure":
            self._figure_depth += 1
        if tag == "a":
            self._link_depth += 1
            href = rel = None
            for k, v in attrs:
                if k == "href" and v:
                    href = str(v)
                elif k == "rel" and v:
                    rel = str(v).lower()
            # href-less anchors push a SENTINEL (href None) so every </a>
            # pops symmetrically — otherwise a nested bare <a> pops the
            # enclosing link early and truncates its anchor text
            nofollow = (href is not None and rel is not None
                        and "nofollow" in rel.split())
            self._open_a.append(
                (href, [], self._chrome_depth > 0, nofollow)
            )
        if tag == "table":
            self._table_seq += 1
            self._table_stack.append(
                {"rows": [], "row": None, "cell": None, "seq": self._table_seq,
                 "chrome": self._chrome_depth > 0}
            )
        elif tag == "tr" and self._table_stack:
            t = self._table_stack[-1]
            self._close_table_cell(t)
            t["row"] = []
            t["rows"].append(t["row"])
        elif tag in ("td", "th") and self._table_stack:
            t = self._table_stack[-1]
            self._close_table_cell(t)
            if t["row"] is None:  # lenient: cell without an open <tr>
                t["row"] = []
                t["rows"].append(t["row"])
            t["cell"] = {
                "parts": [],
                "header": tag == "th",
                "colspan": _span_attr(attrs, "colspan"),
                "rowspan": _span_attr(attrs, "rowspan"),
            }
        if tag in _BLOCK_TAGS:
            self._open_block(tag)

    # -- table capture helpers ---------------------------------------------

    @staticmethod
    def _close_table_cell(t: dict) -> None:
        if t["cell"] is not None:
            t["row"].append(t["cell"])
            t["cell"] = None

    def _close_table(self) -> None:
        """Finalize the innermost open table into a (row, col) grid with
        WHATWG-style span occupancy: cells slide right past slots claimed by
        earlier rowspans; rowspans are clipped at the table's last row."""
        t = self._table_stack.pop()
        self._close_table_cell(t)
        n_rows = len(t["rows"])
        occupied: set = set()
        cells: list[dict] = []
        n_cols = 0
        for r, row in enumerate(t["rows"]):
            c = 0
            for cell in row:
                while (r, c) in occupied:
                    c += 1
                rs = min(cell["rowspan"], n_rows - r)
                cs = cell["colspan"]
                # hostile-input guard: occupancy is O(rowspan*colspan) per
                # cell; past 1M claimed slots further spans degrade to 1x1
                # (deterministic, keeps the walk linear in cell count)
                if len(occupied) > 1_000_000:
                    rs = cs = 1
                for dr in range(rs):
                    for dc in range(cs):
                        occupied.add((r + dr, c + dc))
                cells.append(
                    {"row": r, "col": c, "rowspan": rs, "colspan": cs,
                     "header": cell["header"],
                     "text": _norm("".join(cell["parts"]))}
                )
                c += cs
                n_cols = max(n_cols, c)
        if cells:
            self.tables.append(
                {"seq": t["seq"], "n_rows": n_rows,
                 "n_cols": n_cols, "chrome": t["chrome"], "cells": cells}
            )

    def handle_endtag(self, tag):
        # tag arrives already lowercased from _scan
        if tag in _VOID_TAGS:
            return
        # Unwind the stack leniently (malformed HTML: unbalanced tags).
        if tag not in self._stack and ("!chrome:" + tag) not in self._stack:
            return
        while self._stack:
            top = self._stack.pop()
            bare = top.split(":", 1)[1] if top.startswith("!chrome:") else top
            if self._drop_depth > 0:
                self._drop_depth -= 1
            else:
                if top.startswith("!chrome:") or bare in _CHROME_TAGS:
                    self._chrome_depth = max(0, self._chrome_depth - 1)
                    if self._chrome_depth == 0:
                        self._chrome_tag = ""
                if bare in ("main", "article"):
                    self._main_depth = max(0, self._main_depth - 1)
                if bare == "figure":
                    self._figure_depth = max(0, self._figure_depth - 1)
                if bare == "a":
                    self._link_depth = max(0, self._link_depth - 1)
                    if self._open_a:
                        href, parts, chrome, nofollow = self._open_a.pop()
                        if href is None:
                            # bare-anchor sentinel: its text still belongs
                            # to the enclosing link's anchor text
                            if self._open_a:
                                self._open_a[-1][1].extend(parts)
                        else:
                            self.links.append({
                                "href": href,
                                "text": _norm("".join(parts)),
                                "chrome": chrome,
                                "nofollow": nofollow,
                            })
                if bare in ("td", "th") and self._table_stack:
                    self._close_table_cell(self._table_stack[-1])
                elif bare == "tr" and self._table_stack:
                    t = self._table_stack[-1]
                    self._close_table_cell(t)
                    t["row"] = None
                elif bare == "table" and self._table_stack:
                    self._close_table()
                if bare in _BLOCK_TAGS:
                    self._close_block()
            if bare == tag:
                break

    def handle_data(self, data):
        if self._drop_depth > 0 or not data:
            return
        if self._cur is None:
            if not data.strip():
                return
            # Bare text outside any block tag (e.g. directly under <body>).
            self._open_block("p")
        self._cur.parts.append(data)
        if self._link_depth > 0:
            self._cur.link_parts.append(data)
        if self._open_a:
            self._open_a[-1][1].append(data)
        # innermost open cell wins (text between a nested <table> and its
        # first <td> has no cell of its own and falls to the enclosing cell)
        for t in reversed(self._table_stack):
            if t["cell"] is not None:
                t["cell"]["parts"].append(data)
                break

    def handle_ldjson(self, body: str) -> None:
        self.ldjson.append(body)

    def handle_title(self, body: str) -> None:
        if self.title is None:
            t = _norm(unescape(body) if "&" in body else body)
            if t:
                self.title = t

    def close(self):
        self._close_block()
        # flush anchors left open by malformed markup
        while self._open_a:
            href, parts, chrome, nofollow = self._open_a.pop()
            if href is None:
                if self._open_a:
                    self._open_a[-1][1].extend(parts)
                continue
            self.links.append(
                {"href": href, "text": _norm("".join(parts)),
                 "chrome": chrome, "nofollow": nofollow}
            )
        # finalize tables left open by malformed markup (innermost first),
        # then restore document (open-tag) order
        while self._table_stack:
            self._close_table()
        self.tables.sort(key=lambda t: t["seq"])
        for i, t in enumerate(self.tables):
            t.pop("seq")
            t["table_idx"] = i


_TAG_WS = " \t\n\r\f"
_NAME_END = _TAG_WS + "/>"
# Raw-text / RCDATA elements: their content is never markup per HTML5, so
# seek the close tag case-insensitively instead of tokenizing the body.
# script/style are rawtext; title/textarea are RCDATA (a stray "</head>"
# INSIDE a title must not pop the real head off the stack). All four
# contribute no main-content text, so their bodies are skipped outright.
_RAWTEXT_CLOSE = {
    name: re.compile("</" + name, re.IGNORECASE)
    for name in ("script", "style", "title", "textarea")
}


def _scan(html: str, h: "_BlockParser") -> None:
    """Drive the handler over ``html`` in one pass: start/end tags with
    attribute parsing (quote-aware, so '>' inside attribute values doesn't
    truncate the tag), comments/doctype/PI skipped, charrefs unescaped in
    data, raw-text handling for script/style."""
    n = len(html)
    i = 0
    find = html.find
    while i < n:
        lt = find("<", i)
        if lt == -1:
            if i < n:
                h.handle_data(unescape(html[i:]) if "&" in html[i:] else html[i:])
            break
        if lt > i:
            seg = html[i:lt]
            h.handle_data(unescape(seg) if "&" in seg else seg)
        c = html[lt + 1 : lt + 2]
        if c == "!":
            if html.startswith("<!--", lt):
                end = find("-->", lt + 4)
                i = n if end == -1 else end + 3
            else:  # doctype / CDATA-ish declaration
                end = find(">", lt)
                i = n if end == -1 else end + 1
            continue
        if c == "?":
            end = find(">", lt)
            i = n if end == -1 else end + 1
            continue
        if c == "/":
            end = find(">", lt)
            if end == -1:
                i = n
                continue
            name = html[lt + 2 : end].strip(_TAG_WS).lower()
            # tolerate attributes on close tags: take the bare name
            for sep in _TAG_WS:
                if sep in name:
                    name = name.split(sep, 1)[0]
                    break
            if name:
                h.handle_endtag(name)
            i = end + 1
            continue
        if not c.isalpha():
            h.handle_data("<")
            i = lt + 1
            continue
        # start tag: name, then quote-aware attribute scan
        k = lt + 1
        while k < n and html[k] not in _NAME_END:
            k += 1
        name = html[lt + 1 : k].lower()
        attrs: list[tuple[str, str | None]] = []
        closed = False
        while k < n:
            ch = html[k]
            if ch == ">":
                break
            if ch == "/":
                if html[k + 1 : k + 2] == ">":
                    closed = True
                k += 1
                continue
            if ch in _TAG_WS:
                k += 1
                continue
            a0 = k
            while k < n and html[k] not in _TAG_WS and html[k] not in "=/>":
                k += 1
            aname = html[a0:k].lower()
            while k < n and html[k] in _TAG_WS:
                k += 1
            val: str | None = None
            if k < n and html[k] == "=":
                k += 1
                while k < n and html[k] in _TAG_WS:
                    k += 1
                if k < n and html[k] in "\"'":
                    q = html[k]
                    v0 = k + 1
                    vq = find(q, v0)
                    if vq == -1:
                        val, k = html[v0:], n
                    else:
                        val, k = html[v0:vq], vq + 1
                else:
                    v0 = k
                    while k < n and html[k] not in _TAG_WS and html[k] != ">":
                        k += 1
                    val = html[v0:k]
            if aname:
                attrs.append((aname, unescape(val) if val and "&" in val else val))
        if k >= n:
            break  # unterminated tag at EOF — drop it (total, deterministic)
        i = k + 1
        h.handle_starttag(name, attrs)
        if not closed and name in _RAWTEXT_CLOSE:
            m = _RAWTEXT_CLOSE[name].search(html, i)
            if m is None:
                break  # raw text runs to EOF; content is dropped anyway
            if name == "title":
                # RCDATA body contributes no main-content text but IS the
                # document title metadata
                h.handle_title(html[i:m.start()])
            elif name == "script":
                stype = next(
                    (v for ak, v in attrs if ak == "type" and v), ""
                )
                # MIME type params are legal ("application/ld+json;charset=…")
                if (stype and stype.split(";", 1)[0].strip().lower()
                        == "application/ld+json"):
                    h.handle_ldjson(html[i:m.start()])
            i = m.start()  # the </script> end tag is handled next loop


def _classify(blocks: list[Block], saw_main: bool) -> list[tuple[str, str, int, float]]:
    """Select content blocks; return [(elem_type, text, heading_level,
    confidence)] in document order (heading_level is 1..6 for h1-h6 titles,
    else 0).

    Density cascade mirrors the reference's cheap-predicate-first ordering
    (advanced_layout_extractor.py:636-691): structural gates first, then
    link-density, then length.

    Confidence is the boilerplate-gate margin (the per-element confidence
    of the reference's LayoutElement, advanced_layout_extractor.py:65-79):
    markup declares the structure, so the residual uncertainty is how
    link-dense the block is — headings score 0.95 − ld/2 (≥ 0.85 at the
    title gate), markup captions a flat 0.85, every other kept block
    0.9 − ld/2 (> 0.7 at the general gate).
    """
    kept: list[tuple[str, str, int, float]] = []
    chrome_kept: list[tuple[str, str, int, float]] = []
    for blk in blocks:
        text = blk.text()
        if not text:
            continue
        if blk.in_chrome:
            # chrome blocks are dropped whenever ANY real content exists;
            # they survive only as the all-chrome fallback below (splash/
            # landing pages whose entire text lives in header/footer/nav),
            # typed by their outermost chrome container and scored on the
            # weaker 0.6 base so downstream confidence gates see the path
            n = len(text)
            words = text.count(" ") + 1
            ld = blk.link_chars() / n if n else 1.0
            if ld > LINK_DENSITY_MAX:
                continue
            if words <= SHORT_BLOCK_WORDS and ld > LINK_DENSITY_MAX_SHORT:
                continue
            if (n < MIN_CONTENT_CHARS and blk.kind == "paragraph"
                    and not blk.heading):
                continue
            kind = ("header" if blk.chrome_tag == "header"
                    else "footer" if blk.chrome_tag == "footer"
                    else "title" if blk.heading else blk.kind)
            chrome_kept.append(
                (kind, text, blk.heading, round(0.6 - 0.5 * ld, 4))
            )
            continue
        if saw_main and not blk.in_main:
            continue
        n = len(text)
        words = text.count(" ") + 1
        ld = blk.link_chars() / n if n else 1.0
        if blk.heading:
            if ld <= LINK_DENSITY_MAX_SHORT:
                kept.append(("title", text, blk.heading, round(0.95 - 0.5 * ld, 4)))
            continue
        if blk.kind == "caption":
            kept.append(("caption", text, 0, 0.85))
            continue
        if ld > LINK_DENSITY_MAX:
            continue
        if words <= SHORT_BLOCK_WORDS and ld > LINK_DENSITY_MAX_SHORT:
            continue
        if n < MIN_CONTENT_CHARS and blk.kind == "paragraph":
            continue
        kept.append((blk.kind, text, 0, round(0.9 - 0.5 * ld, 4)))
    return kept if kept else chrome_kept


def _parse(payload: bytes | str) -> _BlockParser:
    """Decode one payload and run the block parser over it to the end: the
    front end :func:`extract_html` and every side extractor share."""
    html = payload if isinstance(payload, str) else decode_payload(payload)
    parser = _BlockParser()
    _scan(html, parser)
    parser.close()
    return parser


def extract_html(payload: bytes | str) -> dict:
    """Extract main content from one HTML payload.

    Returns ``{"text": str, "spans": [(elem_type, page, start, end, bbox,
    confidence, hierarchy_level, parent_id)], "n_elements": int, "method": "html",
    "error": str|None, "links": [{href, text, chrome}]}`` — links in
    document order with their anchor text and a boilerplate flag.
    Never raises; on catastrophic failure returns empty text with the error
    recorded (posture of advanced_layout_extractor.py:690-691, logged not
    silenced).
    """
    try:
        parser = _parse(payload)
        kept = _classify(parser.blocks, parser.saw_main)
        texts: list[str] = []
        spans: list = []
        pos = 0
        headings: list[tuple[int, str]] = [
            (lvl, t) for k, t, lvl, _c in kept if k == "title" and lvl > 0
        ]
        for elem_type, text, _lvl, conf in kept:
            if texts:
                pos += 2  # "\n\n" separator
            start = pos
            end = start + len(text)
            spans.append([elem_type, 0, start, end, [0.0, 0.0, 0.0, 0.0], conf])
            texts.append(text)
            pos = end
        from .hierarchy import assign_hierarchy

        levels = assign_hierarchy([s[0] for s in spans])
        spans = [tuple(s) + (lvl, par) for s, (lvl, par) in zip(spans, levels)]
        return {
            "text": "\n\n".join(texts),
            "spans": spans,
            "n_elements": len(spans),
            "method": "html",
            "error": None,
            "links": parser.links,
            "headings": headings,
            "meta": {
                "title": parser.title,
                "author": parser.meta.get("author"),
                "robots": parser.meta.get("robots"),
                "base": parser.base_href,
                "canonical": parser.canonical,
                "refresh_delay": parser.refresh[0] if parser.refresh else None,
                "refresh_url": parser.refresh[1] if parser.refresh else None,
            },
        }
    except Exception as exc:  # totality: malformed input must degrade
        return {
            "text": "",
            "spans": [],
            "n_elements": 0,
            "method": "html",
            "error": f"{type(exc).__name__}: {exc}",
            "links": [],
            "headings": [],
            "meta": {},
        }


def extract_html_tables(payload: bytes | str) -> list[dict]:
    """Decompose every <table> in the payload into a (row, col) cell grid.

    Returns ``[{"table_idx", "n_rows", "n_cols", "chrome", "cells": [{"row",
    "col", "rowspan", "colspan", "header", "text"}, ...]}, ...]`` in document
    (open-tag) order. Span occupancy follows the WHATWG table-processing
    model: cells slide right past slots claimed by earlier rowspans, spans
    clamp to [1, 1000], and rowspans clip at the table's last row. Mirrors
    the PDF side's ruled-grid decomposition (extract_table_cells; reference
    parity: pdf_vector_utils.py:169-192 builds the same row/col matrix from
    detected boundaries). Never raises; malformed markup degrades to the
    tables recoverable from the leniently-unwound tag stack.
    """
    try:
        return _parse(payload).tables
    except Exception:
        return []


def extract_html_assets(payload: bytes | str) -> list[dict]:
    """Image assets in document order: ``[{src, alt, chrome}]`` per
    ``<img src=...>`` — the harvesting surface image-text-pair corpora
    (alt-text captioning) are built from. Dropped subtrees (script/
    template/svg) contribute nothing; boilerplate regions are flagged, not
    removed. Never raises."""
    try:
        return _parse(payload).assets
    except Exception:
        return []


def extract_jsonld(payload: bytes | str) -> list[dict]:
    """Structured-data objects from ``<script type="application/ld+json">``
    blocks (schema.org metadata: articles, products, breadcrumbs — the
    machine-readable layer SEO tooling and metadata harvesters read).
    Top-level arrays and ``@graph`` containers are flattened; unparseable
    blocks are skipped (degrade, don't crash). Returns the parsed JSON
    objects in document order."""
    import json as _json

    try:
        out: list[dict] = []
        for raw in _parse(payload).ldjson:
            try:
                obj = _json.loads(raw)
            except ValueError:
                continue
            items = obj if isinstance(obj, list) else [obj]
            for it in items:
                if isinstance(it, dict) and isinstance(it.get("@graph"), list):
                    out.extend(g for g in it["@graph"] if isinstance(g, dict))
                elif isinstance(it, dict):
                    out.append(it)
        return out
    except Exception:
        return []


def extract_meta_map(payload: bytes | str) -> dict:
    """The full ``<meta name/property>`` map (first occurrence wins,
    normalized values) plus the head ``<title>`` under ``"title"`` — the
    surface OpenGraph/Twitter-card harvesters read. Never raises."""
    try:
        parser = _parse(payload)
        out = dict(parser.meta)
        if parser.title is not None:
            out.setdefault("title", parser.title)
        return out
    except Exception:
        return {}


def extract_feed_links(payload: bytes | str) -> list[dict]:
    """Feed autodiscovery: ``<link rel=alternate type=application/rss+xml
    |atom+xml>`` declarations in document order — how crawlers find a
    site's feeds from any page. Returns ``[{href, kind, title}]``. Never
    raises."""
    try:
        return _parse(payload).feeds
    except Exception:
        return []
