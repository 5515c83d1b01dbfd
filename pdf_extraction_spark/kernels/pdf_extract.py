"""Pure-Python PDF text/layout extraction.

From-scratch implementation of the PDF reading path the reference delegates
to PyMuPDF/pdfplumber (SURVEY.md S1/S5): xref-table *and* xref-stream walk,
FlateDecode, a content-stream tokenizer (BT/ET, Tf, Td/TD/Tm/T*, Tj/TJ/'/"),
vector primitives (lines/rects as in pdf_vector_utils.py:38-90), and layout
reconstruction — line grouping, column clustering via 1-D gap sessionization
(the reference's clustering at table_figure_classifier.py:136-153), grid
(table) detection from line intersections (pdf_vector_utils.py:169-192,
138-149), and reading-order reconstruction (filling the reference's stub at
advanced_layout_extractor.py:546-552).

Two lexers share one token grammar. Content streams, where the tokens
are, go through ``_content_ops``: one compiled alternation (``_CTOK``)
matches a whitespace/comment run plus one whole token per call, so the
common tokens (numbers, operators, names, flat strings, number/string
arrays) cost one regex match each. ``_Lexer`` is the recursive-descent
lexer for the object layer (xref, dictionaries, object streams) and the
content tokenizer's one slow path for every other token shape.

Zero third-party imports. Total: malformed input degrades to partial or
empty output with the error recorded (advanced_layout_extractor.py:690-691
posture, logged not silenced). Work is bounded: each stream's decoded
bytes are capped, and so are each page's content-stream tokens; a
document past either bound fails closed with a ``budget`` error.

Element typing rules carried from the reference:

* TITLE  — run font size ≥ 1.2 × page median size
  (advanced_layout_extractor.py:343-349);
* TABLE  — text inside a detected ruled grid: ≥ 4 h×v line intersections
  and regular spacing (pdf_vector_utils.py:138-149);
* PARAGRAPH — everything else; paragraph break on vertical gap
  > 1.8 × leading; paragraphs continue across column and page boundaries.
"""

from __future__ import annotations

import math
import re
import zlib

from . import afm

_LIT_SPECIAL = re.compile(rb"[\\()]")
_LIT_ESCAPES = {0x6E: 0x0A, 0x72: 0x0D, 0x74: 0x09, 0x62: 0x08, 0x66: 0x0C}
_WS_RUN = re.compile(rb"[\x00\t\n\x0c\r ]+")
_WS_OR_PCT = bytearray(256)
for _b in b"\x00\t\n\x0c\r %":
    _WS_OR_PCT[_b] = 1
_COMMENT_RUN = re.compile(rb"%[^\r\n]*")
_NUM_RUN = re.compile(rb"[+\-.0-9eE]+")
_NAME_RUN = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
_INLINE_EI = re.compile(rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ]|$)")
_HEX_JUNK = re.compile(rb"[^0-9A-Fa-f]")
# ASCII85 runs: z's, or whole 5-char groups (a partial group only at the end)
_A85_RUN = re.compile(rb"z{1,16384}|[^z]{1,81920}")

# -- token grammar shared by the content tokenizer and the object lexer --------
# Possessive quantifiers keep each piece from backtracking into a shape
# _Lexer would not produce (a comment re-read as whitespace and digits).
_WSC = rb"\x00\t\n\x0c\r "  # PDF whitespace, inside a [...] class
_DLC = rb"()<>\[\]{}/%"  # PDF delimiters, inside a [...] class
_SKIP = rb"(?:[" + _WSC + rb"]++|%[^\r\n]*+)*+"  # what _Lexer._skip_ws skips
_RUN_END = rb"(?![+\-.0-9eE])"  # a _NUM_RUN run ends here
# the run int() accepts; 640 digits is the lowest int_max_str_digits limit,
# so a longer run takes the slow path, which falls back to float()
_INT = rb"[+\-]?[0-9]{1,640}+" + _RUN_END
# the runs float() accepts that int() does not
_REAL = (
    rb"[+\-]?(?:[0-9]++\.[0-9]*+|\.[0-9]++|[0-9]++(?=[eE]))"
    rb"(?:[eE][+\-]?[0-9]++)?" + _RUN_END
)
_LIT_BODY = rb"(?:[^()\\]++|\\[\s\S])*+"  # no nested parens; escapes allowed
_HEX_BODY = rb"[^>]*+"
# "G R" after an integer: _number_or_ref's lookahead, as one match
_REF_TAIL = (
    _SKIP + rb"[0-9]++" + _SKIP + rb"R(?=[" + _WSC + _DLC + rb"]|\Z)"
)
_REF_AFTER = re.compile(_REF_TAIL)
# a flat array of numbers and strings: TJ operands, /Widths, /MediaBox,
# matrices, /ID. Whitespace only between items, so a comment, name, ref or
# nested array leaves it to _Lexer's item-at-a-time loop.
_ARR_BODY = (
    rb"(?:[" + _WSC + rb"]++|" + _INT + rb"|" + _REAL
    + rb"|\(" + _LIT_BODY + rb"\)|<(?!<)" + _HEX_BODY + rb">)*+"
)
_ARRAY = re.compile(rb"\[(" + _ARR_BODY + rb")\]")
# one element of an array body _ARR_BODY accepted
_ARR_ITEM = re.compile(
    rb"(?P<int>[+\-]?[0-9]++(?![.eE]))|(?P<real>[+\-.0-9eE]++)"
    rb"|\((?P<lit>" + _LIT_BODY + rb")\)|<(?P<hex>" + _HEX_BODY + rb")>"
)

# Content-stream tokenizer: one match at p consumes a whitespace/comment
# run and one token, named by the group that matched. Shapes the fast
# groups do not fully accept (nested parens, names with #, << dicts, arrays
# holding refs/names/comments/arrays, an integer followed by "G R",
# unterminated tokens, malformed numbers) reach `slow`, which _Lexer.parse
# lexes at that position; `skip` is a stray delimiter byte.
_CTOK = re.compile(
    _SKIP + rb"(?:"
    rb"(?P<int>" + _INT + rb"(?!" + _REF_TAIL + rb"))"
    rb"|(?P<real>" + _REAL + rb")"
    rb"|(?P<op>[^" + _WSC + _DLC + rb"+\-.0-9][^" + _WSC + _DLC + rb"]*+)"
    rb"|/(?P<name>[^" + _WSC + _DLC + rb"#]*+)(?!#)"
    rb"|\((?P<lit>" + _LIT_BODY + rb")\)"
    rb"|<(?!<)(?P<hex>" + _HEX_BODY + rb")>"
    rb"|\[(?P<arr>" + _ARR_BODY + rb")\]"
    rb"|(?P<slow>[/<(\[+\-.0-9])"
    rb"|(?P<skip>[\s\S])"
    rb")"
)

# literal-string escapes (§7.3.4.2) → bytes: octal of 1-3 digits (& 0xFF),
# \n \r \t \b \f, line continuation (\r, \n or \r\n), any other byte itself
_LIT_ESC = re.compile(rb"\\([0-7]{1,3}|\r\n|[\s\S])")
_LIT_ESC_TABLE = {bytes([c]): bytes([c]) for c in range(256)}
_LIT_ESC_TABLE.update({b"\r": b"", b"\n": b"", b"\r\n": b""})
_LIT_ESC_TABLE.update({bytes([k]): bytes([v]) for k, v in _LIT_ESCAPES.items()})
for _k in range(512):
    for _w in range(len(f"{_k:o}"), 4):
        _LIT_ESC_TABLE[f"{_k:0{_w}o}".encode()] = bytes([_k & 0xFF])


def _unescape(body: bytes) -> bytes:
    """Bytes of a literal string body with no unescaped parens."""
    if b"\\" not in body:
        return body
    # split() interleaves plain runs with the escapes' captured bodies
    parts = _LIT_ESC.split(body)
    parts[1::2] = map(_LIT_ESC_TABLE.__getitem__, parts[1::2])
    return b"".join(parts)


def _unhex(body: bytes) -> bytes:
    """Bytes of a hex string body: non-hex bytes dropped, odd tail padded."""
    hx = _HEX_JUNK.sub(b"", body)
    if len(hx) % 2:
        hx += b"0"
    return bytes.fromhex(hx.decode("ascii"))


def _flat_array(d: bytes, start: int, end: int) -> list:
    """Elements of an array body ``d[start:end]`` that ``_ARR_BODY``
    accepted. ``()`` and ``<>`` match no group text, and both are
    ``b""``."""
    return [
        int(i) if i else float(r) if r else _unescape(s) if s else _unhex(h)
        for i, r, s, h in _ARR_ITEM.findall(d, start, end)
    ]

# TJ kern offsets (glyph-space thousandths) at or past this magnitude read
# back as one space: a typical space advance is ~250/1000 em, so 180 sits
# safely between justification micro-kerns (|v| < ~100) and word gaps.
KERN_SPACE_TJ = 180.0

# Form-XObject nesting bound: real documents rarely nest past 2-3 levels;
# the cap (with the object-number cycle guard) makes hostile self-
# referential form graphs terminate instead of recursing.
_FORM_MAX_DEPTH = 8

# Depth bound of a name tree or the AcroForm field tree below its root: it
# keeps a field's dotted name (one segment per level) short.
_TREE_MAX_DEPTH = 32
# Entries a page list, an attachment list or a field list may reach.
_TREE_MAX_ENTRIES = 10000

# Work bounds, per stream and per page, so a document's length never
# counts against them: bytes one stream's filter chain may produce (a
# 24 KiB Flate stream can inflate to gigabytes), and content-stream tokens
# one page may run, its forms' included (a form re-runs its stream at each
# Do). Tokens count operators and operands both, as a stream of bare
# operands has no operators. Over the benchmark corpora the largest stream
# decodes to 11.7 KiB and the largest page runs 1,076 tokens; the caps
# leave room for shapes those corpora lack, such as embedded CJK font
# programs (5-20 MiB) and dense vector pages. A document past either cap
# fails closed with a "budget" error, the discipline of
# dispatch._GUNZIP_CAP.
_STREAM_BYTES_CAP = 32 << 20
_PAGE_TOKENS_CAP = 1 << 20


class _BudgetExceeded(Exception):
    """A document overran one of its work bounds (see :class:`_Budget`)."""


class _Budget:
    """A document's work bounds: the content tokens its current page may
    still run, and ``error``, the first overrun. That is kept so one raised
    under a swallowing ``except`` (a font program, a form) still fails the
    document closed."""

    __slots__ = ("tokens_left", "error")

    def __init__(self):
        self.tokens_left = _PAGE_TOKENS_CAP
        self.error = None

    def start_page(self) -> None:
        self.tokens_left = _PAGE_TOKENS_CAP

    def overrun(self, what: str) -> _BudgetExceeded:
        if self.error is None:
            self.error = f"budget: {what}"
        return _BudgetExceeded(self.error)


def _pdf_text(b: bytes) -> str:
    """PDF text-string decode: UTF-16 by BOM (the spec's Unicode form for
    text strings), else UTF-8 if valid, else Latin-1 (a total stand-in for
    PDFDocEncoding, which matches it on all printable code points)."""
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be", errors="replace")
    if b[:2] == b"\xff\xfe":
        return b[2:].decode("utf-16-le", errors="replace")
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.decode("latin-1")

Y_TOL = 3.0            # same-line y tolerance (pts)
COL_GAP = 60.0         # x gap that starts a new column (1-D sessionization)
PARA_GAP_FACTOR = 1.8  # vertical gap ⇒ paragraph break
TITLE_FACTOR = 1.2     # reference's TITLE rule
GRID_MIN_INTERSECTIONS = 4

# positional-band chrome (reference ElementType HEADER/FOOTER,
# advanced_layout_extractor.py:52-63); bands sit outside the fixture body
# region (title tops out at y/ph ≈ 0.909, body bottoms at ≈ 0.091)
HEADER_BAND = 0.93     # line baseline y/ph above ⇒ header candidate
FOOTER_BAND = 0.06     # line baseline y/ph below ⇒ footer candidate
BAND_MAX_WORDS = 12    # chrome lines are short

# caption proximity rule (table_figure_classifier.py:155-192): pattern +
# horizontal overlap with a table/figure region + vertical nearness
CAPTION_RE = re.compile(r"^(Figure|Fig\.|Table)\s+\d", re.IGNORECASE)
CAPTION_VGAP_FRAC = 0.05  # the reference's 5% page-height margin

# list markers: bullet glyphs always; numbered items only when adjacent
# emission-order neighbors in the same column are also numbered (a lone
# "12. " at a wrap boundary in prose must NOT split the paragraph)
LIST_BULLET_RE = re.compile(r"^[•‣▪●·]\s+")
LIST_NUM_RE = re.compile(r"^\d{1,2}[.)]\s+")

FIGURE_TEXT = "[figure]"  # deterministic marker for image-only elements

# equation: short line with '=' plus at least one more math operator
# (reference counted formulas by regex over analysis text,
# gpt4_comprehensive_visual_processor.py:219-332; this is the deterministic
# glyph-level analog). reference entries: bracketed-number bibliography lines.
EQUATION_OPS = "+-*/^√∑∏∫≈≤≥±·×÷"
REFERENCE_RE = re.compile(r"^\[\d{1,3}\]\s")


def _is_equation(text: str) -> bool:
    if "=" not in text or text.count(" ") + 1 > BAND_MAX_WORDS:
        return False
    return any(c in text for c in EQUATION_OPS)


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):
        return f"Ref({self.num})"


class _Name(str):
    pass


class _Lexer:
    """Recursive-descent lexer for PDF COS objects: the object layer (xref
    trailers, object and object-stream bodies, dictionaries) and the one
    slow path of the content tokenizer, which hands it every token shape
    ``_CTOK`` does not take whole."""

    def __init__(self, data: bytes, pos: int = 0):
        self.d = data
        self.p = pos

    def _skip_ws(self):
        # run-match whitespace and comments at C speed instead of per-byte
        d, p, n = self.d, self.p, len(self.d)
        # fast path: already at a token byte (about half the calls — parse()
        # re-skips right after the caller's skip)
        if p < n and not _WS_OR_PCT[d[p]]:
            return
        while True:
            m = _WS_RUN.match(d, p)
            if m is not None:
                p = m.end()
            if p >= n or d[p] != 0x25:  # %
                break
            p = _COMMENT_RUN.match(d, p).end()
        self.p = p

    def parse(self):
        self._skip_ws()
        d, p = self.d, self.p
        if p >= len(d):
            raise ValueError("eof")
        c = d[p : p + 1]
        if c == b"<":
            if d[p + 1 : p + 2] == b"<":
                return self._dict()
            return self._hex_string()
        if c == b"(":
            return self._lit_string()
        if c == b"/":
            return self._name()
        if c == b"[":
            return self._array()
        if c in b"+-.0123456789":
            return self._number_or_ref()
        if d.startswith(b"true", p):
            self.p = p + 4
            return True
        if d.startswith(b"false", p):
            self.p = p + 5
            return False
        if d.startswith(b"null", p):
            self.p = p + 4
            return None
        raise ValueError(f"unexpected byte {c!r} at {p}")

    def _dict(self):
        self.p += 2
        out = {}
        while True:
            self._skip_ws()
            if self.d.startswith(b">>", self.p):
                self.p += 2
                return out
            key = self.parse()
            val = self.parse()
            if isinstance(key, _Name):
                out[str(key)] = val

    def _array(self):
        m = _ARRAY.match(self.d, self.p)
        if m is not None:  # flat: numbers and strings only
            self.p = m.end()
            return _flat_array(self.d, m.start(1), m.end(1))
        self.p += 1
        out = []
        while True:
            self._skip_ws()
            if self.d[self.p : self.p + 1] == b"]":
                self.p += 1
                return out
            out.append(self.parse())

    def _name(self):
        d = self.d
        m = _NAME_RUN.match(d, self.p + 1)
        raw = m.group(0)
        p = m.end()
        # #xx hex escapes in names
        if b"#" in raw:
            raw = re.sub(rb"#([0-9A-Fa-f]{2})", lambda m: bytes([int(m.group(1), 16)]), raw)
        self.p = p
        return _Name(raw.decode("latin-1"))

    def _number_or_ref(self):
        d = self.d
        m = _NUM_RUN.match(d, self.p)
        tok = m.group(0)
        self.p = m.end()
        try:
            num = int(tok)
        except ValueError:
            return float(tok)
        m = _REF_AFTER.match(d, self.p)  # "G R": an indirect reference
        if m is not None:
            self.p = m.end()
            return _Ref(num)
        return num

    def _lit_string(self):
        # bulk-copy runs of plain bytes between the three special chars
        # (\ ( )) instead of walking byte-at-a-time — literal strings are
        # mostly plain text, so runs are long
        d = self.d
        n = len(d)
        p = self.p + 1
        out = bytearray()
        depth = 1
        search = _LIT_SPECIAL.search
        while p < n:
            m = search(d, p)
            if m is None:
                out += d[p:]
                p = n
                break
            q = m.start()
            if q > p:
                out += d[p:q]
            p = q
            c = d[p]
            if c == 0x5C:  # backslash
                p += 1
                if p >= n:
                    break
                e = d[p]
                rep = _LIT_ESCAPES.get(e)
                if rep is not None:
                    out.append(rep)
                    p += 1
                elif 0x30 <= e <= 0x37:  # octal escape, up to 3 digits
                    v = e - 0x30
                    p += 1
                    for _ in range(2):
                        if p < n and 0x30 <= d[p] <= 0x37:
                            v = (v << 3) | (d[p] - 0x30)
                            p += 1
                        else:
                            break
                    out.append(v & 0xFF)
                elif e in (0x0A, 0x0D):  # line continuation
                    p += 1
                    if e == 0x0D and p < n and d[p] == 0x0A:
                        p += 1
                else:
                    out.append(e)
                    p += 1
            elif c == 0x28:  # (
                depth += 1
                out.append(c)
                p += 1
            else:  # 0x29 )
                depth -= 1
                if depth == 0:
                    p += 1
                    break
                out.append(c)
                p += 1
        self.p = p
        return bytes(out)

    def _hex_string(self):
        d = self.d
        p = self.p + 1
        end = d.find(b">", p)
        if end < 0:
            end = len(d)
        self.p = end + 1
        return _unhex(d[p:end])


def _png_unpredict(data: bytes, colors: int, bpc: int, columns: int) -> bytes:
    """Reverse PNG row predictors (Predictor >= 10). Real-world xref
    streams are almost always Flate + Predictor 12 (Up)."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    stride = rowlen + 1
    out = bytearray()
    prev = bytearray(rowlen)
    for r0 in range(0, len(data) - stride + 1, stride):
        ft = data[r0]
        row = bytearray(data[r0 + 1 : r0 + 1 + rowlen])
        if ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _lzw_decode(data: bytes, early: int, max_length: int) -> bytes:
    """PDF LZWDecode: 9→12-bit variable codes, EarlyChange per spec.
    Decoding stops once ``max_length`` bytes are out, as
    ``zlib.decompressobj().decompress`` does."""
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    buf = acc = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        buf += 8
        while buf >= width:
            code = (acc >> (buf - width)) & ((1 << width) - 1)
            buf -= width
            if code == 256:  # clear table
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out += entry
            if len(out) >= max_length:
                return bytes(out[:max_length])
            prev = entry
            # width bumps when the NEXT code to assign (len(table)) plus the
            # EarlyChange offset no longer fits: 511/1023/2047 for the PDF
            # default EarlyChange=1 (one code EARLY, matching real encoders;
            # the former `- 1` form bumped one code late and desynced any
            # stream whose table grew past 510 entries)
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _runlength_decode(data: bytes, max_length: int) -> bytes:
    """PDF RunLengthDecode, stopping once ``max_length`` bytes are out: a
    two-byte run gives 128 bytes, so a bounded input alone does not bound
    the output."""
    out = bytearray()
    p = 0
    n = len(data)
    while p < n:
        l = data[p]
        p += 1
        if l == 128:
            break
        if l < 128:
            out += data[p : p + l + 1]
            p += l + 1
        else:
            if p < n:
                out += bytes([data[p]]) * (257 - l)
                p += 1
        if len(out) >= max_length:
            return bytes(out[:max_length])
    return bytes(out)


def _asciihex_decode(data: bytes) -> bytes:
    end = data.find(b">")
    return _unhex(data[: end if end >= 0 else len(data)])


def _ascii85_decode(data: bytes, max_length: int) -> bytes:
    """PDF ASCII85Decode, stopping once ``max_length`` bytes are out. A run
    of ``z`` (four zero bytes each) is filled in one step, and the other
    groups are decoded a bounded run at a time, so neither costs a Python
    step or a list entry per output group past the bound."""
    import base64

    body = re.sub(rb"\s", b"", data)
    if body.startswith(b"<~"):
        body = body[2:]
    if body.endswith(b"~>"):
        body = body[:-2]
    out = bytearray()
    for m in _A85_RUN.finditer(body):
        run = m[0]
        if run[0] == 0x7A:  # z
            out += bytes(4 * len(run))
        elif len(run) % 5 and m.end() < len(body):
            raise ValueError("z inside Ascii85 5-tuple")
        else:
            out += base64.a85decode(run)
        if len(out) >= max_length:
            return bytes(out[:max_length])
    return bytes(out)


def _decode_stream(sdict: dict, raw: bytes, resolve, budget: _Budget) -> bytes:
    """Run a stream's filter chain. No decoding filter produces more than
    one byte past ``_STREAM_BYTES_CAP``, and an output past the cap raises
    :class:`_BudgetExceeded`, recorded in ``budget``; image codecs pass
    through unbounded, as they decode nothing."""
    # /Filter and /DecodeParms values may be indirect references
    # (§7.3.8.2, same as /Length) — resolve them when the caller can
    def rs(v):
        if resolve is None or not isinstance(v, _Ref):
            return v
        try:
            return resolve(v)
        except Exception:
            return None

    filt = rs(sdict.get("Filter"))
    filters = [filt] if not isinstance(filt, list) else filt
    parms = rs(sdict.get("DecodeParms", sdict.get("DP")))
    parms_list = [parms] if not isinstance(parms, list) else parms
    data = raw
    cap = _STREAM_BYTES_CAP + 1  # one byte past the cap: an overrun
    for i, f in enumerate(filters):
        f = rs(f)
        if f is None:
            continue
        name = str(f)
        dp = rs(parms_list[i]) if i < len(parms_list) else {}
        if not isinstance(dp, dict):
            dp = {}
        try:
            if name == "FlateDecode":
                # one inflate path for whole and truncated streams alike
                data = zlib.decompressobj().decompress(data, cap)
            elif name == "LZWDecode":
                data = _lzw_decode(data, int(dp.get("EarlyChange", 1) or 1), cap)
            elif name == "RunLengthDecode":
                data = _runlength_decode(data, cap)
            elif name == "ASCIIHexDecode":  # half its input at most
                data = _asciihex_decode(data)
            elif name == "ASCII85Decode":
                data = _ascii85_decode(data, cap)
            else:
                # other filters (DCT/JBIG2/CCITT image codecs): pass through
                # — image payloads are opaque to the text path (degrade,
                # don't crash)
                continue
            if len(data) > _STREAM_BYTES_CAP:
                raise budget.overrun(
                    f"decoded stream over {_STREAM_BYTES_CAP >> 20} MiB"
                )
            pred = int(dp.get("Predictor", 1) or 1)
            if pred >= 10 and name in ("FlateDecode", "LZWDecode"):
                data = _png_unpredict(
                    data,
                    int(dp.get("Colors", 1) or 1),
                    int(dp.get("BitsPerComponent", 8) or 8),
                    int(dp.get("Columns", 1) or 1),
                )
        except _BudgetExceeded:
            raise
        except Exception:
            # corrupt filter payload: keep the bytes we have (total behavior)
            pass
    return data


def _is_page(node: dict) -> bool:
    return str(node.get("Type", "")) == "Page"


class _Doc:
    """Parsed object store with xref-driven and scan-fallback lookup."""

    def __init__(self, data: bytes):
        self.data = data
        self.offsets: dict[int, int] = {}
        self.in_objstm: dict[int, tuple[int, int]] = {}  # num -> (stream obj, idx)
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self._form_content: dict[int, bytes] = {}  # form obj num -> decoded
        self.cache: dict[int, object] = {}
        self.trailer: dict = {}
        self.errors: list[str] = []
        self.decryptor = None  # set by try_decrypt()
        self.budget = _Budget()
        try:
            self._load_xref()
        except Exception as exc:
            self.errors.append(f"xref: {type(exc).__name__}: {exc}")
        if not self.offsets:
            self._scan_objects()

    def decode(self, sdict: dict, raw: bytes) -> bytes:
        """A stream's decoded bytes, an overrun recorded in the budget."""
        return _decode_stream(sdict, raw, self.resolve, self.budget)

    def try_decrypt(self) -> bool:
        """Open the document's standard encryption with the EMPTY user
        password (pdf_crypt, VERDICT r2 item 6). True if the document is
        unencrypted or the empty password verified (decryptor armed); False
        if a real password (or an unsupported handler) is required."""
        enc = self.trailer.get("Encrypt")
        if enc is None:
            return True
        from .pdf_crypt import open_decryptor

        self._encrypt_num = enc.num if isinstance(enc, _Ref) else -1
        try:
            enc = self.resolve(enc)
            if not isinstance(enc, dict):
                return False
            ids = self.resolve(self.trailer.get("ID"))
            id0 = ids[0] if isinstance(ids, list) and ids and isinstance(ids[0], bytes) else b""
            self.decryptor = open_decryptor(enc, id0, self.resolve)
            # drop anything cached before the key existed (still ciphertext)
            self.cache = {self._encrypt_num: enc} if self._encrypt_num >= 0 else {}
            self._objstm_cache.clear()
            return True
        except Exception as exc:
            self.errors.append(f"decrypt: {type(exc).__name__}: {exc}")
            return False

    def _decrypt_obj(self, obj, num: int):
        """Recursively decrypt strings (and stream bytes) of a direct
        object. Objects inside object streams are NOT individually
        encrypted — the container stream already was — so this is only
        called from the direct-object path."""
        dec = self.decryptor
        if isinstance(obj, bytes):
            return dec.decrypt_string(num, 0, obj)  # /StrF cipher, not /StmF
        if isinstance(obj, list):
            return [self._decrypt_obj(v, num) for v in obj]
        if isinstance(obj, dict):
            return {k: self._decrypt_obj(v, num) for k, v in obj.items()}
        if isinstance(obj, tuple) and len(obj) == 3 and obj[0] == "stream":
            sdict = {k: self._decrypt_obj(v, num) for k, v in obj[1].items()}
            return ("stream", sdict, dec.decrypt(num, 0, obj[2]))
        return obj

    # -- xref ---------------------------------------------------------------

    def _load_xref(self):
        d = self.data
        tail = d[-256:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("no startxref")
        off = int(m.group(1))
        seen = set()
        while off and off not in seen and 0 <= off < len(d):
            seen.add(off)
            if d.startswith(b"xref", off):
                off = self._load_xref_table(off)
            else:
                off = self._load_xref_stream(off)

    def _load_xref_table(self, off: int) -> int:
        d = self.data
        p = off + 4
        while True:
            m = re.match(rb"\s*(\d+)\s+(\d+)\s*", d[p : p + 64])
            if not m:
                break
            start, count = int(m.group(1)), int(m.group(2))
            p += m.end()
            for i in range(count):
                # spec rows are exactly 20 bytes, but real producers emit
                # 19-byte rows (single-EOL); advance by what actually
                # matched so one short row doesn't desync the whole table
                rm = re.match(rb"\s*(\d{10})\s+(\d{5})\s+([nf])", d[p : p + 24])
                if not rm:
                    p += 20
                    continue
                if rm.group(3) == b"n":
                    num = start + i
                    self.offsets.setdefault(num, int(rm.group(1)))
                p += rm.end()
        tm = re.search(rb"trailer", d[p : p + 64])
        if tm:
            lex = _Lexer(d, p + tm.end())
            tr = lex.parse()
            if isinstance(tr, dict):
                for k, v in tr.items():
                    self.trailer.setdefault(k, v)
                prev = tr.get("Prev")
                if isinstance(prev, (int, float)):
                    return int(prev)
        return 0

    def _load_xref_stream(self, off: int) -> int:
        d = self.data
        m = re.match(rb"\s*(\d+)\s+(\d+)\s+obj", d[off : off + 32])
        if not m:
            raise ValueError("bad xref stream obj header")
        lex = _Lexer(d, off + m.end())
        sdict = lex.parse()
        if not isinstance(sdict, dict):
            raise ValueError("xref stream: no dict")
        raw = self._read_stream_bytes(lex, sdict)
        data = self.decode(sdict, raw)
        w = [int(x) for x in sdict.get("W", [1, 1, 1])]
        size = int(sdict.get("Size", 0))
        index = sdict.get("Index", [0, size])
        rowlen = sum(w)
        pos = 0
        it = iter(index)
        for first, count in zip(it, it):
            for i in range(int(count)):
                row = data[pos : pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    break
                fields = []
                q = 0
                for width in w:
                    fields.append(int.from_bytes(row[q : q + width], "big") if width else 1)
                    q += width
                typ, f2 = fields[0], fields[1]
                num = int(first) + i
                if typ == 1:
                    self.offsets.setdefault(num, f2)
                elif typ == 2:
                    # object lives inside object stream f2 at index fields[2]
                    self.in_objstm.setdefault(
                        num, (f2, fields[2] if len(fields) > 2 else 0)
                    )
        for k, v in sdict.items():
            if k in ("Root", "Size", "Info", "Prev", "Encrypt", "ID"):
                self.trailer.setdefault(k, v)
        prev = sdict.get("Prev")
        return int(prev) if isinstance(prev, (int, float)) else 0

    def _read_stream_bytes(self, lex: _Lexer, sdict: dict) -> bytes:
        d = self.data
        m = re.compile(rb"stream\r?\n").search(d, lex.p)
        if not m:
            return b""
        start = m.end()
        length = sdict.get("Length")
        if isinstance(length, _Ref):
            length = self.get(length.num)
        if isinstance(length, (int, float)) and start + int(length) <= len(d):
            end = start + int(length)
            # trust /Length only when endstream actually sits near the
            # claimed end — a lying in-bounds value (hand-edited or
            # incrementally-updated files) falls through to the scan below
            if d.find(b"endstream", end, end + 32) != -1:
                return d[start:end]
        end = d.find(b"endstream", start)
        if end < 0:
            end = len(d)
        return d[start:end].rstrip(b"\r\n")

    def _scan_objects(self):
        """Fallback: regex scan for `N G obj` (robust to broken xref)."""
        for m in re.finditer(rb"(?:^|[\r\n\s])(\d+)\s+\d+\s+obj\b", self.data):
            self.offsets[int(m.group(1))] = m.start(1)
        if not self.trailer:
            tm = re.search(rb"/Root\s+(\d+)\s+\d+\s+R", self.data)
            if tm:
                self.trailer["Root"] = _Ref(int(tm.group(1)))

    # -- object access --------------------------------------------------------

    def get(self, num: int):
        if num in self.cache:
            return self.cache[num]
        off = self.offsets.get(num)
        obj = None
        if off is not None and off >= 0:
            try:
                m = re.match(rb"(\d+)\s+(\d+)\s+obj", self.data[off : off + 32])
                lex = _Lexer(self.data, off + (m.end() if m else 0))
                obj = lex.parse()
                if isinstance(obj, dict):
                    lex._skip_ws()
                    if self.data.startswith(b"stream", lex.p):
                        raw = self._read_stream_bytes(lex, obj)
                        obj = ("stream", obj, raw)
            except Exception as exc:
                self.errors.append(f"obj {num}: {type(exc).__name__}: {exc}")
        if obj is not None and self.decryptor is not None and num != getattr(
            self, "_encrypt_num", -1
        ):
            try:
                obj = self._decrypt_obj(obj, num)
            except Exception as exc:
                self.errors.append(f"decrypt obj {num}: {type(exc).__name__}: {exc}")
        if obj is None and num in self.in_objstm:
            obj = self._get_from_objstm(num)
        self.cache[num] = obj
        return obj

    def _get_from_objstm(self, num: int):
        """Load a compressed object from its /Type /ObjStm container (PDF
        1.5+; most modern producers pack the page tree this way). The whole
        stream is decoded and parsed once, then served from a table."""
        snum, _idx = self.in_objstm[num]
        tbl = self._objstm_cache.get(snum)
        if tbl is None:
            tbl = {}
            self._objstm_cache[snum] = tbl  # set first: breaks malformed cycles
            # the container itself must be a regular (type-1) object — the
            # spec forbids nesting object streams
            if self.offsets.get(snum, -1) >= 0:
                stream_obj = self.get(snum)
                if isinstance(stream_obj, tuple) and stream_obj[0] == "stream":
                    sdict, raw = stream_obj[1], stream_obj[2]
                    try:
                        data = self.decode(sdict, raw)
                        n = int(self.resolve(sdict.get("N")) or 0)
                        first = int(self.resolve(sdict.get("First")) or 0)
                        lex = _Lexer(data, 0)
                        heads = []
                        for _ in range(n):
                            onum = lex.parse()
                            ooff = lex.parse()
                            heads.append((int(onum), int(ooff)))
                        for onum, ooff in heads:
                            try:
                                tbl[onum] = _Lexer(data, first + ooff).parse()
                            except Exception:
                                tbl[onum] = None
                    except Exception as exc:
                        self.errors.append(
                            f"objstm {snum}: {type(exc).__name__}: {exc}"
                        )
            else:
                self.errors.append(f"objstm {snum}: container not a direct object")
        return tbl.get(num)

    def resolve(self, v):
        return self.get(v.num) if isinstance(v, _Ref) else v

    # -- /Kids trees ----------------------------------------------------------

    def _kids(self, roots: list, leaf=None):
        """Depth-first pre-order walk of a /Kids tree: the page tree, a name
        tree (§7.7.4) or the AcroForm field tree (§12.7.3.1). ``roots`` are
        references or dicts. Yields ``(num, node, parent)`` per dict node:
        its object number (None for a direct dict) and the yield index of
        the node whose /Kids reached it (-1 for a root).

        Each node is visited once, however many /Kids arrays name it, so a
        cycle or a shared subtree costs one visit. A node keeps its kids to
        itself when ``leaf(node)`` holds, or, without ``leaf``, when it sits
        ``_TREE_MAX_DEPTH`` levels below its root."""
        stack = [(ref, 0, -1) for ref in reversed(roots)]
        seen: set = set()
        index = 0
        while stack:
            ref, depth, parent = stack.pop()
            node = self.resolve(ref)
            if not isinstance(node, dict) or id(node) in seen:
                continue
            seen.add(id(node))
            yield (ref.num if isinstance(ref, _Ref) else None), node, parent
            kids = self.resolve(node.get("Kids"))
            if isinstance(kids, list) and not (
                leaf(node) if leaf else depth >= _TREE_MAX_DEPTH
            ):
                stack.extend((kid, depth + 1, index) for kid in reversed(kids))
            index += 1

    def _page_list(self) -> list[tuple]:
        """``(num, page)`` per page in page-tree order, ``num`` None for a
        direct page dict; without a page tree, every /Type /Page object in
        number order."""
        root = self.resolve(self.trailer.get("Root"))
        out: list[tuple] = []
        if isinstance(root, dict):
            for num, node, _ in self._kids([root.get("Pages")], _is_page):
                if len(out) > _TREE_MAX_ENTRIES:
                    break
                if _is_page(node):
                    out.append((num, node))
        if not out:  # fallback: every /Type /Page object in number order
            for num in sorted(set(self.offsets) | set(self.in_objstm)):
                obj = self.get(num)
                if isinstance(obj, dict) and _is_page(obj):
                    out.append((num, obj))
        return out

    def pages(self) -> list[dict]:
        return [page for _, page in self._page_list()]

    def page_num_map(self) -> dict[int, int]:
        """Object number → page index, the index :meth:`pages` gives that
        page (for /Dest resolution)."""
        return {
            num: i for i, (num, _) in enumerate(self._page_list())
            if num is not None
        }

    def _name_tree(self, node):
        """``(key, value)`` per leaf /Names pair of a name tree, in tree
        order, the key resolved."""
        for _, n, _ in self._kids([node]):
            arr = self.resolve(n.get("Names"))
            if isinstance(arr, list):
                for j in range(0, len(arr) - 1, 2):
                    yield self.resolve(arr[j]), arr[j + 1]

    def page_content(self, page: dict) -> bytes:
        # /Contents may be a stream, an ARRAY of streams, or an indirect
        # reference to either (§7.7.3.3) — resolve BEFORE the list test so
        # an indirect array doesn't read as a single non-stream object
        contents = self.resolve(page.get("Contents"))
        chunks: list[bytes] = []
        items = contents if isinstance(contents, list) else [contents]
        for it in items:
            obj = self.resolve(it)
            if isinstance(obj, tuple) and obj[0] == "stream":
                chunks.append(self.decode(obj[1], obj[2]))
        return b"\n".join(chunks)

    def page_paint(self, page: dict) -> tuple:
        """Painting context for a page: ``(image_names, fonts, forms)``.

        ``forms`` maps /Resources/XObject names with /Subtype /Form to
        ``{content, matrix, image_names, fonts, forms}`` — everything
        :func:`_interpret_content` needs to execute the form's content
        stream inline at a ``Do``, recursively (nested forms), with a
        depth cap and object-number cycle guard. A form without its own
        /Resources inherits the invoking context's (``None`` markers)."""
        res = self.page_attr(page, "Resources")
        return self._paint_from_res(res, frozenset(), 0)

    def _paint_from_res(self, res, seen: frozenset, depth: int) -> tuple:
        images: set = set()
        forms: dict = {}
        fonts = self._fonts_from_res(res)
        try:
            res = self.resolve(res) or {}
            xobjs = self.resolve(res.get("XObject")) or {}
            for name, ref in xobjs.items():
                key = ref.num if isinstance(ref, _Ref) else id(ref)
                obj = self.resolve(ref)
                if not (isinstance(obj, tuple) and obj[0] == "stream"):
                    continue
                sdict = obj[1]
                sub = str(sdict.get("Subtype", ""))
                if sub == "Image":
                    images.add(str(name))
                elif sub == "Form" and depth < _FORM_MAX_DEPTH and key not in seen:
                    content = self._form_content.get(key)
                    if content is None:
                        try:
                            content = self.decode(sdict, obj[2])
                        except Exception:
                            continue
                        if isinstance(ref, _Ref):  # pages share their forms
                            self._form_content[key] = content
                    mat = self.resolve(sdict.get("Matrix"))
                    try:
                        matrix = (
                            tuple(float(v) for v in mat)
                            if isinstance(mat, list) and len(mat) == 6
                            else None
                        )
                    except Exception:
                        matrix = None
                    fres = sdict.get("Resources")
                    if fres is not None:
                        fi, ff, fforms = self._paint_from_res(
                            fres, seen | {key}, depth + 1
                        )
                    else:
                        # inherit the invoking context's resources at run time
                        fi = ff = fforms = None
                    forms[str(name)] = {
                        "content": content,
                        "matrix": matrix,
                        "image_names": fi,
                        "fonts": ff,
                        "forms": fforms,
                    }
        except Exception:
            pass
        return frozenset(images), fonts, forms

    def _fonts_from_res(self, res) -> dict:
        """Map of /Font names → :class:`pdf_fonts.FontDecoder` for fonts
        that need custom byte→text decoding (ToUnicode CMaps,
        Type0/Identity-H, /Encoding /Differences). Fonts that decode fine
        through the legacy heuristic path are omitted. Decoders are cached
        per font object so a 500-page doc parses each CMap once."""
        from .pdf_fonts import build_font_decoder

        out: dict = {}
        try:
            res = self.resolve(res) or {}
            fonts = self.resolve(res.get("Font")) or {}
            if not isinstance(fonts, dict):
                return out
            cache = getattr(self, "_font_cache", None)
            if cache is None:
                cache = self._font_cache = {}
            for name, ref in fonts.items():
                key = ref.num if isinstance(ref, _Ref) else id(ref)
                if key not in cache:
                    obj = self.resolve(ref)
                    if isinstance(obj, tuple) and obj[0] == "stream":
                        obj = obj[1]
                    cache[key] = (
                        build_font_decoder(obj, self.resolve, self.decode)
                        if isinstance(obj, dict)
                        else None
                    )
                if cache[key] is not None:
                    out[str(name)] = cache[key]
        except Exception:
            pass
        return out

    def info(self) -> dict:
        """Decoded document-information strings from the trailer /Info
        dictionary (§14.3.3) — the metadata PyMuPDF exposes as
        ``doc.metadata`` in the reference's stack."""
        out: dict = {}
        try:
            inf = self.resolve(self.trailer.get("Info"))
            if isinstance(inf, tuple) and inf[0] == "stream":
                inf = inf[1]
            if isinstance(inf, dict):
                for k in ("Title", "Author", "Subject", "Producer",
                          "CreationDate"):
                    v = self.resolve(inf.get(k))
                    if isinstance(v, bytes):
                        out[k.lower()] = _pdf_text(v)
        except Exception:
            pass
        return out

    def named_dest(self, name):
        """Resolve a named destination (§12.3.2.3): the PDF 1.1 catalog
        /Dests dictionary first, else the first non-null entry for the
        name in the catalog /Names → /Dests name tree. String keys come back decrypted
        by the normal object parse."""
        key = (
            name
            if isinstance(name, bytes)
            else str(name).encode("latin-1", "replace")
        )
        try:
            root = self.resolve(self.trailer.get("Root"))
            if not isinstance(root, dict):
                return None
            dests = self.resolve(root.get("Dests"))
            if isinstance(dests, dict):
                v = self.resolve(dests.get(key.decode("latin-1")))
                if v is not None:
                    return v
            names = self.resolve(root.get("Names"))
            if isinstance(names, dict):
                for k, v in self._name_tree(names.get("Dests")):
                    if k == key and (v := self.resolve(v)) is not None:
                        return v
        except Exception:
            pass
        return None

    def embedded_files(self) -> list[dict]:
        """PDF attachments (§7.11.4): walk the catalog /Names →
        /EmbeddedFiles name tree to /Filespec dicts, decode each /EF /F
        embedded-file stream. Returns ``[{name, filename, size, data}]``
        in tree order; undecodable entries are skipped."""
        out: list[dict] = []
        try:
            root = self.resolve(self.trailer.get("Root"))
            if not isinstance(root, dict):
                return []
            names = self.resolve(root.get("Names"))
            if not isinstance(names, dict):
                return []
            for key, spec in self._name_tree(names.get("EmbeddedFiles")):
                if len(out) > _TREE_MAX_ENTRIES:
                    break
                spec = self.resolve(spec)
                if isinstance(spec, tuple) and spec[0] == "stream":
                    spec = spec[1]
                if not isinstance(spec, dict):
                    continue
                fname = self.resolve(spec.get("UF")) or self.resolve(
                    spec.get("F")
                )
                ef = self.resolve(spec.get("EF"))
                data = None
                if isinstance(ef, dict):
                    fs = self.resolve(ef.get("UF")) or self.resolve(ef.get("F"))
                    if isinstance(fs, tuple) and fs[0] == "stream":
                        try:
                            data = self.decode(fs[1], fs[2])
                        except Exception:
                            data = None
                if data is None:
                    continue
                out.append({
                    "name": _pdf_text(key) if isinstance(key, bytes) else "",
                    "filename": _pdf_text(fname)
                    if isinstance(fname, bytes) else "",
                    "size": len(data),
                    "data": data,
                })
        except Exception:
            pass
        return out

    def form_fields(self) -> list[dict]:
        """Interactive-form (AcroForm, §12.7) field values: walk the
        catalog /AcroForm /Fields tree, joining hierarchical names with
        '.', decoding /V strings (or name tokens for buttons/choices).
        Returns ``[{name, field_type, value}]`` in tree order."""
        out: list[dict] = []
        try:
            root = self.resolve(self.trailer.get("Root"))
            if not isinstance(root, dict):
                return []
            af = self.resolve(root.get("AcroForm"))
            if isinstance(af, tuple) and af[0] == "stream":
                af = af[1]
            if not isinstance(af, dict):
                return []
            fields = self.resolve(af.get("Fields"))
            full_names: list[str] = []  # per visited node, in visit order
            for _, node, parent in self._kids(
                fields if isinstance(fields, list) else []
            ):
                if len(out) > _TREE_MAX_ENTRIES:
                    break
                t = self.resolve(node.get("T"))
                name = _pdf_text(t) if isinstance(t, bytes) else ""
                prefix = full_names[parent] if parent >= 0 else ""
                full = f"{prefix}.{name}" if prefix and name else (name or prefix)
                full_names.append(full)
                if ("V" in node or "FT" in node) and name:
                    v = self.resolve(node.get("V"))
                    if isinstance(v, bytes):
                        value = _pdf_text(v)
                    elif v is not None:
                        value = str(v)
                    else:
                        value = None
                    ft = self.resolve(node.get("FT"))
                    out.append({
                        "name": full,
                        "field_type": str(ft) if ft is not None else None,
                        "value": value,
                    })
        except Exception:
            pass
        return out

    def outline(self) -> list[dict]:
        """Flattened /Outlines (bookmark) tree: ``[{level, title, page}]``
        in depth-first document order — what PyMuPDF exposes as
        ``doc.get_toc()`` in the reference's stack (§12.3.3). ``page`` is
        the 0-based index of the /Dest (or /A /GoTo) target page, -1 when
        unresolvable. Cycle-guarded and bounded; titles go through the
        standard string decode (so encrypted documents come back decrypted,
        BOM/UTF-8 strings decoded)."""
        items: list[dict] = []
        try:
            root = self.resolve(self.trailer.get("Root"))
            if not isinstance(root, dict):
                return []
            ol = self.resolve(root.get("Outlines"))
            if isinstance(ol, tuple) and ol[0] == "stream":
                ol = ol[1]
            if not isinstance(ol, dict):
                return []
            pgmap = self.page_num_map()
            seen: set = set()

            def dest_page(node: dict) -> int:
                dest = self.resolve(node.get("Dest"))
                if dest is None:
                    act = self.resolve(node.get("A"))
                    if isinstance(act, dict) and str(act.get("S", "")) == "GoTo":
                        dest = self.resolve(act.get("D"))
                if isinstance(dest, (bytes, _Name)):
                    # named destination (§12.3.2.3): /Dests dict or the
                    # /Names name tree
                    dest = self.named_dest(dest)
                if isinstance(dest, dict):  # named-dest dict form
                    dest = self.resolve(dest.get("D"))
                if isinstance(dest, list) and dest and isinstance(dest[0], _Ref):
                    return pgmap.get(dest[0].num, -1)
                return -1

            def walk(ref, level: int) -> None:
                node = self.resolve(ref)
                while isinstance(node, dict) and len(items) < 10000:
                    if id(node) in seen:
                        return
                    seen.add(id(node))
                    title = self.resolve(node.get("Title"))
                    items.append({
                        "level": level,
                        "title": _pdf_text(title) if isinstance(title, bytes) else "",
                        "page": dest_page(node),
                    })
                    if node.get("First") is not None and level < 64:
                        walk(node.get("First"), level + 1)
                    node = self.resolve(node.get("Next"))

            walk(ol.get("First"), 1)
        except Exception:
            pass
        return items

    def page_attr(self, page: dict, name: str):
        """Resolve an inheritable page attribute (/MediaBox, /Rotate,
        /Resources): the page dict itself, then up the /Parent chain."""
        node, depth = page, 0
        while isinstance(node, dict) and depth < 64:
            if name in node:
                return self.resolve(node[name])
            node = self.resolve(node.get("Parent"))
            depth += 1
        return None

    def page_size(self, page: dict) -> tuple[float, float]:
        box = self.page_attr(page, "MediaBox") or [0, 0, 612, 792]
        try:
            return float(box[2]) - float(box[0]), float(box[3]) - float(box[1])
        except Exception:
            return 612.0, 792.0

    def page_rotate(self, page: dict) -> int:
        """Inheritable /Rotate, normalized to one of 0/90/180/270."""
        try:
            return int(self.page_attr(page, "Rotate") or 0) % 360 // 90 * 90
        except Exception:
            return 0


# -- content-stream interpretation ---------------------------------------------


def _apply(m, x: float, y: float) -> tuple:
    """Map a point through an affine (a, b, c, d, e, f)."""
    return m[0] * x + m[2] * y + m[4], m[1] * x + m[3] * y + m[5]


def _mat_mult(m, ctm):
    """Concatenate PDF matrices: apply ``m`` then ``ctm`` (the `cm` op)."""
    a, b, c, d, e, f = m
    A, B, C, D, E, F_ = ctm
    return (
        a * A + b * C,
        a * B + b * D,
        c * A + d * C,
        c * B + d * D,
        e * A + f * C + E,
        e * B + f * D + F_,
    )


def _normalize_rotation(rotate, pw, ph, runs, hl, vl, rects, images):
    """Map content-space geometry into display space for a /Rotate page so
    downstream layout (line grouping, columns, bands, grids) always works
    on upright coordinates. Returns (pw, ph, runs, hl, vl, rects, images)
    with page dims swapped for the 90/270 cases; 90 = clockwise display
    rotation per the spec, so content (x, y) lands at display (y, pw - x).
    Under 90/270 horizontal rules become vertical ones and vice versa."""
    if rotate == 90:
        pt = lambda x, y, _w=pw: (y, _w - x)
    elif rotate == 180:
        pt = lambda x, y, _w=pw, _h=ph: (_w - x, _h - y)
    elif rotate == 270:
        pt = lambda x, y, _h=ph: (_h - y, x)
    else:
        return pw, ph, runs, hl, vl, rects, images

    def seg(x0, y0, x1, y1):
        ax, ay = pt(x0, y0)
        bx, by = pt(x1, y1)
        return (min(ax, bx), min(ay, by), max(ax, bx), max(ay, by))

    # rotation preserves length, so run widths carry through unchanged
    runs = [(*pt(x, y), size, txt, w) for x, y, size, txt, w in runs]
    segs_h = [seg(*s) for s in hl]
    segs_v = [seg(*s) for s in vl]
    if rotate in (90, 270):
        hl, vl = segs_v, segs_h
        pw, ph = ph, pw
    else:
        hl, vl = segs_h, segs_v
    rects = [
        (bx0, by0, bx1 - bx0, by1 - by0)
        for bx0, by0, bx1, by1 in (seg(x, y, x + w, y + h) for x, y, w, h in rects)
    ]
    images = [seg(*b[:4]) + (b[4],) for b in images]
    return pw, ph, runs, hl, vl, rects, images


def _content_ops(content: bytes, budget: _Budget):
    """Yield ``(operator, operands)`` for each operator of a content stream,
    operands in stream order as :meth:`_Lexer.parse` returns them.

    An inline image (``BI <dict> ID <raw binary> EI``) yields one ``BI``
    after its binary is skipped to the whitespace-delimited ``EI``; with no
    ``ID`` the stream ends there. Every token is charged to the page's
    tokens in ``budget``; past them, :class:`_BudgetExceeded`."""
    match = _CTOK.match
    n = len(content)
    p = 0
    left = budget.tokens_left
    operands: list = []
    while True:
        m = match(content, p)
        if m is None:  # only trailing whitespace and comments were left
            budget.tokens_left = left
            return
        left -= 1
        if left < 0:
            raise budget.overrun(
                f"content tokens over {_PAGE_TOKENS_CAP >> 20} Mi on a page"
            )
        p = m.end()
        kind = m.lastgroup
        if kind == "int":
            operands.append(int(m[kind]))
        elif kind == "op":
            op = m[kind]
            if op == b"BI":
                idp = content.find(b"ID", p)
                if idp == -1:
                    budget.tokens_left = left
                    return
                ei = _INLINE_EI.search(content, idp + 2)
                p = n if ei is None else ei.end()
            # a form this operator paints spends the page's tokens meanwhile
            budget.tokens_left = left
            yield op, operands
            left = budget.tokens_left
            operands = []
        elif kind == "real":
            operands.append(float(m[kind]))
        elif kind == "lit":
            operands.append(_unescape(m[kind]))
        elif kind == "name":
            operands.append(_Name(m[kind].decode("latin-1")))
        elif kind == "arr":
            operands.append(_flat_array(content, m.start(kind), m.end(kind)))
        elif kind == "hex":
            operands.append(_unhex(m[kind]))
        elif kind == "slow":
            lex = _Lexer(content, m.start(kind))
            try:
                operands.append(lex.parse())
                p = lex.p
            except Exception:
                p = lex.p + 1
        # "skip": a stray delimiter byte, the empty operator


def _interpret_content(
    content: bytes,
    image_names: frozenset = frozenset(),
    fonts: dict | None = None,
    forms: dict | None = None,
    *,
    budget: _Budget,
    _ctm0: tuple | None = None,
    _out: tuple | None = None,
    _depth: int = 0,
):
    """Run a content stream; return (runs, hlines, vlines, rects, images).

    runs: (x, y, size, text). Lines/rects mirror the reference's vector
    primitives (pdf_vector_utils.py:38-90): hlines/vlines as
    (x0, y0, x1, y1), rects as (x, y, w, h). images: placed image XObject
    bboxes (x0, y0, x1, y1, name) — the unit square through the CTM at each
    ``name Do`` whose name is in ``image_names`` (the page's
    /Resources/XObject entries with /Subtype /Image), the rebuild of the
    reference's type==1 image blocks (advanced_layout_extractor.py:359-386).

    ``fonts`` maps font resource names to :class:`pdf_fonts.FontDecoder`;
    ``Tf`` switches the active decoder and show-text operators route string
    bytes through it (subset-font glyph codes → Unicode). Fonts absent from
    the map use the legacy BOM/UTF-8/Latin-1 heuristic.

    ``forms`` maps XObject names with /Subtype /Form to their painting
    context (see :meth:`_Doc.page_paint`); a ``name Do`` on one executes
    the form's content stream inline — its /Matrix composed into the CTM,
    its own resources scoping the recursion (``None`` markers inherit the
    invoking context's), all geometry landing in the shared output lists.

    ``budget`` is the document's; a form spends the tokens of the page that
    paints it. Past them, :class:`_BudgetExceeded` propagates.
    """
    if _out is not None:
        runs, hlines, vlines, rects, images = _out
    else:
        runs, hlines, vlines, rects, images = [], [], [], [], []
    _ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    tlm = _ID  # text line matrix (start of current line)
    tm = _ID   # text matrix (current show position)
    size = 0.0
    leading = 0.0
    tc = 0.0   # Tc character spacing (text-space units)
    tw = 0.0   # Tw word spacing (1-byte code 32 only)
    tz = 100.0  # Tz horizontal scaling (percent)
    fonts = fonts or {}
    cur_font = None  # active FontDecoder, or None for the heuristic path

    def _show(b: bytes) -> str:
        # mapping-trivial decoders exist only for their width table; their
        # text still goes through the BOM/UTF-8/Latin-1 heuristic
        if cur_font is None or cur_font.mapping_trivial:
            return _pdf_text(b)
        return cur_font.decode(b)

    def _adv(raw: bytes, txt: str) -> float:
        """Text-space displacement of one show string (PDF 32000-1 §9.4.4):
        glyph widths /1000 × Tfs, plus Tc per glyph and Tw per 1-byte
        code-32 glyph, all × Tz/100. Explicit per-code /Widths (or CIDFont
        /W) when the font carries them, builtin Helvetica metrics over the
        decoded text otherwise — the same public AFM table the fixture
        writer positions split runs by."""
        if cur_font is not None and cur_font.widths is not None:
            units = cur_font.advance_units(raw)
            nglyphs = len(raw) // cur_font.code_width
            nspaces = cur_font.space_count(raw)
        else:
            # family AFM table by /BaseFont (Times/Courier/Symbol keep
            # their own advances); no font resource at all → Helvetica
            mt = cur_font.metrics if cur_font is not None else afm.HELVETICA
            units = float(mt.text_units(txt))
            nglyphs = len(txt)
            nspaces = txt.count(" ")
        return (units / 1000.0 * size + nglyphs * tc + nspaces * tw) * (
            tz / 100.0
        )

    def _emit(txt: str, adv: float) -> None:
        """Record a run at the device-space origin of the current text
        matrix (effective size carries the matrix's vertical scale) and
        advance the text matrix by the show's computed displacement."""
        nonlocal tm
        trm = _mat_mult(tm, ctm)
        if txt:
            eff = size * math.hypot(trm[2], trm[3])
            wdev = adv * math.hypot(trm[0], trm[1])
            runs.append((trm[4], trm[5], eff, txt, wdev))
        tm = _mat_mult((1.0, 0.0, 0.0, 1.0, adv, 0.0), tm)
    cur_pt = None
    path_start = None
    ctm = _ctm0 if _ctm0 is not None else (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    forms = forms or {}
    gs_stack: list[tuple] = []
    for op, stack in _content_ops(content, budget):
        try:
            if op == b"Tf" and len(stack) >= 2:
                size = float(stack[-1])
                if isinstance(stack[-2], _Name):
                    cur_font = fonts.get(str(stack[-2]))
            elif op == b"Td" and len(stack) >= 2:
                tlm = _mat_mult(
                    (1.0, 0.0, 0.0, 1.0, float(stack[-2]), float(stack[-1])), tlm
                )
                tm = tlm
            elif op == b"TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                tlm = _mat_mult(
                    (1.0, 0.0, 0.0, 1.0, float(stack[-2]), float(stack[-1])), tlm
                )
                tm = tlm
            elif op == b"Tm" and len(stack) >= 6:
                tlm = tm = tuple(float(v) for v in stack[-6:])
            elif op == b"TL" and stack:
                leading = float(stack[-1])
            elif op == b"T*":
                tlm = _mat_mult(
                    (1.0, 0.0, 0.0, 1.0, 0.0, -(leading if leading else size * 1.2)),
                    tlm,
                )
                tm = tlm
            elif op == b"BT":
                tlm = tm = _ID
            elif op == b"Tj" and stack and isinstance(stack[-1], bytes):
                txt = _show(stack[-1])
                _emit(txt, _adv(stack[-1], txt))
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                parts = []
                adv = 0.0
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        t = _show(el)
                        parts.append(t)
                        adv += _adv(el, t)
                    elif isinstance(el, (int, float)):
                        adv -= float(el) / 1000.0 * size * (tz / 100.0)
                        if float(el) <= -KERN_SPACE_TJ:
                            # a kern past the space-width threshold is a word
                            # gap the producer chose not to spend a space
                            # glyph on (justified text, subset fonts with no
                            # space glyph)
                            parts.append(" ")
                _emit("".join(parts), adv)
            elif op in (b"'", b'"') and stack and isinstance(stack[-1], bytes):
                tlm = _mat_mult(
                    (1.0, 0.0, 0.0, 1.0, 0.0, -(leading if leading else size * 1.2)),
                    tlm,
                )
                tm = tlm
                if op == b'"' and len(stack) >= 3:
                    # aw ac string ": sets word and char spacing, then shows
                    tw = float(stack[-3])
                    tc = float(stack[-2])
                txt = _show(stack[-1])
                _emit(txt, _adv(stack[-1], txt))
            elif op == b"Tc" and stack:
                tc = float(stack[-1])
            elif op == b"Tw" and stack:
                tw = float(stack[-1])
            elif op == b"Tz" and stack:
                tz = float(stack[-1])
            elif op == b"m" and len(stack) >= 2:
                # path geometry is device-space: points go through the CTM
                # (identity on a bare page; a form's /Matrix otherwise)
                cur_pt = _apply(ctm, float(stack[-2]), float(stack[-1]))
                path_start = cur_pt
            elif op == b"l" and len(stack) >= 2 and cur_pt is not None:
                x0, y0 = cur_pt
                x1, y1 = _apply(ctm, float(stack[-2]), float(stack[-1]))
                if abs(y1 - y0) <= 0.5 and abs(x1 - x0) > 0.5:
                    hlines.append((min(x0, x1), y0, max(x0, x1), y1))
                elif abs(x1 - x0) <= 0.5 and abs(y1 - y0) > 0.5:
                    vlines.append((x0, min(y0, y1), x1, max(y0, y1)))
                cur_pt = (x1, y1)
            elif op == b"re" and len(stack) >= 4:
                x, y, w, h = (float(v) for v in stack[-4:])
                pts = (_apply(ctm, x, y), _apply(ctm, x + w, y),
                       _apply(ctm, x, y + h), _apply(ctm, x + w, y + h))
                bx0 = min(p[0] for p in pts)
                by0 = min(p[1] for p in pts)
                rects.append((bx0, by0,
                              max(p[0] for p in pts) - bx0,
                              max(p[1] for p in pts) - by0))
            elif op == b"h" and path_start is not None:
                cur_pt = path_start
            elif op == b"q":
                # font, size, and leading are graphics state too (ISO
                # 32000-1 Table 52) — a banner set inside q…Q must not
                # leak its size into post-Q body text (TITLE misclass)
                # or its subset decoder into later runs
                gs_stack.append((ctm, tc, tw, tz, size, cur_font, leading))
            elif op == b"Q":
                if gs_stack:
                    ctm, tc, tw, tz, size, cur_font, leading = gs_stack.pop()
            elif op == b"cm" and len(stack) >= 6:
                ctm = _mat_mult(tuple(float(v) for v in stack[-6:]), ctm)
            elif op == b"Do" and stack and isinstance(stack[-1], _Name):
                xname = str(stack[-1])
                if xname in image_names:
                    a, b_, c_, d, e, f = ctm
                    xs = (e, a + e, c_ + e, a + c_ + e)
                    ys = (f, b_ + f, d + f, b_ + d + f)
                    images.append((min(xs), min(ys), max(xs), max(ys), xname))
                elif xname in forms and _depth < _FORM_MAX_DEPTH:
                    fm = forms[xname]
                    sub_ctm = (
                        _mat_mult(fm["matrix"], ctm) if fm["matrix"] else ctm
                    )
                    _interpret_content(
                        fm["content"],
                        image_names
                        if fm["image_names"] is None
                        else fm["image_names"],
                        fonts=fonts if fm["fonts"] is None else fm["fonts"],
                        forms=forms if fm["forms"] is None else fm["forms"],
                        _ctm0=sub_ctm,
                        _out=(runs, hlines, vlines, rects, images),
                        _depth=_depth + 1,
                        budget=budget,
                    )
            elif op == b"BI":
                # inline image, its binary already skipped by _content_ops.
                # Like an XObject Do, the image paints the CTM-mapped unit
                # square, so it lands in the figure-placement list (§8.9.7).
                a, b_, c_, d, e, f = ctm
                xs = (e, a + e, c_ + e, a + c_ + e)
                ys = (f, b_ + f, d + f, b_ + d + f)
                images.append((min(xs), min(ys), max(xs), max(ys), None))
        except _BudgetExceeded:
            raise
        except Exception:
            pass
    return runs, hlines, vlines, rects, images


# -- layout reconstruction ------------------------------------------------------


def _median(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    if not n:
        return 0.0
    mid = n // 2
    return s[mid] if n % 2 else 0.5 * (s[mid - 1] + s[mid])


def _group_lines(runs: list[tuple]) -> list[dict]:
    """Group runs into visual lines by y (tolerance Y_TOL), runs sorted by x.

    A run joins the first line made so far within Y_TOL of it. Runs come in
    by descending y, so that line is at a pointer that only moves forward;
    a non-finite y (``inf - inf`` is NaN) restarts the scan for every run."""
    by_y: list[dict] = []
    ordered = sorted(runs, key=lambda r: (-r[1], r[0]))
    finite = all(math.isfinite(r[1]) for r in ordered)
    first = 0
    for run in ordered:
        y = run[1]
        if not finite:
            first = 0
        while first < len(by_y) and not abs(by_y[first]["y"] - y) <= Y_TOL:
            first += 1
        if first == len(by_y):
            by_y.append({"y": y, "runs": []})
        by_y[first]["runs"].append(run)
    for line in by_y:
        line["runs"].sort(key=lambda r: r[0])
        line["x"] = line["runs"][0][0]
        line["size"] = max(r[2] for r in line["runs"])
        line["text"] = _join_runs(line["runs"])
        line["x1"] = max(r[0] + r[4] for r in line["runs"])
    by_y.sort(key=lambda L: -L["y"])
    return by_y


def _join_runs(runs_in_line: list[tuple]) -> str:
    out = []
    prev_end = None
    for x, y, size, txt, w in runs_in_line:
        if prev_end is not None and x - prev_end > max(1.0, 0.15 * size):
            out.append(" ")
        out.append(txt)
        prev_end = x + w
    return "".join(out)


def _cluster_columns(lines: list[dict]) -> list[int]:
    """1-D gap sessionization over line x-starts (the reference's coordinate
    clustering, table_figure_classifier.py:136-153): sorted unique starts,
    chain-break when gap > COL_GAP; returns per-line column index."""
    starts = sorted({round(line["x"], 1) for line in lines})
    col_of_start: dict[float, int] = {}
    col = 0
    prev = None
    for s in starts:
        if prev is not None and s - prev > COL_GAP:
            col += 1
        col_of_start[s] = col
        prev = s
    return [col_of_start[round(line["x"], 1)] for line in lines]


def _count_intersections(hlines, vlines) -> int:
    """h×v line intersection count (pdf_vector_utils.py:138-149); the
    O(h·v) scan is shared by region detection and the grid-confidence
    margin so line-dense pages pay it once."""
    inter = 0
    for hx0, hy, hx1, _ in hlines:
        for vx, vy0, _, vy1 in vlines:
            if hx0 - 0.5 <= vx <= hx1 + 0.5 and vy0 - 0.5 <= hy <= vy1 + 0.5:
                inter += 1
    return inter


def _with_rect_rules(hl, vl, rects):
    """Merge THIN filled rects into the rule pools: many producers draw
    table borders as `re f` bars rather than stroked paths (the reference's
    vector scan treats both as rules, pdf_vector_utils.py:38-90). A rect
    one dimension <=1pt wide becomes the corresponding center line; fat
    rects (real fills/images) stay ignored."""
    if not rects:
        return hl, vl
    hl2, vl2 = list(hl), list(vl)
    for x, y, w, h in rects:
        if h <= 1.0 and w > 0.5:
            cy = y + h / 2.0
            hl2.append((x, cy, x + w, cy))
        elif w <= 1.0 and h > 0.5:
            cx = x + w / 2.0
            vl2.append((cx, y, cx, y + h))
    return hl2, vl2


def _grid_regions(hlines, vlines, inter: int | None = None) -> list[tuple]:
    """Detect ruled-table regions: h×v intersections ≥ GRID_MIN_INTERSECTIONS
    (pdf_vector_utils.py:138-149). Returns bounding boxes (x0,y0,x1,y1),
    one per CONNECTED component of touching rules — two disjoint tables
    (or a table plus an unrelated separator rule) must not merge into one
    page-spanning region that swallows the prose between them. The
    component pass reuses the intersection tolerance and costs the same
    O(h·v) the shared counter already pays."""
    if len(hlines) < 2 or len(vlines) < 2:
        return []
    if inter is None:
        inter = _count_intersections(hlines, vlines)
    if inter < GRID_MIN_INTERSECTIONS:
        return []
    nh = len(hlines)
    parent = list(range(nh + len(vlines)))

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i, (hx0, hy, hx1, _) in enumerate(hlines):
        for j, (vx, vy0, _, vy1) in enumerate(vlines):
            if hx0 - 0.5 <= vx <= hx1 + 0.5 and vy0 - 0.5 <= hy <= vy1 + 0.5:
                ra, rb = find(i), find(nh + j)
                if ra != rb:
                    parent[rb] = ra
    groups: dict[int, list[int]] = {}
    for k in range(nh + len(vlines)):
        groups.setdefault(find(k), []).append(k)
    out = []
    for idxs in groups.values():
        hs = [hlines[k] for k in idxs if k < nh]
        vs = [vlines[k - nh] for k in idxs if k >= nh]
        if len(hs) < 2 or len(vs) < 2:
            continue
        if _count_intersections(hs, vs) < GRID_MIN_INTERSECTIONS:
            continue
        out.append((
            min(min(h[0] for h in hs), min(v[0] for v in vs)),
            min(min(h[1] for h in hs), min(v[1] for v in vs)),
            max(max(h[2] for h in hs), max(v[2] for v in vs)),
            max(max(h[3] for h in hs), max(v[3] for v in vs)),
        ))
    # top-first reading order, deterministic across dict iteration
    return sorted(out, key=lambda r: (-r[3], r[0]))


def _grid_confidence(hlines, vlines, inter: int | None = None) -> float:
    """Grid-verdict margin → confidence in [0.5, 0.95]: intersection count
    above the GRID_MIN_INTERSECTIONS threshold plus boundary spacing
    regularity (pdf_vector_utils.py:138-149, 194-218). The per-element
    confidence the reference attaches to detected tables
    (hybrid_docling_gpt4_processor.py:402 uses a flat 0.65; here the
    margin is the actual grid evidence). A minimal 2×2-line grid with
    regular spacing scores 0.75 — below the 0.8 solo-admission gate, so
    bare-minimum grids need cross-validation (P12 semantics)."""
    if inter is None:
        inter = _count_intersections(hlines, vlines)
    reg = 0.5 * (
        _spacing_regularity(_cluster_coords([h[1] for h in hlines]))
        + _spacing_regularity(_cluster_coords([v[0] for v in vlines]))
    )
    return round(
        min(0.95, 0.5 + 0.05 * (inter - GRID_MIN_INTERSECTIONS) + 0.25 * reg), 4
    )


def _title_confidence(size: float, med: float) -> float:
    """Size-ratio margin → confidence: anchored so the writer's standard
    18pt-over-10pt title (ratio 1.8) scores exactly the reference's flat
    TITLE confidence 0.85 (advanced_layout_extractor.py:345-349), growing
    to 0.95 as the ratio margin widens and bottoming at 0.70 right at the
    1.2× threshold."""
    ratio = size / med if med > 0 else 0.0
    return round(min(0.95, 0.70 + 0.25 * (ratio - TITLE_FACTOR)), 4)


# Rule-confidence constants for the remaining classification paths, mirroring
# the reference's per-path values (paragraph 0.9 at
# advanced_layout_extractor.py:350, figure 0.7 at :383, positional chrome and
# pattern gates between them).
_KIND_CONFIDENCE = {
    "header": 0.7,
    "footer": 0.7,
    "caption": 0.75,
    "reference": 0.8,
    "equation": 0.8,
    "list": 0.8,
    "paragraph": 0.9,
    "figure": 0.7,
}


def _cluster_coords(vals: list[float], tol: float = 1.0) -> list[float]:
    """Collapse near-equal coordinates (ruled lines drawn twice, rounding)."""
    out: list[float] = []
    for v in sorted(vals):
        if not out or v - out[-1] > tol:
            out.append(v)
    return out


def _spacing_regularity(bounds: list[float]) -> float:
    """1 − cv(std/mean) of sorted boundary gaps, clipped to [0, 1]
    (pdf_vector_utils.py:194-218)."""
    gaps = [b - a for a, b in zip(bounds, bounds[1:])]
    if len(gaps) < 2:
        return 1.0 if gaps else 0.0
    mean = sum(gaps) / len(gaps)
    if mean <= 0:
        return 0.0
    var = sum((g - mean) ** 2 for g in gaps) / len(gaps)
    return max(0.0, min(1.0, 1.0 - (var ** 0.5) / mean))


def extract_table_cells(payload: bytes) -> list[dict]:
    """Decompose ruled-grid regions into a row/col cell matrix.

    The reference derives table structure from h×v line intersections plus
    spacing regularity (pdf_vector_utils.py:169-192, 138-149) but never
    emits cells; here each detected grid yields ``{page, n_rows, n_cols,
    regularity, cells: [{row, col, text}]}`` with cell text joined from the
    text runs inside each cell rectangle in (top→down, left→right) order.
    Never raises; malformed input yields []."""
    try:
        doc = _Doc(payload)
        if not doc.try_decrypt():
            return []
        out: list[dict] = []
        for pno, _, _, _, runs, hl, vl, rects, _ in _page_layouts(doc, doc.pages()):
            hl, vl = _with_rect_rules(hl, vl, rects)
            for gx0, gy0, gx1, gy1 in _grid_regions(hl, vl):
                row_bounds = _cluster_coords(
                    [h[1] for h in hl if gy0 - 1 <= h[1] <= gy1 + 1]
                )
                col_bounds = _cluster_coords(
                    [v[0] for v in vl if gx0 - 1 <= v[0] <= gx1 + 1]
                )
                n_rows, n_cols = len(row_bounds) - 1, len(col_bounds) - 1
                if n_rows < 1 or n_cols < 1:
                    continue
                # row 0 is the TOP row: row_bounds ascend in y-up PDF coords
                cells: dict[tuple[int, int], list[tuple]] = {}
                for x, y, size, txt, _w in runs:
                    if not (gx0 <= x <= gx1 and gy0 <= y <= gy1):
                        continue
                    r = c = None
                    for i in range(n_rows):
                        if row_bounds[i] <= y <= row_bounds[i + 1]:
                            r = n_rows - 1 - i
                            break
                    for j in range(n_cols):
                        if col_bounds[j] <= x <= col_bounds[j + 1]:
                            c = j
                            break
                    if r is not None and c is not None:
                        cells.setdefault((r, c), []).append((x, y, size, txt, _w))
                reg = 0.5 * (
                    _spacing_regularity(row_bounds) + _spacing_regularity(col_bounds)
                )
                out.append(
                    {
                        "page": pno,
                        "n_rows": n_rows,
                        "n_cols": n_cols,
                        "regularity": round(reg, 6),
                        "cells": [
                            {
                                "row": r,
                                "col": c,
                                "text": _join_runs(
                                    sorted(cells[(r, c)], key=lambda t: (-t[1], t[0]))
                                ),
                            }
                            for (r, c) in sorted(cells)
                        ],
                    }
                )
        return [] if doc.budget.error else out
    except Exception:
        return []


def _list_flags(lines: list[dict], cols: list[int], order: list[int]) -> list[bool]:
    """Per-line list-item flags. Bullet glyphs always flag; numbered markers
    flag only when an emission-order neighbor in the same column is also
    numbered (aligned multi-item list), so prose wrap artifacts never split
    a paragraph."""
    flags = [False] * len(lines)
    numbered = [bool(LIST_NUM_RE.match(lines[i]["text"])) for i in range(len(lines))]
    for i, line in enumerate(lines):
        if LIST_BULLET_RE.match(line["text"]):
            flags[i] = True
    for k, idx in enumerate(order):
        if not numbered[idx] or flags[idx]:
            continue
        for nk in (k - 1, k + 1):
            if 0 <= nk < len(order):
                j = order[nk]
                if numbered[j] and cols[j] == cols[idx]:
                    flags[idx] = True
                    break
    return flags


def _near_caption_region(line: dict, regions: list[tuple], ph: float) -> bool:
    """Reference caption rule (table_figure_classifier.py:155-192):
    horizontal overlap + vertical nearness within 5% of page height,
    above or below the region."""
    top = line["y"] + line["size"]
    margin = CAPTION_VGAP_FRAC * ph
    for gx0, gy0, gx1, gy1 in regions:
        h_overlap = line["x"] < gx1 and line["x1"] > gx0
        below = 0 <= gy0 - top <= margin
        above = 0 <= line["y"] - gy1 <= margin
        if h_overlap and (below or above):
            return True
    return False


def _failed(error: str) -> dict:
    """The record of a PDF that yields no text at all: encrypted, over its
    work budget, or unparseable."""
    return {"text": "", "spans": [], "n_elements": 0, "method": "pdf",
            "error": error, "links": [], "headings": [], "meta": {}}


def _page_layouts(doc: _Doc, pages: list[dict]):
    """Interpret each page that has content, in page order, under the
    document's work budget. Yields ``(pno, page, pw, ph, runs, hl, vl,
    rects, images)`` with a /Rotate page's geometry already upright."""
    for pno, page in enumerate(pages):
        pw, ph = doc.page_size(page)
        content = doc.page_content(page)
        if not content:
            continue
        img_names, fts, frms = doc.page_paint(page)
        doc.budget.start_page()
        runs, hl, vl, rects, images = _interpret_content(
            content, img_names, fonts=fts, forms=frms, budget=doc.budget
        )
        rot = doc.page_rotate(page)
        if rot:
            pw, ph, runs, hl, vl, rects, images = _normalize_rotation(
                rot, pw, ph, runs, hl, vl, rects, images
            )
        yield pno, page, pw, ph, runs, hl, vl, rects, images


def extract_pdf(payload: bytes) -> dict:
    """Extract text + typed spans from one PDF payload. Never raises.

    Returns the same record shape as :func:`html_extract.extract_html`
    with ``method="pdf"``. Reading order: per page, columns left→right,
    lines top→bottom within a column; paragraphs merge across column/page
    boundaries (lines joined with a single space) unless a vertical gap
    > PARA_GAP_FACTOR × leading or an element-type change breaks them.

    Element taxonomy (reference ElementType, advanced_layout_extractor.py:
    52-63): title, paragraph, table, figure (placed image XObjects, :359-386),
    header/footer (positional bands), caption (proximity rule,
    table_figure_classifier.py:155-192), list (marker detection). Image-only
    figure elements carry the deterministic ``[figure]`` marker text and are
    emitted after the page's text flow, ordered top-to-bottom. Spans carry
    ``(hierarchy_level, parent_id)`` from :mod:`hierarchy`.
    """
    return _extract_pdf(payload)[0]


def _extract_pdf(payload: bytes) -> tuple:
    """:func:`extract_pdf`'s record, the parsed document (None if it did
    not parse), and the pages that placed images, ``(pno, page, pw, ph,
    images)`` each, so far as the interpretation got."""
    from .hierarchy import assign_hierarchy

    doc = None
    placed: list[tuple] = []
    try:
        doc = _Doc(payload)
        if not doc.try_decrypt():
            # a real password (or unsupported handler) is required:
            # strings/streams stay ciphertext — emitting "extracted text"
            # from them would be garbage; degrade explicitly
            return _failed("encrypted"), doc, placed
        pages = doc.pages()
        blocks: list[dict] = []  # {kind, page, texts: [line...], bbox}
        for pno, page, pw, ph, runs, hl, vl, rects, images in _page_layouts(
            doc, pages
        ):
            if images:
                placed.append((pno, page, pw, ph, images))
            elif not runs:
                continue
            hl, vl = _with_rect_rules(hl, vl, rects)
            inter = (
                _count_intersections(hl, vl)
                if len(hl) >= 2 and len(vl) >= 2 else 0
            )
            grids = _grid_regions(hl, vl, inter=inter)
            grid_conf = _grid_confidence(hl, vl, inter=inter) if grids else 0.0
            caption_regions = grids + [b[:4] for b in images]
            lines = _group_lines(runs)
            med = _median([line["size"] for line in lines])
            cols = _cluster_columns(lines)
            # order: column asc, then y desc within column; full grid regions
            # are emitted as TABLE blocks in row-major order.
            order = sorted(range(len(lines)), key=lambda i: (cols[i], -lines[i]["y"]))
            lists = _list_flags(lines, cols, order)
            prev_y = None
            prev_col = None
            deltas = []
            for i in range(1, len(lines)):
                d = lines[i - 1]["y"] - lines[i]["y"]
                if d > 0:
                    deltas.append(d)
            lead = _median(deltas) if deltas else 12.0
            for idx in order:
                line = lines[idx]
                words = line["text"].count(" ") + 1
                in_grid = any(
                    g[0] - 2 <= line["x"] and line["x1"] <= g[2] + 2
                    and g[1] - 2 <= line["y"] <= g[3] + 2
                    for g in grids
                )
                if in_grid:
                    kind = "table"
                    conf = grid_conf
                elif line["y"] / ph >= HEADER_BAND and words <= BAND_MAX_WORDS:
                    kind = "header"
                elif line["y"] / ph <= FOOTER_BAND and words <= BAND_MAX_WORDS:
                    kind = "footer"
                elif CAPTION_RE.match(line["text"]) and _near_caption_region(
                    line, caption_regions, ph
                ):
                    kind = "caption"
                elif med > 0 and line["size"] >= TITLE_FACTOR * med:
                    kind = "title"
                    conf = _title_confidence(line["size"], med)
                elif REFERENCE_RE.match(line["text"]):
                    kind = "reference"
                elif _is_equation(line["text"]):
                    kind = "equation"
                elif lists[idx]:
                    kind = "list"
                else:
                    kind = "paragraph"
                if kind not in ("table", "title"):
                    conf = _KIND_CONFIDENCE[kind]
                bbox = [
                    max(0.0, line["x"] / pw),
                    max(0.0, 1.0 - line["y"] / ph),
                    min(1.0, line["x1"] / pw),
                    min(1.0, 1.0 - (line["y"] - line["size"]) / ph),
                ]
                new_block = True
                if blocks and blocks[-1]["kind"] == kind == "paragraph":
                    same_col_flow = (
                        prev_col == cols[idx]
                        and prev_y is not None
                        and 0 < (prev_y - line["y"]) <= PARA_GAP_FACTOR * lead
                    )
                    col_or_page_continuation = prev_col != cols[idx] or blocks[-1]["page"] != pno
                    if same_col_flow or col_or_page_continuation:
                        new_block = False
                if new_block:
                    blocks.append({"kind": kind, "page": pno, "texts": [line["text"]], "bbox": bbox, "conf": conf})
                else:
                    blocks[-1]["texts"].append(line["text"])
                prev_y = line["y"]
                prev_col = cols[idx]
            # image-only figure elements after the page's text flow, top→down
            for ix0, iy0, ix1, iy1, _nm in sorted(
                images, key=lambda b: (-b[3], b[0])
            ):
                blocks.append(
                    {
                        "kind": "figure",
                        "page": pno,
                        "texts": [FIGURE_TEXT],
                        "conf": _KIND_CONFIDENCE["figure"],
                        "bbox": [
                            max(0.0, ix0 / pw),
                            max(0.0, 1.0 - iy1 / ph),
                            min(1.0, ix1 / pw),
                            min(1.0, 1.0 - iy0 / ph),
                        ],
                    }
                )
        texts: list[str] = []
        spans: list[tuple] = []
        pos = 0
        for blk in blocks:
            text = " ".join(blk["texts"])
            if not text.strip():
                continue
            if texts:
                pos += 2
            spans.append(
                [blk["kind"], blk["page"], pos, pos + len(text),
                 [round(v, 6) for v in blk["bbox"]], blk["conf"]]
            )
            texts.append(text)
            pos += len(text)
        levels = assign_hierarchy([s[0] for s in spans])
        spans = [
            tuple(s) + (lvl, parent) for s, (lvl, parent) in zip(spans, levels)
        ]
        err = "; ".join(doc.errors[:3]) if doc.errors else None
        links = _annot_links(doc, pages)
        meta = doc.info()
        if doc.budget.error:  # overran where an except swallowed it
            return _failed(doc.budget.error), doc, placed
        return {
            "text": "\n\n".join(texts),
            "spans": spans,
            "n_elements": len(spans),
            "method": "pdf",
            "error": err,
            "links": links,
            "headings": [],
            "meta": meta,
        }, doc, placed
    except _BudgetExceeded as exc:
        return _failed(str(exc)), doc, placed
    except Exception as exc:
        return _failed(f"{type(exc).__name__}: {exc}"), doc, placed


def _annot_links(doc: _Doc, pages: list[dict]) -> list[dict]:
    """/Annots URI link targets, document order (PDF 32000-1 §12.5.6.5:
    /Subtype /Link with an /A action of /S /URI). PDFs carry no anchor
    text binding, so ``text`` stays empty; ``chrome`` is always False."""
    links: list[dict] = []
    try:
        for page in pages:
            annots = doc.resolve(page.get("Annots"))
            if not isinstance(annots, list):
                continue
            for ref in annots:
                a = doc.resolve(ref)
                if isinstance(a, tuple) and a[0] == "stream":
                    a = a[1]
                if not isinstance(a, dict) or str(a.get("Subtype", "")) != "Link":
                    continue
                act = doc.resolve(a.get("A"))
                if not isinstance(act, dict) or str(act.get("S", "")) != "URI":
                    continue
                uri = doc.resolve(act.get("URI"))
                if isinstance(uri, bytes):
                    links.append(
                        {"href": _pdf_text(uri), "text": "", "chrome": False}
                    )
    except Exception:
        pass
    return links


def extract_pdf_outline(payload: bytes) -> list[dict]:
    """Flattened /Outlines bookmark tree for one PDF payload (the
    ``get_toc()`` surface of the reference's PyMuPDF stack): ``[{level,
    title, page}]`` depth-first. Never raises; undecryptable or malformed
    documents yield []."""
    try:
        doc = _Doc(payload)
        if not doc.try_decrypt():
            return []
        return doc.outline()
    except Exception:
        return []


def extract_pdf_attachments(payload: bytes) -> list[dict]:
    """PDF attachments (/Names /EmbeddedFiles, §7.11.4) for one payload:
    ``[{name, filename, size, data}]``. Never raises; undecryptable or
    malformed documents yield []."""
    try:
        doc = _Doc(payload)
        if not doc.try_decrypt():
            return []
        return doc.embedded_files()
    except Exception:
        return []


def extract_pdf_form_fields(payload: bytes) -> list[dict]:
    """AcroForm field values (§12.7) for one payload: ``[{name,
    field_type, value}]`` with hierarchical dotted names. Never raises."""
    try:
        doc = _Doc(payload)
        if not doc.try_decrypt():
            return []
        return doc.form_fields()
    except Exception:
        return []


def _image_intrinsics(doc: "_Doc", sdict: dict, raw: bytes) -> dict:
    """Intrinsic pixel metadata of one /Subtype /Image XObject.

    DCTDecode payloads ARE JPEG bytes (the filter chain passes them
    through), so they route through the shared container header parser
    (kernels/containers.py) — VERDICT r4 item 5 — and the parsed SOF dims
    take precedence over the dict's. Other codecs fall back to the
    mandatory /Width /Height entries (§8.9.5.1). fmt: 'jpeg' | 'jpx' |
    'raw' (uncompressed or Flate samples) | 'corrupt' (DCT header that
    does not parse)."""
    w = doc.resolve(sdict.get("Width"))
    h = doc.resolve(sdict.get("Height"))
    w = int(w) if isinstance(w, (int, float)) else -1
    h = int(h) if isinstance(h, (int, float)) else -1
    filt = doc.resolve(sdict.get("Filter"))
    names = [str(f) for f in (filt if isinstance(filt, list) else [filt]) if f]
    fmt = "raw"
    if "DCTDecode" in names:
        from .containers import decode_container

        try:
            info = decode_container(doc.decode(sdict, raw))
            fmt = info["fmt"]  # 'jpeg', or 'corrupt' on a lying header
            if info["width"] >= 0:
                w, h = info["width"], info["height"]
        except Exception:
            fmt = "corrupt"
    elif "JPXDecode" in names:
        fmt = "jpx"
    return {"width": w, "height": h, "fmt": fmt}


def _image_meta_from_res(doc: "_Doc", res, depth: int = 0) -> dict:
    """Name → intrinsic metadata for every /Subtype /Image XObject
    reachable from a resource dict, recursing through /Subtype /Form
    resources (first name wins on the rare cross-scope collision)."""
    meta: dict = {}
    try:
        res = doc.resolve(res) or {}
        xobjs = doc.resolve(res.get("XObject")) or {}
        if not isinstance(xobjs, dict):
            return meta
        for name, ref in xobjs.items():
            obj = doc.resolve(ref)
            if not (isinstance(obj, tuple) and obj[0] == "stream"):
                continue
            sdict = obj[1]
            sub = str(sdict.get("Subtype", ""))
            if sub == "Image" and str(name) not in meta:
                meta[str(name)] = _image_intrinsics(doc, sdict, obj[2])
            elif sub == "Form" and depth < _FORM_MAX_DEPTH:
                for k, v in _image_meta_from_res(
                    doc, sdict.get("Resources"), depth + 1
                ).items():
                    meta.setdefault(k, v)
    except Exception:
        pass
    return meta


def extract_pdf_images(payload: bytes) -> list[dict]:
    """(page, bbox, intrinsic dims, fmt, caption) per placed image — the
    PDF twin of the HTML ``image_alt_pairs`` operator (VERDICT r4 item 5):
    LAION-style (image, caption) pair mining needs the placement bbox AND
    the payload's real pixel dimensions to filter thumbnails/trackers.

    Returns ``[{page, x0, y0, x1, y1, width, height, fmt, caption}]`` with
    the bbox normalized to page space exactly like figure spans (rounded to
    6 decimals, top-left origin). ``caption`` is the text of the nearest
    caption element on the same page under the reference proximity rule
    (horizontal overlap + vertical gap ≤ 5% of page height,
    table_figure_classifier.py:155-192), or None. Inline BI images carry
    fmt='inline' with -1 dims (their dict never leaves the content stream
    in this parser). Never raises."""
    try:
        # one parse/decrypt/interpret pass: extract_pdf's own, which also
        # hands back the pages that placed images
        full, doc, placed = _extract_pdf(payload)
        if (full["error"] or "").startswith(("encrypted", "budget")):
            return []
        metas = [
            _image_meta_from_res(doc, doc.page_attr(page, "Resources"))
            for _, page, _, _, _ in placed
        ]
        if placed and doc.budget.error:  # decoding an image header overran
            return []
        # caption spans per page: (cy0, cy1, cx0, cx1, text)
        caps: dict[int, list] = {}
        text = full["text"]
        for s in full["spans"]:
            if s[0] == "caption":
                bx = s[4]
                caps.setdefault(s[1], []).append(
                    (bx[1], bx[3], bx[0], bx[2], text[s[2] : s[3]])
                )
        rows: list[dict] = []
        for (pno, _, pw, ph, images), meta in zip(placed, metas):
            for ix0, iy0, ix1, iy1, nm in sorted(
                images, key=lambda b: (-b[3], b[0])
            ):
                m = meta.get(nm) if nm else None
                bbox = (
                    max(0.0, ix0 / pw),
                    max(0.0, 1.0 - iy1 / ph),
                    min(1.0, ix1 / pw),
                    min(1.0, 1.0 - iy0 / ph),
                )
                # nearest same-page caption under the proximity rule, in
                # normalized display coordinates (y grows downward there)
                best = None
                margin = CAPTION_VGAP_FRAC
                for cy0, cy1, cx0, cx1, ctext in caps.get(pno, []):
                    if not (cx0 < bbox[2] and cx1 > bbox[0]):
                        continue
                    # SIGNED gaps like _near_caption_region: strictly below
                    # (caption top under the image bottom) or strictly
                    # above — an abs() here attaches captions that overlap
                    # the image interior to the WRONG neighbor
                    gaps = [
                        g
                        for g in (cy0 - bbox[3], bbox[1] - cy1)
                        if 0 <= g <= margin
                    ]
                    if gaps and (best is None or min(gaps) < best[0]):
                        best = (min(gaps), ctext)
                rows.append(
                    {
                        "page": pno,
                        "x0": round(bbox[0], 6), "y0": round(bbox[1], 6),
                        "x1": round(bbox[2], 6), "y1": round(bbox[3], 6),
                        "width": m["width"] if m else -1,
                        "height": m["height"] if m else -1,
                        "fmt": m["fmt"] if m else "inline",
                        "caption": best[1] if best else None,
                    }
                )
        return rows
    except Exception:
        return []
