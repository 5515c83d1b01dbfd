"""Property-based tests (SURVEY.md §5 item 3): extraction is total (never
raises), offsets are in-bounds, and spans exactly tile the text — for
arbitrary, including hostile, inputs. Pure-kernel tests, no Spark session."""

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from pdf_extraction_spark.kernels.dispatch import extract_document
from pdf_extraction_spark.kernels.html_extract import extract_html
from pdf_extraction_spark.kernels.pdf_extract import extract_pdf
from pdf_extraction_spark.sources.warc import parse_warc_bytes

RESULT_KEYS = {"text", "spans", "n_elements", "method", "error", "links",
               "headings", "meta"}


def check_result_shape(res):
    assert set(res.keys()) == RESULT_KEYS
    assert isinstance(res["text"], str)
    assert res["n_elements"] == len(res["spans"])
    blocks = res["text"].split("\n\n") if res["text"] else []
    assert len(blocks) == len(res["spans"])
    for (etype, page, start, end, bbox, conf, level, parent), blk in zip(res["spans"], blocks):
        assert 0 <= start <= end <= len(res["text"])
        assert res["text"][start:end] == blk
        assert isinstance(page, int) and len(bbox) == 4


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=4096))
def test_dispatch_total_on_random_bytes(payload):
    check_result_shape(extract_document(payload))


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=4096))
def test_html_total_on_random_text(text):
    check_result_shape(extract_html(text))


# tag-soup generator: random nestings of real tags, unbalanced on purpose
_tags = st.sampled_from(
    ["p", "div", "main", "nav", "h1", "h2", "li", "td", "a", "table",
     "figure", "script", "style", "aside", "footer", "span", "br"]
)
_frag = st.one_of(
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40),
    _tags.map(lambda t: f"<{t}>"),
    _tags.map(lambda t: f"</{t}>"),
    _tags.map(lambda t: f"<{t} class='x'"),  # unterminated tag
    st.sampled_from(["<!--", "-->", "&amp;", "&bogus;", "<!DOCTYPE html>", "<![CDATA[x]]>"]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_frag, max_size=60).map("".join))
def test_html_total_on_tag_soup(soup):
    check_result_shape(extract_html(soup))


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2048))
def test_pdf_total_on_garbage_after_magic(tail):
    res = extract_pdf(b"%PDF-1.7\n" + tail)
    check_result_shape(res)
    assert res["method"] == "pdf"


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2048))
def test_warc_parser_total(data):
    rows = parse_warc_bytes(b"WARC/1.0\r\n" + data)
    assert isinstance(rows, list)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2048))
def test_warc_parser_total_on_corrupt_gzip(data):
    rows = parse_warc_bytes(b"\x1f\x8b" + data)
    assert isinstance(rows, list)


from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=6000))
@settings(max_examples=120, deadline=None)
def test_recursive_chunks_invariants(text):
    """Recursive separator chunker (reference splitter semantics,
    complete_multimodal_rag_evaluation.py:33-48): chunks are in-bounds
    contiguous substrings within size, cover the text, overlap bounded."""
    from pdf_extraction_spark.kernels.chunking import (
        CHUNK_OVERLAP, CHUNK_SIZE, recursive_chunks,
    )

    ch = recursive_chunks(text)
    if not text:
        assert ch == []
        return
    assert ch[0][0] == 0 and ch[-1][1] == len(text)
    for a, b in ch:
        assert 0 <= a < b <= len(text) or (a, b) == (0, len(text))
        assert b - a <= CHUNK_SIZE
    for (a1, b1), (a2, b2) in zip(ch, ch[1:]):
        assert a1 < a2 <= b1          # ordered, no gaps
        assert b1 - a2 <= CHUNK_OVERLAP


# table-soup generator: table markup with random spans, unbalanced on purpose
_tbl_frag = st.one_of(
    st.text(alphabet="ab ", max_size=8),
    st.sampled_from(["<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
                     "<th>", "</th>"]),
    st.integers(min_value=0, max_value=2000).map(
        lambda n: f"<td colspan={n}>"
    ),
    st.integers(min_value=0, max_value=2000).map(
        lambda n: f"<td rowspan='{n}'>"
    ),
    st.sampled_from(["<td colspan=abc>", "<table><table>", "</td></td>"]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_tbl_frag, max_size=80).map("".join))
def test_table_grid_invariants_on_soup(soup):
    """extract_html_tables is total, and every emitted grid is coherent:
    unique (row, col) anchors, non-negative positions, spans within the
    clamp, anchors inside the reported grid bounds."""
    from pdf_extraction_spark.kernels.html_extract import extract_html_tables

    tables = extract_html_tables(soup)
    assert isinstance(tables, list)
    for t in tables:
        anchors = set()
        assert t["n_rows"] >= 1 and t["n_cols"] >= 1
        for c in t["cells"]:
            key = (c["row"], c["col"])
            assert key not in anchors
            anchors.add(key)
            assert 0 <= c["row"] < t["n_rows"]
            assert 0 <= c["col"] < t["n_cols"]
            assert 1 <= c["rowspan"] <= 1000
            assert 1 <= c["colspan"] <= 1000


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2048))
def test_pdf_outline_total_on_garbage(tail):
    from pdf_extraction_spark.kernels.pdf_extract import extract_pdf_outline

    out = extract_pdf_outline(b"%PDF-1.5\n" + tail)
    assert isinstance(out, list)


@settings(max_examples=150, deadline=None)
@given(st.binary(max_size=2048))
def test_source_parsers_total_on_garbage(data):
    """sitemap / feed / robots parsers are total and shape-stable on
    arbitrary bytes."""
    from pdf_extraction_spark.kernels.robots import is_allowed, parse_robots
    from pdf_extraction_spark.sources.feeds import parse_feed
    from pdf_extraction_spark.sources.sitemap import parse_sitemap

    sm = parse_sitemap(data)
    assert set(sm) == {"kind", "entries"} and isinstance(sm["entries"], list)
    fd = parse_feed(data)
    assert set(fd) == {"kind", "title", "entries"}
    rb = parse_robots(data)
    assert set(rb) == {"groups", "crawl_delay", "sitemaps"}
    assert isinstance(is_allowed(rb, "bot", "/x"), bool)


_rb_frag = st.one_of(
    st.sampled_from(["User-agent: *", "User-agent: a", "Disallow: /x",
                     "Allow: /x/y", "Disallow:", "Crawl-delay: 1",
                     "Sitemap: https://x/s.xml", "# comment", "junk line",
                     "Disallow: /*.pdf$", "Allow: /tmp*/x"]),
    st.text(alphabet="abc:/*$ ", max_size=20),
)


@settings(max_examples=150, deadline=None)
@given(st.lists(_rb_frag, max_size=30).map("\n".join),
       st.text(alphabet="/abcxyz.*", max_size=30))
def test_robots_matcher_total_on_rule_soup(robots, path):
    from pdf_extraction_spark.kernels.robots import is_allowed, parse_robots

    assert isinstance(is_allowed(parse_robots(robots), "bot", path), bool)


def test_recursive_chunks_closed_form_on_tiled_docs():
    """The chunk_split_recursive oracle's closed form: a doc tiled 8x with
    "\\n\\n" seams (atoms of uniform stride A=L+2, all under chunk size)
    packs as c = min(8, 1200 // A) atoms per chunk with carry-back
    min(200 // A, c-1). Exhaustive over every base length the query can
    produce (1..1100, mixed word shapes)."""
    import math

    from pdf_extraction_spark.kernels.chunking import recursive_chunks

    def closed_form(L):
        a = L + 2
        c = min(8, 1200 // a)
        s = c - min(200 // a, c - 1)
        n = 1 if c >= 8 else math.ceil((8 - c) / s) + 1
        return [(t * s * a, min(t * s + c, 8) * a) for t in range(n)]

    base = "word mix of various pieces "  # spaces exercise the " " separator
    for L in range(1, 1101):
        text = ((base * 50)[:L] + "\n\n") * 8
        assert recursive_chunks(text) == closed_form(L), L


# -- PDF object/content-layer fuzz (VERDICT r3 item 7): structured mutations
# of VALID documents, not just random tails — hostile xref offsets, stream
# /Length lies, filter-chain soup, truncation, byte flips. Property: the
# extractor never raises and spans always tile extracted_text.

from pdf_extraction_spark.kernels.pdf_write import build_pdf as _bp

_PDF_VARIANTS = [
    _bp("alpha beta gamma delta epsilon zeta eta theta " * 4, title="T"),
    _bp("kernel fuzz body words repeating for lines " * 6, compress=True,
        xref_stream=True),
    _bp("", table_rows=[["a", "b"], ["c", "d"]]),
    _bp("objstm packed body content words " * 5, compress=True,
        xref_stream=True, objstm=True),
]


@settings(max_examples=150, deadline=None)
@given(st.sampled_from(_PDF_VARIANTS), st.integers(0, 10**9))
def test_pdf_total_on_mutated_startxref(pdf, off):
    """startxref pointing anywhere (garbage offset, mid-object, past EOF):
    the xref recovery path must degrade, never raise."""
    head, _, tail = pdf.rpartition(b"startxref")
    mutated = head + b"startxref\n%d\n%%%%EOF" % off
    check_result_shape(extract_pdf(mutated))


@settings(max_examples=150, deadline=None)
@given(st.sampled_from(_PDF_VARIANTS), st.data())
def test_pdf_total_on_truncation(pdf, data):
    cut = data.draw(st.integers(0, len(pdf)))
    check_result_shape(extract_pdf(pdf[:cut]))


@settings(max_examples=150, deadline=None)
@given(st.sampled_from(_PDF_VARIANTS), st.data())
def test_pdf_total_on_byte_flips(pdf, data):
    """Random single-byte corruption anywhere in the file (xref entries,
    object headers, stream bodies, dict keys)."""
    n = data.draw(st.integers(1, 8))
    buf = bytearray(pdf)
    for _ in range(n):
        i = data.draw(st.integers(0, len(buf) - 1))
        buf[i] = data.draw(st.integers(0, 255))
    check_result_shape(extract_pdf(bytes(buf)))


@settings(max_examples=150, deadline=None)
@given(st.sampled_from(_PDF_VARIANTS), st.integers(-1, 10**7))
def test_pdf_total_on_hostile_stream_length(pdf, n):
    """/Length lying about the stream size (negative, zero, way past EOF):
    stream slicing must clamp, decode must degrade."""
    import re as _re

    mutated = _re.sub(rb"/Length \d+", b"/Length %d" % n, pdf, count=1)
    check_result_shape(extract_pdf(mutated))


@settings(max_examples=150, deadline=None)
@given(
    st.sampled_from(_PDF_VARIANTS),
    st.lists(
        st.sampled_from(
            [b"/FlateDecode", b"/ASCIIHexDecode", b"/ASCII85Decode",
             b"/LZWDecode", b"/RunLengthDecode", b"/NoSuchFilter",
             b"/DCTDecode"]
        ),
        min_size=1,
        max_size=4,
    ),
)
def test_pdf_total_on_filter_chain_soup(pdf, chain):
    """A bogus /Filter cascade injected into the first stream dict: wrong
    codecs over real bytes must fail closed per-stream, not raise."""
    arr = b"[" + b" ".join(chain) + b"]"
    if b"/Filter /FlateDecode" in pdf:
        mutated = pdf.replace(b"/Filter /FlateDecode", b"/Filter " + arr, 1)
    else:
        mutated = pdf.replace(b"stream", b"/Filter " + arr + b" stream", 1)
    check_result_shape(extract_pdf(mutated))


@settings(max_examples=100, deadline=None)
@given(st.sampled_from(_PDF_VARIANTS), st.binary(min_size=1, max_size=120))
def test_pdf_total_on_injected_object_garbage(pdf, junk):
    """Garbage spliced between the header and the first object shifts every
    xref offset: recovery must re-scan, never trust-and-crash."""
    import re as _re

    i = _re.search(rb"\d+ 0 obj", pdf).start()
    check_result_shape(extract_pdf(pdf[:i] + junk + pdf[i:]))


# -- undeclared-CJK probe guarantees (round 5) --------------------------------
#
# The probe is a deterministic heuristic over an inherently ambiguous input
# (no declared encoding), so its guarantee is statistical, not total:
# measured on uniform-random script soup, false flips are 0/3000 for cp949
# and cp932 at any length, and occur for gbk ONLY on very short pages
# (17/4000 at 12-20 hanzi, 0/12000 at 20+ — a flip needs EVERY byte pair of
# the page to also be valid cp949 with a ≥2/3 hangul reading, which decays
# geometrically with length). These properties pin exactly that contract.

# real Korean draws from the 2,350 KS X 1001 syllables (EUC rows B0-C8);
# the cp949 EXTENSION zone holds the rare combinations — since the probe's
# KS-membership sub-gate (html_extract._KSX1001_SYLLABLES) exists exactly
# because extension-dominated decodes are GBK/SJIS mojibake, the Korean
# roundtrip property pins the realistic distribution, and extension-heavy
# pages are the documented residual tail
_HANGUL_CHARS = st.sampled_from(sorted(
    bytes((lead, trail)).decode("cp949")
    for lead in range(0xB0, 0xC9) for trail in range(0xA1, 0xFF)
))
_KANA_CHARS = st.one_of(st.integers(0x3041, 0x3093),
                        st.integers(0x30A1, 0x30F6)).map(chr)  # hiragana + katakana
_HANZI_CHARS = st.integers(0x4E00, 0x9FA5).map(chr)


def _jis_encodable(c: str) -> bool:
    try:
        c.encode("iso-2022-jp")
        return True
    except UnicodeEncodeError:
        return False


# only ~6k of the ~21k URO hanzi are JIS X 0208 — drawing from the full
# range makes the Japanese-page strategies assume() away ~70% of examples
# (hypothesis's filter-too-much health check fires); sample the real pool
_JIS_HANZI_CHARS = st.sampled_from(sorted(
    c for c in (chr(cp) for cp in range(0x4E00, 0x9FA6)) if _jis_encodable(c)
))


def _word_page(chars):
    words = ["".join(chars[i:i + 3]) for i in range(0, len(chars), 3)]
    return f"<html><body><p>{' '.join(words)}</p></body></html>"


@settings(max_examples=150, deadline=None)
@given(st.lists(_HANGUL_CHARS, min_size=12, max_size=60))
def test_undeclared_cp949_page_roundtrips(chars):
    from pdf_extraction_spark.kernels.html_extract import decode_payload

    assume(len(set(chars)) >= 5)  # the probe's documented distinct floor
    page = _word_page(chars)
    try:
        payload = page.encode("cp949")
    except UnicodeEncodeError:
        assume(False)
    assert decode_payload(payload) == page


@settings(max_examples=150, deadline=None)
@given(st.lists(_KANA_CHARS, min_size=12, max_size=60))
def test_undeclared_cp932_page_roundtrips(chars):
    """Hiragana AND katakana pages roundtrip — including pure katakana,
    whose Shift-JIS trail bytes are all ASCII-range (an interim
    adjacent-high-pair gate wrongly sent those to the cp1252 lane; the
    Latin-shape veto keys on cp1252 LETTER bytes beside ASCII letters,
    which katakana leads 0x83 never are)."""
    from pdf_extraction_spark.kernels.html_extract import decode_payload

    assume(len(set(chars)) >= 5)  # the probe's documented distinct floor
    page = _word_page(chars)
    try:
        payload = page.encode("cp932")
    except UnicodeEncodeError:
        assume(False)
    assert decode_payload(payload) == page


@settings(max_examples=150, deadline=None)
@given(st.lists(st.one_of(_JIS_HANZI_CHARS, _JIS_HANZI_CHARS,
                          _JIS_HANZI_CHARS, _KANA_CHARS),
                min_size=12, max_size=60))
def test_undeclared_sjis_kanji_page_roundtrips_when_shaped(chars):
    """Kanji-majority Shift-JIS pages (the documented nearly-kana-free
    tail, including the sub-1/3-kana news mix): when the 0x81-0x9F lead
    shape is present, cp932 must win a kana∪kanji-gated probe before gbk
    strict-decodes the same bytes into mojibake. Pages whose kanji all
    live in the 0xE0+ second-level rows lack the shape and remain the
    (smaller) documented residual — excluded by assumption, not hidden."""
    from pdf_extraction_spark.kernels.html_extract import (
        _sjis_shaped, decode_payload)

    assume(len(set(chars)) >= 5)
    page = _word_page(chars)
    payload = page.encode("cp932")
    assume(_sjis_shaped(payload))
    assert decode_payload(payload) == page
    assert decode_payload(memoryview(payload)) == page


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_KANA_CHARS, _KANA_CHARS,
                          st.one_of(_KANA_CHARS, _JIS_HANZI_CHARS)),
                min_size=4, max_size=20))
def test_undeclared_euc_jp_page_roundtrips(triples):
    """Japanese pages encoded EUC-JP roundtrip through the probe — the
    round-5 tail: kana rows 0xA4/0xA5 strictly decode via cp949 into
    Hangul compatibility jamo, so before the euc_jp rung (and the cp949
    syllable-majority sub-gate) a hiragana-heavy page came back as jamo
    mojibake. The generator keeps kana ≥ 2/3 per triple, inside the
    rung's documented 1/3 core gate the way real Japanese prose is."""
    from pdf_extraction_spark.kernels.html_extract import decode_payload

    chars = [c for t in triples for c in t]
    # the distinct floor is over CORE (kana) chars: with only 4 distinct
    # kana the rung stands down by design and a repeated-ぁ page may fall
    # to the hanzi tail (A4A1 is a valid Big5 pair) — documented residue
    kana = [c for c in chars if "\u3040" <= c <= "\u30ff"]
    assume(len(set(kana)) >= 5)
    page = _word_page(chars)
    try:
        payload = page.encode("euc-jp")
    except UnicodeEncodeError:
        assume(False)  # not every URO hanzi is JIS X 0208
    assert decode_payload(payload) == page


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_KANA_CHARS, _KANA_CHARS,
                          st.one_of(_KANA_CHARS, _JIS_HANZI_CHARS)),
                min_size=4, max_size=20))
def test_undeclared_iso2022_jp_page_roundtrips(triples):
    """7-bit escape-shifted Japanese roundtrips: the sniff must catch it
    on the strict-UTF-8 SUCCESS path (the page is valid ASCII), and the
    dispatcher's binary-ratio gate must not count shift ESCs as junk."""
    from pdf_extraction_spark.kernels.dispatch import extract_document
    from pdf_extraction_spark.kernels.html_extract import decode_payload

    chars = [c for t in triples for c in t]
    kana = [c for c in chars if "\u3040" <= c <= "\u30ff"]
    assume(len(set(kana)) >= 5)  # distinct floor is over CORE kana
    page = _word_page(chars)
    try:
        payload = page.encode("iso-2022-jp")
    except UnicodeEncodeError:
        assume(False)  # not every URO hanzi is JIS X 0208
    assert decode_payload(payload) == page
    assert extract_document(payload)["method"] == "html"


@settings(max_examples=150, deadline=None)
@given(st.lists(_HANZI_CHARS, min_size=20, max_size=80))
def test_undeclared_gbk_page_roundtrips_above_ambiguity_floor(chars):
    from pdf_extraction_spark.kernels.html_extract import decode_payload

    assume(len(set(chars)) >= 5)  # the probe's documented distinct floor
    page = _word_page(chars)
    try:
        payload = page.encode("gbk")
    except UnicodeEncodeError:
        assume(False)
    assert decode_payload(payload) == page


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=6),
    st.sampled_from("àâäåæçéèêëíìîïñóòôöøúùûüý"),
), min_size=3, max_size=40))
def test_cp1252_pages_with_isolated_accents_never_flip(pairs):
    """The documented no-flip guarantee: accented letters ISOLATED between
    ASCII letters (real Latin-script text) are invalid as lone CJK lead
    bytes, so such pages must always take the windows-1252 lane."""
    from pdf_extraction_spark.kernels.html_extract import decode_payload

    body = " ".join(a + c + a for a, c in pairs)
    page = f"<html><body><p>{body}</p></body></html>"
    payload = page.encode("latin-1")
    assert decode_payload(payload) == page


# -- TTF cmap build/parse inversion (round 5) ---------------------------------

_BMP_CPS = st.integers(0x0020, 0xD7FF)  # BMP scalar values below surrogates
_ASTRAL_CPS = st.integers(0x10000, 0x10FFF)


@settings(max_examples=150, deadline=None)
@given(st.dictionaries(_BMP_CPS, st.just(0), min_size=1, max_size=60),
       st.lists(_ASTRAL_CPS, max_size=4, unique=True))
def test_ttf_cmap_build_parse_inversion(bmp_cps, astral):
    """build_subset_ttf → parse_ttf_cmap is the identity on the mapping
    for ARBITRARY charsets (the fixed-string unit tests can't explore
    segment-boundary shapes: adjacent runs, singletons, 0xD7FF edges,
    astral spill into the format-12 subtable)."""
    from pdf_extraction_spark.kernels.pdf_fonts import (
        invert_ttf_cmap, parse_ttf_cmap)
    from pdf_extraction_spark.kernels.pdf_write import build_subset_ttf

    cps = sorted(set(bmp_cps) | set(astral))
    char_to_gid = {chr(cp): gid for gid, cp in enumerate(cps, start=1)}
    ttf = build_subset_ttf(char_to_gid)
    parsed = parse_ttf_cmap(ttf)
    assert parsed == {ord(ch): gid for ch, gid in char_to_gid.items()}
    inv = invert_ttf_cmap(parsed)
    for ch, gid in char_to_gid.items():
        assert inv[gid] == ch


@settings(max_examples=150, deadline=None)
@given(st.dictionaries(_BMP_CPS, st.just(0), min_size=1, max_size=20),
       st.binary(min_size=1, max_size=64), st.integers(0, 400))
def test_ttf_cmap_parse_total_on_spliced_garbage(bmp_cps, junk, pos):
    """Splicing junk into a valid font at any offset never raises and never
    fabricates mappings for glyphs outside the original gid range."""
    from pdf_extraction_spark.kernels.pdf_fonts import parse_ttf_cmap
    from pdf_extraction_spark.kernels.pdf_write import build_subset_ttf

    cps = sorted(bmp_cps)
    char_to_gid = {chr(cp): gid for gid, cp in enumerate(cps, start=1)}
    ttf = build_subset_ttf(char_to_gid)
    pos = min(pos, len(ttf))
    mutated = ttf[:pos] + junk + ttf[pos + len(junk):]
    out = parse_ttf_cmap(mutated)
    assert isinstance(out, dict)
    for cp, gid in out.items():
        assert isinstance(cp, int) and isinstance(gid, int)


def test_latin_pages_with_adjacent_punctuation_never_flip():
    """The flips the first structural gate missed (found by code review):
    an em-dash or curly quote directly against an accented letter creates
    an adjacent high-byte PAIR, but the page is still Latin-shaped — the
    veto counts letter-vs-ASCII adjacency, not byte pairs."""
    from pdf_extraction_spark.kernels.html_extract import decode_payload

    pages = [
        "<html><body><p>Müller Böhm Jürgen Köln Würde schöne Mädchen Tür —ältere</p></body></html>",
        "<html><body><p>“Böse” Müller—Köln für große—Änderung schön wäre Tür</p></body></html>",
    ]
    for page in pages:
        payload = page.encode("cp1252")
        assert decode_payload(payload) == page, page[:40]


# -- media container header parser: total + shape-stable on hostile bytes ----

_SIGS = [
    b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff", b"RIFF", b"GIF87a", b"GIF89a",
    b"\x00\x00\x00\x08ftyp", b"RIFF\x00\x00\x00\x00WEBP",
    b"RIFF\x00\x00\x00\x00WAVE",
]
_META_KEYS = {"fmt", "width", "height", "sample_rate", "channels", "duration_ms"}


@settings(max_examples=300, deadline=None)
@given(st.sampled_from(_SIGS), st.binary(max_size=2048))
def test_decode_container_total_on_garbage_after_signature(sig, tail):
    """decode_container is total on arbitrary bytes after every container
    signature it claims to handle: either ValueError (no signature — can't
    happen here) or a shape-stable dict, never any other exception. The
    multimodal operator catches only ValueError, so anything else would
    kill its whole Arrow batch."""
    from pdf_extraction_spark.kernels.containers import decode_container

    meta = decode_container(sig + tail)
    assert set(meta) == _META_KEYS
    assert isinstance(meta["fmt"], str)


@settings(max_examples=100, deadline=None)
@given(st.binary(max_size=2048))
def test_decode_container_garbage_raises_only_valueerror(data):
    from pdf_extraction_spark.kernels.containers import decode_container

    try:
        meta = decode_container(data)
    except ValueError:
        return
    assert set(meta) == _META_KEYS


def test_bmff_nested_trak_bomb_is_depth_capped():
    """Regression (r5 review): back-to-back nested 8-byte trak headers
    nested once per 8 payload bytes — unbounded recursion escaped as
    RecursionError past the operator's ValueError handler."""
    import struct as _s

    from pdf_extraction_spark.kernels.containers import decode_container

    nest = b""
    for _ in range(5000):
        nest = _s.pack(">I", len(nest) + 8) + b"trak" + nest
    meta = decode_container(_s.pack(">I", 8) + b"ftyp" + nest)
    assert set(meta) == _META_KEYS and meta["fmt"] == "corrupt"


# -- outlink resolution: total + normalized + idempotent on hostile hrefs ----

_URLISH = st.text(
    alphabet="abc:/?#[]@!$&'()*+,;=%. \t\n\\0123456789-_~é中",
    max_size=80,
)


@settings(max_examples=400, deadline=None)
@given(_URLISH, _URLISH)
def test_resolve_link_total_and_idempotent(base, href):
    """resolve_link never raises on hostile (base, href) pairs — it runs
    in-batch over crawled markup, where both come from untrusted pages —
    and its output is already-normalized: resolving a result against any
    base returns it unchanged (the frontier/url-dedup fixpoint)."""
    from pdf_extraction_spark.kernels.urlnorm import resolve_link

    out = resolve_link(base, href)
    if out is None:
        return
    assert out.startswith(("http://", "https://"))
    assert resolve_link("https://unrelated.example.com/x", out) == out


@settings(max_examples=200, deadline=None)
@given(_URLISH)
def test_resolve_link_total_on_hostile_href_with_real_base(href):
    from pdf_extraction_spark.kernels.urlnorm import resolve_link

    out = resolve_link("https://host.example.com/a/b?q=1", href)
    assert out is None or out.startswith(("http://", "https://"))


# -- embedded-font built-in encoding parsers (round-5 Type1/CFF lanes) ----------------

_GLYPH_NAMES = st.sampled_from(
    ["eacute", "germandbls", "oslash", "endash", "ellipsis", "AE", "oe",
     "uni0041", "uni20AC", "uniFB01", "u01F600", "space", "nosuchglyph"]
)
_REMAP_LISTS = st.lists(
    st.tuples(st.integers(128, 255), _GLYPH_NAMES),
    min_size=0, max_size=12, unique_by=lambda t: t[0],
)


@given(_REMAP_LISTS)
@settings(max_examples=40, deadline=None)
def test_type1_encoding_writer_parser_agree(entries):
    """Any synthesized cleartext /Encoding vector parses back to exactly
    the resolvable, non-identity subset of its entries."""
    from pdf_extraction_spark.kernels.pdf_fonts import (
        glyph_to_char, parse_type1_encoding)

    head = "\n".join(
        ["%!FontType1-1.0: P 001.001", "/FontName /P def",
         "/Encoding 256 array", "0 1 255 {1 index exch /.notdef put} for"]
        + ["dup %d /%s put" % (c, n) for c, n in entries]
        + ["readonly def", "currentfile eexec", ""]
    ).encode("ascii") + bytes(32) + b"cleartomark\n"
    expect = {}
    for c, n in entries:
        ch = glyph_to_char(n)
        if ch is not None and ch != chr(c):
            expect[c] = ch
    assert parse_type1_encoding(head) == expect


@given(_REMAP_LISTS)
@settings(max_examples=40, deadline=None)
def test_cff_encoding_writer_parser_agree(entries):
    from pdf_extraction_spark.kernels.pdf_fonts import (
        glyph_to_char, parse_cff_encoding)
    from pdf_extraction_spark.kernels.pdf_write import build_bare_cff

    expect = {}
    for c, n in entries:
        ch = glyph_to_char(n)
        if ch is not None and ch != chr(c):
            expect[c] = ch
    assert parse_cff_encoding(build_bare_cff(entries)) == expect


@given(st.binary(max_size=400))
@settings(max_examples=150, deadline=None)
def test_builtin_encoding_parsers_total(data):
    from pdf_extraction_spark.kernels.pdf_fonts import (
        parse_cff_encoding, parse_type1_encoding)

    assert isinstance(parse_type1_encoding(data), dict)
    assert isinstance(parse_cff_encoding(data), dict)
    assert isinstance(parse_cff_encoding(b"\x01\x00\x04\x02" + data), dict)


@given(_REMAP_LISTS)
@settings(max_examples=40, deadline=None)
def test_otf_cff_encoding_writer_parser_agree(entries):
    """build_otf_cff → sfnt_table('CFF ') → parse_cff_encoding is the
    identity on the resolvable, non-identity subset — the sfnt wrapper
    must be transparent to the CFF read path."""
    from pdf_extraction_spark.kernels.pdf_fonts import (
        glyph_to_char, parse_cff_encoding, sfnt_table)
    from pdf_extraction_spark.kernels.pdf_write import build_otf_cff

    expect = {}
    for c, n in entries:
        ch = glyph_to_char(n)
        if ch is not None and ch != chr(c):
            expect[c] = ch
    prog = build_otf_cff(entries)
    cff = sfnt_table(prog, b"CFF ")
    assert cff is not None
    assert parse_cff_encoding(cff) == expect


@given(_REMAP_LISTS, st.data())
@settings(max_examples=60, deadline=None)
def test_sfnt_table_total_on_bitflips(entries, data):
    """Single-byte corruption anywhere in an OTTO program must degrade
    (None or a byte slice), never raise — and the downstream CFF parse
    must stay total on whatever slice comes back."""
    from pdf_extraction_spark.kernels.pdf_fonts import (
        parse_cff_encoding, sfnt_table)
    from pdf_extraction_spark.kernels.pdf_write import build_otf_cff

    prog = bytearray(build_otf_cff(entries))
    i = data.draw(st.integers(0, len(prog) - 1))
    prog[i] ^= data.draw(st.integers(1, 255))
    tbl = sfnt_table(bytes(prog), b"CFF ")
    assert tbl is None or isinstance(tbl, bytes)
    if tbl is not None:
        assert isinstance(parse_cff_encoding(tbl), dict)


# only ~13k of the 21k URO hanzi are Big5-encodable; sample from the real
# pool so the encode step never filters (computed once at collection time)
_BIG5_HANZI = st.sampled_from([
    c for c in map(chr, range(0x4E00, 0x9FA6))
    if c.encode("big5hkscs", "ignore")
])


@settings(max_examples=150, deadline=None)
@given(st.lists(_BIG5_HANZI, min_size=20, max_size=80))
def test_undeclared_big5_page_roundtrips_when_big5_shaped(chars):
    """Undeclared Big5 (zh-TW) pages whose byte stream shows the Big5
    low-trail shape must decode back byte-identically — the shape check
    orders big5hkscs before gbk, which would otherwise strict-decode the
    same bytes into plausible hanzi mojibake. Pages WITHOUT the shape are
    the documented residual and are excluded by assumption, not hidden."""
    from pdf_extraction_spark.kernels.html_extract import (
        _big5_shaped, decode_payload)

    assume(len(set(chars)) >= 5)
    page = _word_page(chars)
    try:
        payload = page.encode("big5hkscs")
    except UnicodeEncodeError:
        assume(False)
    assume(_big5_shaped(payload))
    assert decode_payload(payload) == page


def test_big5_vs_gbk_probe_separation():
    """A realistic traditional-Chinese page probes as big5hkscs and a
    simplified one as gbk — same hanzi gates, byte shape decides."""
    from pdf_extraction_spark.kernels.html_extract import (
        _big5_shaped, _probe_cjk)

    zh_tw = ("資料分析擷取文件表格圖片數學公式標題段落清單，"
             "網頁內容抽取系統的品質評估與測試。繁體中文頁面必須正確解碼。")
    zh_cn = ("数据分析抽取文档表格图片数学公式标题段落列表，"
             "网页内容抽取系统的质量评估与测试。简体中文页面必须正确解码。")
    for txt, codec, shaped in ((zh_tw, "big5hkscs", True), (zh_cn, "gbk", False)):
        payload = f"<html><body><p>{txt}</p></body></html>".encode(codec)
        assert _big5_shaped(payload) is shaped
        got = _probe_cjk(payload)
        assert got is not None and got[0] == codec
        assert txt in got[1]


@settings(max_examples=150, deadline=None)
@given(st.data())
def test_gbk_glossary_pages_with_latin_words_stay_gbk(data):
    """Review-confirmed misroute: at a hanzi-run → ASCII-word boundary the
    GB trail byte reads as a phantom Big5 'lead', so a GB2312-zone
    glossary page ('议告matrix…') counted as Big5-shaped — and mojibaked
    whenever the big5 strict decode happened to succeed. The phantom
    subtraction must keep such pages on the gbk rung AND byte-identical."""
    from pdf_extraction_spark.kernels.html_extract import (
        _big5_shaped, decode_payload)

    # GB2312-zone hanzi whose GBK bytes do NOT read as Hangul under cp949
    # — at the probe's 8-core floor a repetitious page of hangul-image
    # chars ('丁' → '땀') is GENUINELY ambiguous with Korean (documented
    # floor tail); this property targets the phantom-Big5 misroute, so it
    # pins the unambiguous majority. Identical-byte hanzi (乙 D2D2 …) are
    # likewise excluded: isolated between ASCII words their byte shape is
    # EXACTLY a doubled Latin vowel ("ää" E4E4), a documented ambiguous
    # tail the latin veto must keep on the cp1252 lane
    pool = [c for c in map(chr, range(0x4E00, 0x9FA6))
            if c.encode("gb2312", "ignore")
            and c.encode("gbk")[0] != c.encode("gbk")[1]
            and not any("가" <= k <= "힣"
                        for k in c.encode("gbk").decode("cp949", "ignore"))]
    words = ("reduce", "matrix", "buffer", "api", "tokens", "map")
    parts, used = [], []
    for _ in range(data.draw(st.integers(10, 25))):
        run = "".join(data.draw(st.sampled_from(pool))
                      for _ in range(data.draw(st.integers(1, 3))))
        used.extend(run)
        parts.append(run + data.draw(st.sampled_from(words)))
    # stay inside the probe's own documented floors (>=8 core hanzi,
    # >=5 distinct) — below them every candidate rejects by design
    assume(len(used) >= 8 and len(set(used)) >= 5)
    page = "<html><body><p>" + "".join(parts) + "</p></body></html>"
    payload = page.encode("gbk")
    try:  # a GBK stream can coincidentally be valid UTF-8 (e.g. repeated
        payload.decode("utf-8")  # D2 BB = 'һ'); the strict-UTF-8 tier
        assume(False)  # legitimately wins there — outside the probe's domain
    except UnicodeDecodeError:
        pass
    assert not _big5_shaped(payload)
    assert decode_payload(payload) == page


# -- round-5 continuation review-fix properties -------------------------------

_WORDS = st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=2, max_size=9),
    min_size=12, max_size=40,
)


@settings(max_examples=150, deadline=None)
@given(_WORDS, st.booleans(), st.booleans())
def test_omitted_head_close_parity(words, close_head, with_title):
    """Extraction is INVARIANT to whether </head> is present (the spec
    makes it optional): same body ⇒ byte-identical text and spans."""
    from pdf_extraction_spark.kernels.html_extract import extract_html

    body = "<p>" + " ".join(words) + "</p>"
    head = "<meta charset='utf-8'>" + ("<title>T</title>" if with_title else "")
    page = ("<html><head>" + head + ("</head>" if close_head else "")
            + "<body>" + body + "</body></html>")
    closed = ("<html><head>" + head + "</head><body>" + body
              + "</body></html>")
    got = extract_html(page.encode())
    want = extract_html(closed.encode())
    assert got["text"] == want["text"]
    assert got["spans"] == want["spans"]


@settings(max_examples=150, deadline=None)
@given(_WORDS, _WORDS)
def test_chrome_fallback_exclusivity(main_words, chrome_words):
    """Chrome text NEVER leaks into a page that has real content, and the
    all-chrome fallback only fires when nothing else survives."""
    from pdf_extraction_spark.kernels.html_extract import extract_html

    # The exclusivity claim is only meaningful when the chrome string is
    # not literally contained in the main text (identical word lists make
    # the "leak" assertion unsatisfiable by construction, not by a bug).
    assume(" ".join(chrome_words) not in " ".join(main_words))
    main_p = "<p>" + " ".join(main_words) + "</p>"
    chrome = "<footer><p>" + " ".join(chrome_words) + "</p></footer>"
    with_main = extract_html(
        ("<html><body>" + chrome + main_p + "</body></html>").encode())
    assert " ".join(chrome_words) not in with_main["text"]
    assert " ".join(main_words) in with_main["text"]
    only_chrome = extract_html(
        ("<html><body>" + chrome + "</body></html>").encode())
    if only_chrome["text"]:
        assert " ".join(chrome_words) in only_chrome["text"]
        assert {s[0] for s in only_chrome["spans"]} == {"footer"}


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 3)),
                min_size=1, max_size=4, unique=True))
def test_grid_regions_one_per_disjoint_grid(cells):
    """Disjoint complete grids on one page yield EXACTLY one region per
    grid, each region containing its own grid's bbox and no other's."""
    from pdf_extraction_spark.kernels.pdf_extract import _grid_regions

    hl, vl, boxes = [], [], []
    for gx, gy in cells:  # grid cell (gx, gy) on a 4x4 page lattice
        x0, y0 = 40 + 140 * gx, 40 + 190 * gy
        hl += [(x0, y0 + 30 * i, x0 + 100, y0 + 30 * i) for i in range(3)]
        vl += [(x0 + 50 * j, y0, x0 + 50 * j, y0 + 60) for j in range(3)]
        boxes.append((x0, y0, x0 + 100, y0 + 60))
    regs = _grid_regions(hl, vl)
    assert len(regs) == len(boxes)
    for bx0, by0, bx1, by1 in boxes:
        inside = [r for r in regs
                  if r[0] <= bx0 and r[1] <= by0 and r[2] >= bx1 and r[3] >= by1]
        assert len(inside) == 1
        r = inside[0]
        assert (r[0], r[1], r[2], r[3]) == (bx0, by0, bx1, by1)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=4000).map(
    lambda b: bytes(ch % 12 + 97 for ch in b)))
def test_lzw_reference_encoder_parity(data):
    """_lzw_decode inverts a reference PDF/TIFF-convention encoder for
    arbitrary low-alphabet payloads (the shape that grows the string
    table fastest across width boundaries)."""
    from pdf_extraction_spark.kernels.pdf_extract import _lzw_decode
    from test_pdf_kernel import _lzw_encode_ref

    assert _lzw_decode(_lzw_encode_ref(data), 1, 1 << 20) == data


@settings(max_examples=150, deadline=None)
@given(st.lists(st.sampled_from(["<a href='/u'>", "<a>", "</a>", "w "]),
                min_size=1, max_size=30))
def test_anchor_soup_total_and_href_complete(parts):
    """Arbitrary anchor nesting soup: extraction never raises, every
    recorded link carries a real href, and anchor text never vanishes
    into a bare-anchor sentinel at top level."""
    from pdf_extraction_spark.kernels.html_extract import extract_html

    page = "<html><body><p>" + "".join(parts) + "tail words</p></body></html>"
    r = extract_html(page.encode())
    assert r["error"] is None
    assert all(l["href"] for l in r["links"])
