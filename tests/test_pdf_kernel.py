"""Unit + property tests for the pure PDF writer/parser pair."""

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from pdf_extraction_spark.kernels.pdf_extract import (
    _INLINE_EI,
    _NUM_RUN,
    _Budget,
    _Lexer,
    _Ref,
    extract_pdf,
)
from pdf_extraction_spark.kernels.pdf_write import build_pdf, build_truncated_pdf, wrap_words

TEXT = (
    "the fast key order sort table scan merge part window small hash scan join "
    "order batch batch batch stream spark window window dup " * 6
).strip()


def test_single_column_roundtrip():
    r = extract_pdf(build_pdf(TEXT))
    assert r["text"] == TEXT
    assert r["error"] is None
    assert [s[0] for s in r["spans"]] == ["paragraph"]


def test_title_classified():
    r = extract_pdf(build_pdf(TEXT, title="My Grand Title"))
    assert r["text"] == "My Grand Title\n\n" + TEXT
    assert r["spans"][0][0] == "title"


def test_two_column_reading_order():
    r = extract_pdf(build_pdf(TEXT, columns=2))
    assert r["text"] == TEXT


def test_flate_and_xref_stream():
    r = extract_pdf(build_pdf(TEXT, compress=True, xref_stream=True))
    assert r["text"] == TEXT
    assert r["error"] is None


def test_multipage_roundtrip():
    long = ("alpha beta gamma delta epsilon zeta eta theta " * 200).strip()
    r = extract_pdf(build_pdf(long))
    assert r["text"] == long


def test_grid_table_detected():
    rows = [["name", "value"], ["alpha", "one"], ["beta", "two"]]
    r = extract_pdf(build_pdf("", table_rows=rows))
    assert all(s[0] == "table" for s in r["spans"])
    assert r["text"] == "name value\n\nalpha one\n\nbeta two"


def test_truncated_degrades():
    r = extract_pdf(build_truncated_pdf(TEXT))
    assert isinstance(r["text"], str)  # no crash; partial output allowed


def test_span_offsets_and_bbox():
    r = extract_pdf(build_pdf(TEXT, title="T Heading Line"))
    for (elem, page, s, e, bbox, conf, level, parent) in r["spans"]:
        assert r["text"][s:e]
        assert len(bbox) == 4
        assert all(0.0 <= v <= 1.0 for v in bbox)


def test_wrap_words_rejoin_identity():
    for width in (10, 34, 60, 200):
        assert " ".join(wrap_words(TEXT, width)) == TEXT


@given(st.binary(max_size=3000))
@settings(max_examples=100, deadline=None)
def test_totality_random_bytes(payload):
    r = extract_pdf(b"%PDF-1.5\n" + payload)
    assert isinstance(r["text"], str)


@given(
    st.lists(
        st.text(alphabet="abcdefghij ()\\", min_size=1, max_size=12).map(str.strip).filter(bool),
        min_size=1,
        max_size=120,
    ),
    st.sampled_from([1, 2]),
    st.booleans(),
    st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_roundtrip_property(words, columns, compress, xref_stream):
    text = " ".join(words)
    pdf = build_pdf(text, columns=columns, compress=compress, xref_stream=xref_stream)
    r = extract_pdf(pdf)
    assert r["text"] == text


def test_full_taxonomy_fixture():
    """Header/footer bands, figure XObject, caption proximity, bullet list —
    the element classes VERDICT r1 flagged as missing from the PDF side
    (reference ElementType enum, advanced_layout_extractor.py:52-63)."""
    from pdf_extraction_spark.kernels import pdf_extract, pdf_write

    body = "the quick brown fox jumps over the lazy dog " * 20
    pdf = build_pdf(
        body.strip(), title="Grand Title", header="Running Header",
        footer="Page 1 of 1", figure=True,
        caption="Figure 1: deterministic caption",
        list_items=["first item", "second item"],
    )
    r = pdf_extract.extract_pdf(pdf)
    kinds = [s[0] for s in r["spans"]]
    assert kinds == [
        "header", "title", "paragraph", "list", "list",
        "footer", "caption", "figure",
    ]
    texts = {s[0]: r["text"][s[2]:s[3]] for s in r["spans"]}
    assert texts["header"] == "Running Header"
    assert texts["footer"] == "Page 1 of 1"
    assert texts["caption"] == "Figure 1: deterministic caption"
    assert texts["figure"] == "[figure]"
    assert texts["list"].startswith("• ")


def test_hierarchy_tree():
    """Title-containment hierarchy: body under title, caption under its
    figure (fills the reference's _build_hierarchy stub,
    advanced_layout_extractor.py:540-554)."""
    from pdf_extraction_spark.kernels import pdf_extract, pdf_write

    body = "plain body words repeated for wrapping purposes " * 10
    pdf = build_pdf(
        body.strip(), title="Grand Title", header="Hdr", footer="Ftr",
        figure=True, caption="Figure 1: cap",
    )
    r = pdf_extract.extract_pdf(pdf)
    by_kind = {s[0]: s for s in r["spans"]}
    title_idx = r["spans"].index(by_kind["title"])
    fig_idx = r["spans"].index(by_kind["figure"])
    assert by_kind["header"][6:] == (0, -1)
    assert by_kind["footer"][6:] == (0, -1)
    assert by_kind["title"][6:] == (0, -1)
    assert by_kind["paragraph"][6:] == (1, title_idx)
    assert by_kind["figure"][6:] == (1, title_idx)
    assert by_kind["caption"][6:] == (2, fig_idx)


def test_table_cell_grid():
    """Grid decomposition into row/col cells with per-cell text
    (pdf_vector_utils.py:169-192 intersections + 138-149 regularity —
    the reference never emitted cells; VERDICT r1 item 6)."""
    from pdf_extraction_spark.kernels import pdf_extract, pdf_write

    rows = [["name", "qty", "price"], ["apple", "3", "1.50"], ["pear", "7", "2.25"]]
    pdf = build_pdf("", table_rows=rows)
    tables = pdf_extract.extract_table_cells(pdf)
    assert len(tables) == 1
    t = tables[0]
    assert (t["n_rows"], t["n_cols"]) == (3, 3)
    assert t["regularity"] == 1.0
    got = {(c["row"], c["col"]): c["text"] for c in t["cells"]}
    for ri, row in enumerate(rows):
        for ci, cell in enumerate(row):
            assert got[(ri, ci)] == cell
    # totality: garbage yields [] not an exception
    assert pdf_extract.extract_table_cells(b"not a pdf") == []


def test_confidence_margin_math():
    """Per-element confidence margins (reference LayoutElement.confidence,
    advanced_layout_extractor.py:65-79): size-ratio margin for titles
    anchored at the reference's 0.85 for the standard 1.8 ratio; grid
    margin from intersections + spacing regularity; per-path constants
    elsewhere."""
    from pdf_extraction_spark.kernels.pdf_extract import (
        _grid_confidence, _title_confidence, _KIND_CONFIDENCE)

    assert _title_confidence(18.0, 10.0) == 0.85   # writer standard ratio
    assert _title_confidence(12.0, 10.0) == 0.70   # exactly at the 1.2 gate
    assert _title_confidence(24.0, 10.0) == 0.95   # capped
    assert _title_confidence(12.0, 10.0) < _title_confidence(15.0, 10.0) \
        < _title_confidence(18.0, 10.0)            # monotone in the margin
    # minimal 2x2-line regular grid: 4 intersections, regularity 1 -> 0.75,
    # below the 0.8 solo-admission gate (needs cross-validation)
    hl = [(0, 0, 10, 0), (0, 10, 10, 10)]
    vl = [(0, 0, 0, 10), (10, 0, 10, 10)]
    assert _grid_confidence(hl, vl) == 0.75
    # a richer grid scores higher
    hl3 = [(0, y, 10, y) for y in (0, 5, 10)]
    vl3 = [(x, 0, x, 10) for x in (0, 5, 10)]
    assert _grid_confidence(hl3, vl3) > 0.75
    # irregular spacing scores below the regular grid of the same size
    hl_irr = [(0, y, 10, y) for y in (0, 2, 10)]
    assert _grid_confidence(hl_irr, vl3) < _grid_confidence(hl3, vl3)
    assert _KIND_CONFIDENCE["paragraph"] == 0.9    # reference :350
    assert _KIND_CONFIDENCE["figure"] == 0.7       # reference :383


def test_confidence_on_spans():
    from pdf_extraction_spark.kernels import pdf_extract, pdf_write
    from pdf_extraction_spark.kernels.html_extract import extract_html

    r = pdf_extract.extract_pdf(build_pdf(TEXT, title="Grand Title"))
    confs = {s[0]: s[5] for s in r["spans"]}
    assert confs == {"title": 0.85, "paragraph": 0.9}
    # HTML: link-density margin — a heading with no links scores 0.95, a
    # paragraph with anchors scores below the link-free 0.9
    h = extract_html(
        "<main><h1>Clean Title</h1>"
        "<p>plain paragraph with enough words to be kept around here</p>"
        "<p>linked paragraph with enough words <a href=x>anchor text</a>"
        " to be kept</p></main>")
    confs = [s[5] for s in h["spans"]]
    assert confs[0] == 0.95
    assert confs[1] == 0.9
    assert confs[2] < 0.9


def test_caption_requires_proximity():
    """The caption pattern alone must NOT reclassify prose: no grid or
    figure nearby -> stays a paragraph (reference requires geometric
    proximity, table_figure_classifier.py:155-192)."""
    from pdf_extraction_spark.kernels import pdf_extract, pdf_write

    body = "Figure 1 shows nothing because there is no figure in this document at all"
    pdf = build_pdf(body)
    r = pdf_extract.extract_pdf(pdf)
    assert [s[0] for s in r["spans"]] == ["paragraph"]
    assert r["text"] == body


def test_equation_and_reference_classes():
    """The remaining two ElementType classes (advanced_layout_extractor.py:
    52-63): short '='+operator lines -> equation; bracketed-number
    bibliography lines -> reference."""
    from pdf_extraction_spark.kernels import pdf_extract, pdf_write

    body = "introductory prose words that wrap across a couple of lines here " * 2
    pdf = build_pdf(
        body.strip(), title="T",
        equations=["E = m*c^2", "a^2 + b^2 = c^2"],
        references=["Author A, Paper One, 2020", "Author B, Paper Two, 2021"],
    )
    r = pdf_extract.extract_pdf(pdf)
    kinds = [s[0] for s in r["spans"]]
    assert kinds.count("equation") == 2
    assert kinds.count("reference") == 2
    texts = [r["text"][s[2]:s[3]] for s in r["spans"] if s[0] == "reference"]
    assert texts == ["[1] Author A, Paper One, 2020", "[2] Author B, Paper Two, 2021"]
    eqs = [r["text"][s[2]:s[3]] for s in r["spans"] if s[0] == "equation"]
    assert eqs == ["E = m*c^2", "a^2 + b^2 = c^2"]
    # all ten reference classes are now emittable by the kernels
    from pdf_extraction_spark.kernels.html_extract import ELEMENT_TYPES
    emitted = {"title", "paragraph", "table", "figure", "header", "footer",
               "caption", "list", "equation", "reference"}
    assert emitted == set(ELEMENT_TYPES)


def test_objstm_packed_pdf_extracts_identically():
    """PDF 1.5 object streams: a document whose catalog/page tree/page
    dicts live compressed inside a /Type /ObjStm container (the layout most
    modern producers emit) must extract byte-identically to the same
    document written with regular objects."""
    from pdf_extraction_spark.kernels.pdf_write import build_pdf

    text = "omega psi chi phi upsilon tau sigma rho pi omicron " * 6
    for kwargs in ({}, {"compress": True}, {"columns": 2},
                   {"figure": True, "caption": "Figure 1: packed"},
                   {"header": "Hdr", "footer": "Ftr"}):
        base = extract_pdf(build_pdf(text, title="Packed", **kwargs))
        packed = extract_pdf(build_pdf(text, title="Packed", objstm=True, **kwargs))
        assert packed["error"] is None
        assert packed["text"] == base["text"]
        assert [s[0] for s in packed["spans"]] == [s[0] for s in base["spans"]]


def test_objstm_corrupt_container_degrades():
    """A corrupted ObjStm container must degrade (scan fallback / error
    fields), never raise."""
    from pdf_extraction_spark.kernels.pdf_write import build_pdf

    data = bytearray(build_pdf("resilience check text here", objstm=True))
    i = data.find(b"/Type /ObjStm")
    j = data.find(b"stream\n", i) + 7
    data[j : j + 8] = b"\x00" * 8  # clobber the Flate payload head
    r = extract_pdf(bytes(data))
    assert isinstance(r["text"], str)  # total, no crash


def test_stream_filters_roundtrip():
    """ASCIIHex / ASCII85 / RunLength / LZW / Flate+PNG-predictor payloads
    all decode to the original bytes through _decode_stream."""
    import zlib

    from pdf_extraction_spark.kernels.pdf_extract import (
        _decode_stream,
        _lzw_decode,
        _png_unpredict,
    )

    plain = b"BT /F1 12 Tf 72 700 Td (filter roundtrip) Tj ET " * 4

    import base64
    hexed = plain.hex().encode() + b">"
    def decode(sdict, data):
        return _decode_stream(sdict, data, None, _Budget())

    assert decode({"Filter": "ASCIIHexDecode"}, hexed) == plain
    a85 = base64.a85encode(plain, adobe=True)
    assert decode({"Filter": "ASCII85Decode"}, a85) == plain

    # RunLength: literal-run encoding (chunks of <=128 literal bytes)
    rl = bytearray()
    for i in range(0, len(plain), 120):
        chunk = plain[i : i + 120]
        rl += bytes([len(chunk) - 1]) + chunk
    rl.append(128)
    assert decode({"Filter": "RunLengthDecode"}, bytes(rl)) == plain
    # RunLength: repeat runs
    assert decode({"Filter": "RunLengthDecode"}, b"\xfeZ\x80") == b"ZZZ"

    # LZW: minimal encoder (emits 9-bit codes, table never grows past 511)
    def lzw_encode(data: bytes) -> bytes:
        out, acc, nbits = bytearray(), 0, 0

        def emit(code, width=9):
            nonlocal acc, nbits
            acc = (acc << width) | code
            nbits += width
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8

        emit(256)
        for b in data[:200]:  # keep table under 253 new entries: width stays 9
            emit(b)
            emit(256)  # clear after every byte — inefficient but valid LZW
        emit(257)
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        return bytes(out)

    assert _lzw_decode(lzw_encode(plain), 1, 1 << 20) == plain[:200]

    # Flate + PNG Up predictor (the layout real xref streams use)
    columns, rows = 7, 9
    raw = bytes((r * 31 + c * 17) % 251 for r in range(rows) for c in range(columns))
    filtered = bytearray()
    prev = bytes(columns)
    for r in range(rows):
        row = raw[r * columns : (r + 1) * columns]
        filtered.append(2)  # Up
        filtered += bytes((row[i] - prev[i]) & 0xFF for i in range(columns))
        prev = row
    enc = zlib.compress(bytes(filtered))
    got = decode(
        {"Filter": "FlateDecode", "DecodeParms": {"Predictor": 12, "Columns": columns}},
        enc,
    )
    assert got == raw
    # direct predictor sanity for Sub/Paeth paths
    assert _png_unpredict(b"\x01\x05\x03", 1, 8, 2) == b"\x05\x08"


def test_encrypted_pdf_degrades_explicitly():
    """/Encrypt in the trailer -> error='encrypted', no ciphertext emitted."""
    from pdf_extraction_spark.kernels.pdf_write import build_pdf

    data = build_pdf("secret words that must not leak as garbage")
    # splice an /Encrypt entry into the classic trailer dict
    data = data.replace(b"trailer\n<< ", b"trailer\n<< /Encrypt 99 0 R ")
    r = extract_pdf(data)
    assert r["error"] == "encrypted"
    assert r["text"] == "" and r["n_elements"] == 0


def test_inline_image_binary_is_skipped():
    """BI..ID..EI inline images embed raw binary mid-content-stream; the
    interpreter must skip to EI, not tokenize the binary (which can contain
    '(..) Tj'-shaped bytes that would emit garbage text runs)."""
    from pdf_extraction_spark.kernels.pdf_extract import _interpret_content

    content = (
        b"BT /F1 12 Tf 72 700 Td (before) Tj ET\n"
        b"BI /W 4 /H 4 /BPC 8 /CS /G ID \xff(evil) Tj\x00\x01garbage\xfe EI\n"
        b"BT /F1 12 Tf 72 680 Td (after) Tj ET"
    )
    runs, hl, vl, rects, images = _interpret_content(content, budget=_Budget())
    texts = [r[3] for r in runs]
    assert "before" in texts and "after" in texts
    assert not any("evil" in t for t in texts)

    # EI missing entirely: skip to end, never hang or raise
    runs2, *_ = _interpret_content(
        b"BT (ok) Tj ET BI /W 1 ID \xff\xfe no end", budget=_Budget()
    )
    assert [r[3] for r in runs2] == ["ok"]


def test_text_string_encodings():
    """PDF text strings: UTF-16BE/LE by BOM, UTF-8, and Latin-1 fallback
    all decode to the intended characters."""
    from pdf_extraction_spark.kernels.pdf_extract import _interpret_content

    cases = [
        (b"(\xfe\xff\x00H\x00i\x00 \x26\x3a)", "Hi ☺"),       # UTF-16BE + BMP char
        (b"(\xff\xfeH\x00i\x00)", "Hi"),                            # UTF-16LE
        (b"(caf\xc3\xa9)", "café"),                            # UTF-8
        (b"(caf\xe9)", "café"),                                # Latin-1 fallback
        (b"<48656C6C6F>", "Hello"),                                 # hex string
    ]
    for raw, want in cases:
        runs, *_ = _interpret_content(
            b"BT /F1 12 Tf 72 700 Td " + raw + b" Tj ET", budget=_Budget()
        )
        assert [r[3] for r in runs] == [want], (raw, runs)


# -- font-encoding decoding (VERDICT r2 item 1) ---------------------------------------


def test_tounicode_cmap():
    """Identity-H subset-font emulation: Tj strings are 2-byte glyph codes in
    hex; only the /ToUnicode CMap (bfchar + bfrange) maps them back. The
    roundtrip must be byte-identical — without CMap decoding this extracts
    garbage (the top real-world failure vs the reference's PyMuPDF path)."""
    text = "Subset fonts carry glyph codes, not characters — Zürich naïveté!"
    pdf = build_pdf(text, title="CMap Tïtle", encoding="type0")
    # the payload must not contain the body text in the clear
    assert b"Subset fonts" not in pdf
    out = extract_pdf(pdf)
    assert out["error"] is None
    assert out["text"] == "CMap Tïtle\n\n" + text


def test_tounicode_cmap_compressed_objstm():
    text = "Flate compressed content with a compressed CMap font."
    pdf = build_pdf(
        text, compress=True, xref_stream=True, objstm=True, encoding="type0"
    )
    out = extract_pdf(pdf)
    assert out["error"] is None
    assert out["text"] == text


def test_differences_encoding():
    """/Encoding /Differences: letters remapped to codes >= 128 under AGL
    glyph names (incl. a uniXXXX name); bytes are meaningless without the
    map."""
    text = "Ostentatious sentences test the toasted state. Àpropos: échantillon!"
    pdf = build_pdf(text, title="A Difference", encoding="differences")
    assert b"Ostentatious" not in pdf  # 'a','e','o','s','t','A' are remapped
    out = extract_pdf(pdf)
    assert out["error"] is None
    assert out["text"] == "A Difference\n\n" + text


def test_type0_table_cells_decode():
    from pdf_extraction_spark.kernels.pdf_extract import extract_table_cells

    rows = [["naïve", "déjà"], ["söße", "straße"]]
    pdf = build_pdf("", table_rows=rows, encoding="type0")
    tables = extract_table_cells(pdf)
    assert len(tables) == 1
    got = {(c["row"], c["col"]): c["text"] for c in tables[0]["cells"]}
    assert got == {(0, 0): "naïve", (0, 1): "déjà", (1, 0): "söße", (1, 1): "straße"}


def test_unknown_2byte_codes_become_replacement():
    """A Type0 string with codes missing from the CMap must yield U+FFFD,
    never raw code bytes masquerading as text."""
    from pdf_extraction_spark.kernels.pdf_fonts import FontDecoder

    dec = FontDecoder(2, {1: "A"})
    assert dec.decode(b"\x00\x01\x00\x99") == "A�"
    assert dec.decode(b"\x00\x01\x7f") == "A"  # odd trailing byte dropped


def test_differences_falls_back_to_type0_on_rich_charset():
    """>117 distinct non-ASCII chars cannot fit a 128-code /Differences
    remap; the writer must fall back to the Type0 layout, and the parser
    must still roundtrip byte-identically."""
    text = " ".join(chr(0xAC00 + i) for i in range(200))
    pdf = build_pdf(text, encoding="differences")
    out = extract_pdf(pdf)
    assert out["error"] is None and out["text"] == text


def test_tj_kerning_word_gaps_roundtrip():
    """Kerned-word layout (word gaps as negative TJ offsets, no space
    glyphs anywhere) roundtrips byte-identically across every encoding,
    column count, and the encrypted variant."""
    text = ("kerning exercises word gap reconstruction without space glyphs "
            * 5).strip() + " — naïve café"
    for encoding in ("simple", "type0", "differences"):
        for columns in (1, 2):
            for title in (None, "Kerned Title"):
                pdf = build_pdf(text, columns=columns, title=title,
                                encoding=encoding, tj_kerning=True)
                out = extract_pdf(pdf)
                want = text if title is None else title + "\n\n" + text
                assert out["error"] is None
                assert out["text"] == want
    enc = extract_pdf(build_pdf(text, encoding="type0", compress=True,
                                encrypt="aes-128", tj_kerning=True))
    assert enc["error"] is None and enc["text"] == text


def test_tj_kern_threshold_separates_kerning_from_word_gaps():
    """Micro-kerns (|v| < KERN_SPACE_TJ) must NOT become spaces; word-gap
    kerns must become exactly one space each."""
    from pdf_extraction_spark.kernels.pdf_extract import (
        KERN_SPACE_TJ,
        _interpret_content,
    )

    runs, *_ = _interpret_content(
        b"BT /F1 10 Tf 72 700 Td [(Hel) -30 (lo) -300 (world) -179.9 (!)] TJ ET",
        budget=_Budget(),
    )
    assert runs[0][3] == "Hello world!"
    runs, *_ = _interpret_content(
        b"BT /F1 10 Tf 72 700 Td [(a) %d (b) %d (c)] TJ ET"
        % (-int(KERN_SPACE_TJ), -1000),
        budget=_Budget(),
    )
    assert runs[0][3] == "a b c"


def test_rotated_pages_extract_identically():
    """/Rotate 90/180/270 pages (content in the rotated frame, inheritable
    /Rotate + /MediaBox on the Pages node) must extract byte-identically to
    the unrotated document, across layouts and encodings."""
    text = ("rotated page reading order reconstruction check " * 8).strip()
    for rot in (90, 180, 270):
        for kwargs in ({}, {"columns": 2}, {"tj_kerning": True},
                       {"compress": True, "encoding": "type0"},
                       {"header": "Hdr", "footer": "Ftr"}):
            base = extract_pdf(build_pdf(text, title="Rotated", **kwargs))
            rotd = extract_pdf(build_pdf(text, title="Rotated", rotate=rot, **kwargs))
            assert rotd["error"] is None
            assert rotd["text"] == base["text"]
            assert [s[0] for s in rotd["spans"]] == [s[0] for s in base["spans"]]


def test_rotated_table_grid_detection():
    """Grid detection and cell assignment survive rotation: the ruled lines
    swap h/v under 90/270 and the cells come back in the same row-major
    order."""
    from pdf_extraction_spark.kernels.pdf_extract import extract_table_cells

    rows = [["name", "value"], ["alpha", "one"], ["beta", "two"]]
    base = extract_table_cells(build_pdf("", table_rows=rows))
    for rot in (90, 180, 270):
        got = extract_table_cells(build_pdf("", table_rows=rows, rotate=rot))
        assert got and got[0]["n_rows"] == base[0]["n_rows"]
        assert got[0]["n_cols"] == base[0]["n_cols"]
        assert got[0]["cells"] == base[0]["cells"]


def test_form_xobject_extracts_identically():
    """Pages whose painting lives in a /Subtype /Form XObject (one-op
    ``/Fx1 Do`` contents, /Matrix-placed local frame, own /Resources) must
    extract byte-identically to the plain build, composed with layouts,
    encodings, rotation, encryption, and ObjStm packing."""
    text = ("form xobject placement with nested resources check " * 10).strip()
    for kwargs in ({}, {"columns": 2}, {"tj_kerning": True},
                   {"compress": True, "encoding": "type0"},
                   {"figure": True, "caption": "Fig. 1 nearby"},
                   {"rotate": 90}, {"encrypt": "aes-128", "compress": True},
                   {"xref_stream": True, "objstm": True}):
        base = extract_pdf(build_pdf(text, title="FormDoc", **kwargs))
        got = extract_pdf(build_pdf(text, title="FormDoc", form_xobject=True,
                                    **kwargs))
        assert got["error"] is None
        assert got["text"] == base["text"]
        assert [s[0] for s in got["spans"]] == [s[0] for s in base["spans"]]


def test_form_xobject_table_grid():
    """Ruled-grid detection sees path geometry drawn inside a form: the
    /Matrix must be composed into m/l/re points."""
    from pdf_extraction_spark.kernels.pdf_extract import extract_table_cells

    rows = [["name", "value"], ["alpha", "one"], ["beta", "two"]]
    base = extract_table_cells(build_pdf("", table_rows=rows))
    for kw in ({"form_xobject": True}, {"form_xobject": True, "rotate": 90}):
        got = extract_table_cells(build_pdf("", table_rows=rows, **kw))
        assert got and got[0]["cells"] == base[0]["cells"]


def test_form_without_resources_inherits_page_context():
    """A form that omits /Resources runs against the invoking context's
    image names and fonts (PDF spec inheritance)."""
    from pdf_extraction_spark.kernels.pdf_extract import _interpret_content

    forms = {"Fx": {"content": b"BT /F1 10 Tf 5 5 Td (in) Tj ET q 4 0 0 4 0 0 cm /Im1 Do Q",
                    "matrix": (1.0, 0.0, 0.0, 1.0, 100.0, 200.0),
                    "image_names": None, "fonts": None, "forms": None}}
    runs, _hl, _vl, _re, images = _interpret_content(
        b"/Fx Do", image_names=frozenset({"Im1"}), forms=forms,
        budget=_Budget())
    assert [r[:4] for r in runs] == [(105.0, 205.0, 10.0, "in")]
    assert images == [(100.0, 200.0, 104.0, 204.0, "Im1")]


def test_form_self_reference_terminates():
    """A form invoking itself must hit the depth guard, not recurse forever."""
    from pdf_extraction_spark.kernels.pdf_extract import (
        _FORM_MAX_DEPTH,
        _interpret_content,
    )

    forms = {"F": {"content": b"/F Do BT /F1 10 Tf 0 0 Td (x) Tj ET",
                   "matrix": None, "image_names": None, "fonts": None,
                   "forms": None}}
    runs, *_ = _interpret_content(b"/F Do", forms=forms, budget=_Budget())
    assert len(runs) == _FORM_MAX_DEPTH


def test_split_runs_extract_identically():
    """Split-run pages (fragments flowing by glyph metrics inside one BT,
    plus a fragment positioned absolutely at the writer-computed metric
    offset, with Tc/Tw mixed in) must extract byte-identically to the plain
    build across encodings, rotation, forms, and encryption."""
    text = ("metric advance split run reassembly with character and word "
            "spacing checks in every layout " * 6).strip()
    for kwargs in ({}, {"columns": 2}, {"encoding": "type0", "compress": True},
                   {"encoding": "differences"}, {"rotate": 90},
                   {"form_xobject": True}, {"encrypt": "rc4-128"},
                   {"xref_stream": True, "objstm": True}):
        base = extract_pdf(build_pdf(text, title="SplitDoc", **kwargs))
        got = extract_pdf(build_pdf(text, title="SplitDoc", split_runs=True,
                                    **kwargs))
        assert got["error"] is None
        assert got["text"] == base["text"], kwargs


def test_split_runs_base_font_metrics():
    """Unembedded-width Times/Courier/Symbol documents advance by their own
    family AFM table on BOTH sides (writer split-offsets, reader text-matrix
    advance) — byte-identity fails if either falls back to Helvetica."""
    from pdf_extraction_spark.kernels import afm

    text = ("family metric advance width table selection check with mixed "
            "word lengths and spacing " * 6).strip()
    for bf in ("Times-Roman", "Times-Bold", "Courier", "Courier-Oblique",
               "Symbol", "Helvetica"):
        for kwargs in ({}, {"columns": 2}, {"rotate": 90},
                       {"form_xobject": True},
                       {"compress": True, "xref_stream": True}):
            base = extract_pdf(build_pdf(text, title="FamDoc",
                                         base_font=bf, **kwargs))
            got = extract_pdf(build_pdf(text, title="FamDoc", base_font=bf,
                                        split_runs=True, **kwargs))
            assert got["error"] is None, (bf, kwargs)
            assert got["text"] == base["text"], (bf, kwargs)
    # the family tables genuinely differ (a Helvetica fallback would pass
    # the identity matrix vacuously if writer and reader both regressed)
    s = "Wide metrics iii"
    units = {m.name: m.text_units(s)
             for m in (afm.HELVETICA, afm.TIMES, afm.COURIER, afm.SYMBOL)}
    assert len(set(units.values())) == 4, units
    assert afm.COURIER.text_units(s) == 600 * len(s)


def test_metrics_for_basefont_names():
    from pdf_extraction_spark.kernels import afm

    assert afm.metrics_for("Times-BoldItalic") is afm.TIMES
    assert afm.metrics_for("ABCDEF+Times-Roman") is afm.TIMES  # subset tag
    assert afm.metrics_for("Courier-Bold") is afm.COURIER
    assert afm.metrics_for("DejaVuSansMono") is afm.COURIER
    # Monotype foundry names are PROPORTIONAL fonts, not monospace
    assert afm.metrics_for("Monotype-Corsiva") is afm.HELVETICA
    assert afm.metrics_for("BookmanOldStyle-MonotypeMT") is afm.HELVETICA
    assert afm.metrics_for("Symbol") is afm.SYMBOL
    assert afm.metrics_for("Arial-BoldMT") is afm.HELVETICA
    assert afm.metrics_for(None) is afm.HELVETICA


def test_split_runs_custom_encoding_base_font_widths():
    """Custom-encoding fonts (/Differences, Type0 /W, TTF-cmap /W) must
    DECLARE widths from the same family AFM table the layout engine
    positions split runs by. The sf1 scale-up caught the writer declaring
    Helvetica widths under a Courier layout — that combination (Courier x
    differences x split_runs) first co-occurs at doc_id lcm(3,11,29,37) =
    35409, beyond every small-sf corpus, and drifted the reader's gap
    inference into phantom mid-word spaces."""
    text = ("spark batch table order part value column hash spark small "
            "filter the slow hash sort key the sort slow query scan " * 4).strip()
    for bf in ("Courier", "Times-Roman", "Helvetica"):
        for enc in ("differences", "type1-builtin", "type1c", "type1c-otf",
                    "type0", "type0-ttf"):
            got = extract_pdf(build_pdf(text, columns=2, encoding=enc,
                                        base_font=bf, split_runs=True))
            assert got["error"] is None, (bf, enc)
            assert got["text"] == text, (bf, enc)


def test_split_runs_non_latin_charset():
    """Out-of-AFM characters fall back to shared default metrics on both
    sides, so CJK documents still reassemble byte-identically."""
    ko = ("데이터 분석 추출 문서 표 그림 수식 제목 단락 목록 " * 8).strip()
    for enc in ("type0", "differences"):
        base = extract_pdf(build_pdf(ko, title="한국어 문서", encoding=enc))
        got = extract_pdf(build_pdf(ko, title="한국어 문서", encoding=enc,
                                    split_runs=True))
        assert got["error"] is None
        assert got["text"] == base["text"]


def test_advance_formula_operators():
    """Tc/Tw/Tz displacement semantics (PDF 32000-1 §9.4.4) pinned directly:
    run width reflects char spacing, word spacing on code 32, and horizontal
    scaling; q/Q save and restore all three."""
    from pdf_extraction_spark.kernels.pdf_extract import _interpret_content
    from pdf_extraction_spark.kernels import afm

    def runs_of(content):
        return _interpret_content(content, budget=_Budget())[0]

    base_units = afm.text_units("a b") / 1000.0 * 10.0
    runs = runs_of(b"BT /F1 10 Tf 0 0 Td (a b) Tj ET")
    assert abs(runs[0][4] - base_units) < 1e-9

    runs = runs_of(b"2 Tc BT /F1 10 Tf 0 0 Td (a b) Tj ET")
    assert abs(runs[0][4] - (base_units + 3 * 2)) < 1e-9

    runs = runs_of(b"5 Tw BT /F1 10 Tf 0 0 Td (a b) Tj ET")
    assert abs(runs[0][4] - (base_units + 5)) < 1e-9

    runs = runs_of(b"50 Tz BT /F1 10 Tf 0 0 Td (a b) Tj ET")
    assert abs(runs[0][4] - base_units * 0.5) < 1e-9

    # q/Q restores spacing state
    runs = runs_of(b"q 2 Tc Q BT /F1 10 Tf 0 0 Td (a b) Tj ET")
    assert abs(runs[0][4] - base_units) < 1e-9


def test_annot_uri_links():
    """/Annots /Link /URI targets surface in document order, across
    compression, ObjStm packing, and empty-password encryption."""
    urls = ["https://a.example.com/x", "/rel/path?q=1"]
    for kwargs in ({}, {"compress": True, "xref_stream": True, "objstm": True},
                   {"encrypt": "aes-128", "compress": True}):
        r = extract_pdf(build_pdf("body words " * 20, links=urls, **kwargs))
        assert r["error"] is None
        assert [l["href"] for l in r["links"]] == urls


def test_info_dictionary_roundtrip():
    """Trailer /Info Title/Author decode across xref forms, ObjStm packing
    (strings covered by the container encryption) and per-object string
    encryption under the standard handler."""
    info = {"Title": "Doc 42 (draft)", "Author": "synthcorp"}
    for kw in ({}, {"xref_stream": True, "objstm": True},
               {"encrypt": "aes-128", "compress": True},
               {"encrypt": "rc4-40", "xref_stream": True, "objstm": True}):
        r = extract_pdf(build_pdf("body words " * 30, info=info, **kw))
        assert r["error"] is None
        assert r["meta"]["title"] == "Doc 42 (draft)"
        assert r["meta"]["author"] == "synthcorp"


def test_inline_image_emits_figure_placement():
    """BI..ID..EI paints the CTM-mapped unit square exactly like an XObject
    Do (§8.9.7): extraction must be byte-identical between the two figure
    forms, and the binary body still never tokenizes."""
    from pdf_extraction_spark.kernels import pdf_write
    from pdf_extraction_spark.kernels.pdf_extract import extract_pdf

    text = "alpha beta gamma delta " * 40
    xobj = extract_pdf(pdf_write.build_pdf(text, figure=True, caption="Figure 1: r"))
    inline = extract_pdf(pdf_write.build_pdf(text, inline_figure=True, caption="Figure 1: r"))
    assert inline["error"] is None
    assert inline["text"] == xobj["text"]
    assert [s[0] for s in inline["spans"]] == [s[0] for s in xobj["spans"]]
    assert "figure" in [s[0] for s in inline["spans"]]
    for kw in ({"compress": True}, {"rotate": 90}, {"encrypt": "aes-128"},
               {"encoding": "type0"}, {"form_xobject": True}):
        r = extract_pdf(pdf_write.build_pdf(text, inline_figure=True, **kw))
        assert r["error"] is None and "figure" in [s[0] for s in r["spans"]], kw


# -- image→caption pairs (VERDICT r4 item 5) --------------------------------------


def test_pdf_image_pairs_dims_and_caption():
    from pdf_extraction_spark.kernels.pdf_extract import extract_pdf_images
    from pdf_extraction_spark.kernels.pdf_write import build_pdf

    pdf = build_pdf(
        "body words for the page", figure=True, image_fmt="jpeg",
        image_dims=(640, 480), caption="Figure 1: a jpeg pair",
    )
    rows = extract_pdf_images(pdf)
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"], r["fmt"]) == (640, 480, "jpeg")
    assert r["caption"] == "Figure 1: a jpeg pair"
    assert 0.0 < r["x0"] < r["x1"] <= 1.0 and 0.0 < r["y0"] < r["y1"] <= 1.0


def test_pdf_image_pairs_dct_header_beats_dict_dims():
    # a lying /Width: the JPEG SOF header is the authority for DCT payloads
    from pdf_extraction_spark.kernels.pdf_extract import extract_pdf_images
    from pdf_extraction_spark.kernels.pdf_write import build_pdf

    pdf = build_pdf("words", figure=True, image_fmt="jpeg", image_dims=(33, 7))
    lying = pdf.replace(b"/Width 33 /Height 7", b"/Width 99 /Height 1")
    rows = extract_pdf_images(lying)
    assert rows and (rows[0]["width"], rows[0]["height"]) == (33, 7)


def test_pdf_image_pairs_raw_rotated_encrypted_form():
    from pdf_extraction_spark.kernels.pdf_extract import extract_pdf_images
    from pdf_extraction_spark.kernels.pdf_write import build_pdf

    for kw in (dict(rotate=90), dict(encrypt="aes-128", compress=True),
               dict(form_xobject=True)):
        pdf = build_pdf("some body text", figure=True,
                        caption="Figure 2: variant", **kw)
        rows = extract_pdf_images(pdf)
        assert len(rows) == 1, kw
        assert (rows[0]["width"], rows[0]["height"], rows[0]["fmt"]) == (4, 4, "raw")
        assert rows[0]["caption"] == "Figure 2: variant", kw


def test_pdf_image_pairs_no_caption_and_inline():
    from pdf_extraction_spark.kernels.pdf_extract import extract_pdf_images
    from pdf_extraction_spark.kernels.pdf_write import build_pdf

    rows = extract_pdf_images(build_pdf("words only no caption", figure=True))
    assert rows and rows[0]["caption"] is None
    rows = extract_pdf_images(build_pdf("inline image page", inline_figure=True))
    assert rows and rows[0]["fmt"] == "inline"
    assert (rows[0]["width"], rows[0]["height"]) == (-1, -1)


def test_pdf_image_pairs_total_on_garbage():
    from pdf_extraction_spark.kernels.pdf_extract import extract_pdf_images

    assert extract_pdf_images(b"") == []
    assert extract_pdf_images(b"%PDF-1.5 garbage") == []


def test_op_shaped_document_text_survives_rotate_and_form():
    """Review finding: _map_page_ops regexes ran over the whole content
    stream INCLUDING (…) literals, so document text matching an operator
    shape ("12 34 m", "5 6 l", "q 2 0 0 2 10 20 cm") was rewritten to
    transformed coordinates on rotate/form_xobject pages. Substitutions
    now skip string literals."""
    txt = ("the span measured 12 34 m wide and 5 6 l deep across the page, "
           "see step q 2 0 0 2 10 20 cm for details of the full procedure")
    base = extract_pdf(build_pdf(txt))["text"]
    assert "12 34 m wide and 5 6 l deep" in base
    for kw in ({"rotate": 90}, {"rotate": 180}, {"rotate": 270},
               {"form_xobject": True}, {"rotate": 90, "form_xobject": True}):
        got = extract_pdf(build_pdf(txt, **kw))["text"]
        assert got == base, kw


def test_encrypted_non_latin1_strings_roundtrip():
    """Review finding: the encrypted string lane encoded latin-1 with
    errors='replace' (non-Latin-1 chars became '?') while the unencrypted
    lane kept UTF-8. Both lanes now emit UTF-8; the parser's _pdf_text
    UTF-8 probe decodes it back on every metadata surface."""
    from pdf_extraction_spark.kernels.pdf_extract import (
        extract_pdf_attachments,
        extract_pdf_outline,
    )

    for enc in (None, "rc4-128", "aes-128"):
        pdf = build_pdf("body text here", encrypt=enc,
                        outline=[(1, "한국어 제목", 0)],
                        links=["https://example.com/한글path"],
                        info={"Title": "서울 문서"},
                        attachments=[("자료.txt", b"data")])
        r = extract_pdf(pdf)
        assert r["meta"].get("title") == "서울 문서", enc
        assert extract_pdf_outline(pdf)[0]["title"] == "한국어 제목", enc
        assert r["links"][0]["href"] == "https://example.com/한글path", enc
        assert extract_pdf_attachments(pdf)[0]["name"] == "자료.txt", enc


def _lzw_encode_ref(data: bytes, early: int = 1) -> bytes:
    """Reference LZW encoder (PDF/TIFF convention: clear=256, EOD=257,
    width bump EarlyChange codes early, clear when the 12-bit table
    fills) — the cross-check for _lzw_decode past width boundaries."""
    out, acc, nbits, width = bytearray(), 0, 0, 9

    def emit(code):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(256)}, 258

    table, next_code = fresh()
    emit(256)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        if next_code + early - 1 >= (1 << 12):
            emit(256)
            table, next_code = fresh()
            width = 9
        else:
            table[wc] = next_code
            next_code += 1
            if next_code + early - 1 >= (1 << width) and width < 12:
                width += 1
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_width_boundary_cross_parity():
    """Review finding: the decoder bumped the code width ONE CODE LATE
    (len(table)+early-1 >= 2^width), desyncing any stream whose table grew
    past 510 entries. Cross-checked against a reference encoder across
    multiple width boundaries, table clears, and both EarlyChange values."""
    import random

    from pdf_extraction_spark.kernels.pdf_extract import _lzw_decode

    rng = random.Random(7)
    for n in (300, 3000, 30000, 120000):
        data = bytes(rng.choice(b"abcdefgh \n") for _ in range(n))
        assert _lzw_decode(_lzw_encode_ref(data), 1, 1 << 20) == data, n
    data = b"the quick brown fox jumps over the lazy dog " * 3000
    assert _lzw_decode(_lzw_encode_ref(data), 1, 1 << 20) == data
    data = bytes(rng.choice(b"xyz01 ") for _ in range(20000))
    assert _lzw_decode(_lzw_encode_ref(data, early=0), 0, 1 << 20) == data


def _hand_pdf(objs: dict) -> bytes:
    """Assemble a classic-xref PDF from literal object bodies (for layouts
    the fixture writer deliberately never emits)."""
    buf = bytearray(b"%PDF-1.5\n")
    offs = {}
    for n in sorted(objs):
        offs[n] = len(buf)
        buf += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref = len(buf)
    buf += b"xref\n0 %d\n" % (max(objs) + 1) + b"0000000000 65535 f \n"
    for n in range(1, max(objs) + 1):
        buf += b"%010d 00000 n \n" % offs.get(n, 0)
    buf += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (max(objs) + 1, xref))
    return bytes(buf)


_HAND_BASE = {
    1: b"<< /Type /Catalog /Pages 2 0 R >>",
    2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>",
    3: (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R "
        b"/Resources << /Font << /F1 6 0 R >> >> >>"),
    6: b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
}


def test_indirect_contents_array_and_lying_length():
    """Review findings: (a) an indirect /Contents pointing at an ARRAY of
    streams (§7.7.3.3) extracted empty — resolve now precedes the list
    test; (b) a lying in-bounds /Length was trusted because the endstream
    sanity check was dead code — it now falls through to the scan."""
    content = b"BT /F1 12 Tf 72 700 Td (indirect array contents works) Tj ET"
    objs = dict(_HAND_BASE)
    objs[4] = (b"<< /Length %d >>\nstream\n" % len(content)
               + content + b"\nendstream")
    objs[5] = b"[4 0 R]"
    pdf = _hand_pdf(objs)
    assert "indirect array contents works" in extract_pdf(pdf)["text"]
    lying = pdf.replace(b"<< /Length %d >>" % len(content),
                        b"<< /Length 20 >>")
    assert "indirect array contents works" in extract_pdf(lying)["text"]


def test_indirect_filter_resolved():
    """Review finding: /Filter (and /DecodeParms) may be indirect refs
    (§7.3.8.2, like /Length); they were stringified to 'Ref(n)' and the
    stream passed through undecoded."""
    import zlib

    content = zlib.compress(
        b"BT /F1 12 Tf 72 700 Td (indirect filter decoded fine) Tj ET")
    objs = dict(_HAND_BASE)
    objs[3] = objs[3].replace(b"/Contents 5 0 R", b"/Contents 4 0 R")
    objs[4] = (b"<< /Length %d /Filter 7 0 R >>\nstream\n" % len(content)
               + content + b"\nendstream")
    objs[7] = b"/FlateDecode"
    assert "indirect filter decoded fine" in extract_pdf(_hand_pdf(objs))["text"]


def test_q_restores_font_state():
    """Review finding: q/Q saved (ctm, tc, tw, tz) but not font/size/leading
    (graphics state per ISO 32000-1 Table 52) — a banner set inside q…Q
    leaked its size into post-Q body text (TITLE misclassification)."""
    from pdf_extraction_spark.kernels.pdf_extract import _interpret_content

    content = (b"BT /F1 10 Tf 72 700 Td (body before text here okay) Tj ET "
               b"q BT /F1 30 Tf 72 600 Td (HUGE BANNER) Tj ET Q "
               b"BT 72 500 Td (body after text here okay) Tj ET")
    runs, _, _, _, _ = _interpret_content(content, frozenset(), budget=_Budget())
    sizes = {txt: size for _x, _y, size, txt, _w in runs}
    assert sizes["HUGE BANNER"] == 30.0
    assert sizes["body after text here okay"] == 10.0


def test_grid_regions_disjoint_tables_and_rect_rules():
    """Review findings: (a) _grid_regions collapsed ALL page rules into one
    bounding box, so two disjoint tables (or a table plus one unrelated
    separator rule) merged into a page-spanning region swallowing the
    prose between them — regions are now per connected component;
    (b) rects were collected but never consumed — thin `re f` bars (the
    border idiom of many producers) now join the rule pools."""
    from pdf_extraction_spark.kernels.pdf_extract import (
        _grid_regions,
        _with_rect_rules,
    )

    def grid(x0, y0):
        h = [(x0, y0 + 30 * i, x0 + 200, y0 + 30 * i) for i in range(3)]
        v = [(x0 + 100 * j, y0, x0 + 100 * j, y0 + 60) for j in range(3)]
        return h, v

    h1, v1 = grid(100, 700)
    h2, v2 = grid(100, 100)
    regs = _grid_regions(h1 + h2, v1 + v2)
    assert len(regs) == 2
    assert regs[0][3] > 700 and regs[1][3] < 200  # top-first order
    regs = _grid_regions(h1 + [(50, 400, 550, 400)], v1)
    assert len(regs) == 1 and regs[0][1] >= 699  # stray rule excluded
    rects = ([(100, 700 + 30 * i, 200, 0.8) for i in range(3)]
             + [(100 + 100 * j, 700, 0.8, 60.8) for j in range(3)])
    hl, vl = _with_rect_rules([], [], rects)
    assert len(hl) == 3 and len(vl) == 3
    assert len(_grid_regions(hl, vl)) == 1
    # fat rects (real fills) stay ignored
    assert _with_rect_rules([], [], [(10, 10, 50, 50)]) == ([], [])


def test_nineteen_byte_xref_rows():
    """Review finding: the classic xref reader advanced a fixed 20 bytes
    per row, so 19-byte rows (single-EOL, a known real-producer quirk)
    desynced the whole table; it now advances by what actually matched."""
    content = b"BT /F1 12 Tf 72 700 Td (nineteen byte xref rows parse fine) Tj ET"
    objs = dict(_HAND_BASE)
    objs[3] = objs[3].replace(b"/Contents 5 0 R", b"/Contents 4 0 R")
    objs[4] = (b"<< /Length %d >>\nstream\n" % len(content)
               + content + b"\nendstream")
    buf = bytearray(b"%PDF-1.5\n")
    offs = {}
    for n in sorted(objs):
        offs[n] = len(buf)
        buf += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref = len(buf)
    buf += b"xref\n0 %d\n" % (max(objs) + 1) + b"0000000000 65535 f\n"
    for n in range(1, max(objs) + 1):
        buf += b"%010d 00000 n\n" % offs.get(n, 0)  # 19-byte rows
    buf += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (max(objs) + 1, xref))
    assert "nineteen byte xref rows parse fine" in extract_pdf(bytes(buf))["text"]


def test_type3_fontmatrix_scales_widths():
    """Type3 /Widths are in GLYPH space scaled by /FontMatrix (§9.6.5),
    not the 1/1000 convention of every other subtype: before the fold-in,
    a Type3 font with a non-conventional matrix computed ~0 advances, so
    abutting split runs failed the end-x check and grew spurious spaces.
    All three matrix conventions must extract the identical text: runs
    that abut exactly join, a real gap still spaces."""
    def t3(matrix: bytes, widths: bytes) -> str:
        objs = dict(_HAND_BASE)
        objs[3] = (b"<< /Type /Page /Parent 2 0 R /Contents 5 0 R "
                   b"/Resources << /Font << /F3 6 0 R >> >> >>")
        objs[6] = (b"<< /Type /Font /Subtype /Type3 /FontMatrix " + matrix +
                   b" /FontBBox [0 0 100 100] /CharProcs << >> "
                   b"/Encoding << /Differences [97 /a /b /c /d] >> "
                   b"/FirstChar 97 /LastChar 100 /Widths " + widths + b" >>")
        # "ab" advance = 2 glyphs x 0.6 em x 12pt = 14.4: (cd) abuts, (dd) gaps
        content = (b"BT /F3 12 Tf 72 700 Td (ab) Tj 14.4 0 Td (cd) Tj "
                   b"28.8 0 Td (dd) Tj ET")
        objs[5] = (b"<< /Length %d >>\nstream\n" % len(content)
                   + content + b"\nendstream")
        return extract_pdf(_hand_pdf(objs))["text"]

    assert t3(b"[0.001 0 0 0.001 0 0]", b"[600 600 600 600]") == "abcd dd"
    assert t3(b"[0.01 0 0 0.01 0 0]", b"[60 60 60 60]") == "abcd dd"
    assert t3(b"[1 0 0 1 0 0]", b"[0.6 0.6 0.6 0.6]") == "abcd dd"


# -- content tokenizer and object-lexer fast paths ------------------------------------


def _norm(v):
    """A parsed operand as plain comparable data: the type travels with the
    value (a name is a str, a Ref has no equality of its own)."""
    if isinstance(v, list):
        return ("list", [_norm(x) for x in v])
    if isinstance(v, dict):
        return ("dict", {k: _norm(x) for k, x in v.items()})
    if isinstance(v, _Ref):
        return ("ref", v.num)
    return (type(v).__name__, v)


def _parse_loop_ops(content: bytes):
    """The parse()-per-token content loop: an operand start goes through
    _Lexer.parse (one more byte skipped past an exception), any other run
    of non-delimiters is an operator, a lone delimiter is dropped, and BI
    skips its binary to the whitespace-delimited EI (no ID ends the
    stream)."""
    ws, delim = b"\x00\t\n\x0c\r ", b"()<>[]{}/%"
    lex = _Lexer(content, 0)
    n = len(content)
    stack = []
    while lex.p < n:
        lex._skip_ws()
        if lex.p >= n:
            break
        if content[lex.p] in b"/<([+-.0123456789":
            try:
                stack.append(lex.parse())
            except Exception:
                lex.p += 1
            continue
        start = lex.p
        while lex.p < n and content[lex.p] not in ws + delim:
            lex.p += 1
        op = content[start : lex.p]
        if not op:
            lex.p += 1
            continue
        if op == b"BI":
            idp = content.find(b"ID", lex.p)
            if idp == -1:
                return
            m = _INLINE_EI.search(content, idp + 2)
            lex.p = n if m is None else m.end()
        yield op, stack
        stack = []


_TOKEN_BYTES = st.sampled_from(
    [bytes([c]) for c in b"0123456789+-.eE()\\\r\n <>[]/#%RTjfA\x00{}\x80\xff"]
    + [b"Tj", b"TJ", b"Td", b"BI", b"ID", b" EI", b"\\0", b"\\777", b"\\\r\n"]
)


@settings(max_examples=600, deadline=None)
@given(st.lists(_TOKEN_BYTES, max_size=40).map(b"".join))
@example(b"(a(b)c) Tj (x\\)y) Tj")
@example(b"(\\777\\0\\12\\1234\\n\\r\\t\\b\\f\\q\\\\\\(\\)) Tj")
@example(b"(line\\\ncont\\\r\nin\\\rued) '")
@example(b"1 0 R Do 1 %c\n 0 R 7 8R/ 1 2 Rx")
@example(b"1-2 5. .5 1e5 1.e5 1e 1.5.5 -.5e-2 +3 Td")
@example(b"/A#20B Tf /#zz / Tf")
@example(b"/S << /A 1 /B (x) >> BDC")
@example(b"[1 %c\n 2] TJ [(a) -250 <41 42> (b)] TJ [/N 1] TJ [[1]] TJ")
@example(b"BI /W 1 ID \xff(x) Tj\x00 EI (after) Tj BI no id")
@example(b"(unterminated")
@example(b"[(a) 1")
@example(b"<41")
@example(b"12")
@example(b"1 0")
@example(b"T* ) ] > } { 7 ' 8 \"")
def test_content_ops_match_parse_loop(content):
    """The one-regex tokenizer yields exactly the (operator, operands)
    stream of the parse()-per-token loop it replaced: every shape its fast
    groups do not take whole goes to _Lexer.parse at that position."""
    from pdf_extraction_spark.kernels.pdf_extract import _content_ops

    def norm(ops):
        return [(op, [_norm(v) for v in args]) for op, args in ops]

    assert norm(_content_ops(content, _Budget())) == norm(_parse_loop_ops(content))


_DIGITS = re.compile(rb"[0-9]+")


class _SlowLexer(_Lexer):
    """_Lexer with its one-match fast paths (the "G R" lookahead, flat
    arrays) replaced by the token-at-a-time code they stand for."""

    def _number_or_ref(self):
        d = self.d
        m = _NUM_RUN.match(d, self.p)
        tok = m.group(0)
        self.p = m.end()
        try:
            num = int(tok)
        except ValueError:
            return float(tok)
        save = self.p
        self._skip_ws()
        m2 = _DIGITS.match(d, self.p)
        if m2 is not None:
            self.p = m2.end()
            self._skip_ws()
            p = self.p
            if d[p : p + 1] == b"R" and (
                p + 1 >= len(d) or d[p + 1] in b"\x00\t\n\x0c\r ()<>[]{}/%"
            ):
                self.p = p + 1
                return _Ref(num)
        self.p = save
        return num

    def _array(self):
        self.p += 1
        out = []
        while True:
            self._skip_ws()
            if self.d[self.p : self.p + 1] == b"]":
                self.p += 1
                return out
            out.append(self.parse())


def _parse_all(lex) -> tuple:
    out = []
    while True:
        try:
            out.append(_norm(lex.parse()))
        except Exception as exc:
            return out, type(exc).__name__, lex.p


_OBJ_BYTES = st.sampled_from(
    [bytes([c]) for c in b"0123456789+-.eE \n\r%R[]/()<>\\aF"]
    + [b"<<", b">>", b"true", b"null", b"R/", b"/Widths", b"%c\n"]
)


@settings(max_examples=600, deadline=None)
@given(st.lists(_OBJ_BYTES, max_size=40).map(b"".join))
@example(b"1 0 R 1 %c\n 0 R 1 0R/ 1 0 Rx 12 34 R")
@example(b"[1 2 3.5 -4 +.5e1 1e5 2E-1 3.] [] [ ]")
@example(b"[1 0 R] [1 %c\n 2] [1-2] [1.5.5] [/N] [(s)] [1 [2]]")
@example(b"<< /Widths [250 333 500] /MediaBox [0 0 612.0 792] /P 4 0 R >>")
@example(b"[" + b"9" * 700 + b"]")
@example(b"/ID [<0a1B> <C d>] [(a\\)b\\101) <41 4> () <> 2.5] [(a(b)c)] [<<>>]")
def test_lexer_fast_paths_match_slow_paths(data):
    """_Lexer's one-match "G R" lookahead and flat-array parse give the
    objects, the end position and the error of the per-token code."""
    assert _parse_all(_Lexer(data, 0)) == _parse_all(_SlowLexer(data, 0))


def _flate_page_pdf(content: bytes, then: bytes = b"") -> bytes:
    """A one-page PDF whose content stream is ``content`` deflated, then
    decoded by the filter ``then`` names, if any."""
    import zlib

    body = zlib.compress(content, 9)
    objs = dict(_HAND_BASE)
    objs[5] = (b"<< /Length %d /Filter [/FlateDecode %s] >>\nstream\n"
               % (len(body), then) + body + b"\nendstream")
    return _hand_pdf(objs)


@pytest.mark.parametrize("unit,size,then", [
    (b"0 0 m\n", 16 << 20, b""),                                  # operators
    (b"BT /F1 12 Tf 72 700 Td (bomb) Tj ET\n", 16 << 20, b""),    # text runs
    (b"0 ", 16 << 20, b""),                                       # bare operands
    (b"\x00", 48 << 20, b""),                                     # inflation
    (b"\x81\x00", 32 << 20, b"/RunLengthDecode"),  # 128 bytes per pair
    (b"z", 16 << 20, b"/ASCII85Decode"),           # 4 zero bytes per z
])
def test_stream_bomb_fails_closed_on_budget(unit, size, then):
    """A PDF under 100 KiB whose content stream decodes to 16 MiB-2 GiB
    stops at the stream's byte cap or the page's token cap, then fails
    closed: no text, a "budget" error. Without the caps the first shape
    alone keeps one core busy for tens of seconds, and the run-length one
    allocates gigabytes."""
    import time

    pdf = _flate_page_pdf(unit * (size // len(unit)), then)
    assert len(pdf) < 100 << 10
    t0 = time.process_time()
    r = extract_pdf(pdf)
    assert time.process_time() - t0 < 10.0
    assert r["error"].startswith("budget"), r["error"]
    assert r["text"] == "" and r["spans"] == []


def test_budget_overrun_swallowed_by_form_still_fails_closed():
    """A form XObject whose stream overruns the byte cap is decoded under
    an except that skips the form; the document still fails closed."""
    import zlib

    bomb = zlib.compress(b"\x00" * (40 << 20), 9)
    objs = dict(_HAND_BASE)
    objs[3] = objs[3].replace(b"/F1 6 0 R >>", b"/F1 6 0 R >> /XObject << /X 7 0 R >>")
    page = b"BT /F1 12 Tf 72 700 Td (visible text) Tj ET /X Do"
    objs[5] = b"<< /Length %d >>\nstream\n" % len(page) + page + b"\nendstream"
    objs[7] = (b"<< /Subtype /Form /Length %d /Filter /FlateDecode >>\nstream\n"
               % len(bomb) + bomb + b"\nendstream")
    r = extract_pdf(_hand_pdf(objs))
    assert r["error"].startswith("budget") and r["text"] == ""
    assert "visible text" in extract_pdf(_hand_pdf({**objs, 7: objs[6]}))["text"]


def test_long_document_sharing_a_form_stays_within_budget(monkeypatch):
    """200 pages share one form: a 256 KiB logo (an inline image) and
    6,000 path tokens, painted on every page. Together the pages decode
    51 MiB of form and run 1.2 M tokens, past either cap were it per
    document; per stream and per page the document is well inside both.
    The form is decoded once, not once per page."""
    import zlib

    from pdf_extraction_spark.kernels import pdf_extract

    n_pages = 200
    logo = b"BI /W 512 /H 512 /BPC 8 /CS /G ID " + bytes(range(256)) * 1024 + b" EI"
    form = (b"q 72 0 0 72 500 720 cm " + logo + b" Q\n" + b"0 0 m\n" * 2000
            + b"BT /F1 8 Tf 72 30 Td (shared footer) Tj ET")
    assert len(form) >= 256 << 10
    packed = zlib.compress(form, 9)
    objs = {1: _HAND_BASE[1], 6: _HAND_BASE[6]}
    kids = []
    for i in range(n_pages):
        page, content = 10 + 2 * i, 11 + 2 * i
        kids.append(b"%d 0 R" % page)
        objs[page] = (b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R /Resources"
                      b" << /Font << /F1 6 0 R >> /XObject << /X 7 0 R >> >> >>"
                      % content)
        text = b"BT /F1 12 Tf 72 700 Td (page %d body) Tj ET /X Do" % i
        objs[content] = (b"<< /Length %d >>\nstream\n" % len(text) + text
                         + b"\nendstream")
    objs[2] = (b"<< /Type /Pages /Kids [%s] /Count %d /MediaBox [0 0 612 792] >>"
               % (b" ".join(kids), n_pages))
    objs[7] = (b"<< /Subtype /Form /BBox [0 0 612 792] /Length %d "
               b"/Filter /FlateDecode >>\nstream\n" % len(packed)
               + packed + b"\nendstream")
    forms_decoded = []
    decode = pdf_extract._decode_stream

    def counting(sdict, raw, resolve, budget):
        out = decode(sdict, raw, resolve, budget)
        if str(sdict.get("Subtype")) == "Form":
            forms_decoded.append(len(out))
        return out

    monkeypatch.setattr(pdf_extract, "_decode_stream", counting)
    r = extract_pdf(_hand_pdf(objs))
    assert r["error"] is None
    assert forms_decoded == [len(form)]
    for i in range(n_pages):
        assert f"page {i} body" in r["text"]
    assert r["text"].count("shared footer") == n_pages


def test_decoders_stop_at_max_length():
    from pdf_extraction_spark.kernels.pdf_extract import (
        _ascii85_decode,
        _lzw_decode,
        _runlength_decode,
    )

    data = bytes(range(256)) * 8
    enc = _lzw_encode_ref(data)
    assert _lzw_decode(enc, 1, 100) == data[:100]
    assert _lzw_decode(enc, 1, len(data)) == data
    assert _runlength_decode(b"\x81A" * 10 + b"\x80", 300) == b"A" * 300
    assert _runlength_decode(b"\x81A" * 2 + b"\x80", 300) == b"A" * 256
    assert _ascii85_decode(b"z" * 100_000 + b"~>", 10) == bytes(10)
    assert _ascii85_decode(b"<~87cURD]i,\"Ebo80~>", 5) == b"Hello"


def _a85_whole(data: bytes) -> bytes:
    """ASCII85Decode as one stdlib call over the whole stream."""
    import base64

    body = re.sub(rb"\s", b"", data)
    if body.startswith(b"<~"):
        body = body[2:]
    if body.endswith(b"~>"):
        body = body[:-2]
    return base64.a85decode(b"<~" + body + b"~>", adobe=True)


@settings(max_examples=400, deadline=None)
@given(st.one_of(
    st.binary(max_size=64).map(
        lambda b: __import__("base64").a85encode(b.replace(b"\x01", bytes(4)),
                                                 adobe=True, wrapcol=7)),
    st.lists(st.sampled_from(list(b"!uz~>< \n0Aaty\x00")), max_size=40).map(bytes),
))
@example(b"zz!!!!!z~>")
@example(b"!!z")
@example(b"!!!!!!z")
@example(b"<~s8W-\"~>")
def test_ascii85_run_decode_matches_whole_decode(data):
    """Run-at-a-time ASCII85 gives the whole-stream decode's bytes, or
    fails where it fails (a z inside a group, an overflow, a stray byte)."""
    from pdf_extraction_spark.kernels.pdf_extract import _ascii85_decode

    def outcome(fn):
        try:
            return fn()
        except ValueError:
            return ValueError

    assert outcome(lambda: _ascii85_decode(data, 1 << 20)) == outcome(
        lambda: _a85_whole(data))


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=30))
def test_text_units_is_sum_of_char_widths(s):
    """The cached per-character table gives char_width's values exactly,
    including NFD fallbacks and the default width."""
    from pdf_extraction_spark.kernels import afm

    for mt in (afm.HELVETICA, afm.TIMES, afm.COURIER, afm.SYMBOL):
        assert mt.text_units(s) == sum(mt.char_width(ch) for ch in s)


def _group_lines_by_scan(runs):
    """Line grouping as it was before the forward pointer: every run scans
    every line made so far, O(runs × lines)."""
    from pdf_extraction_spark.kernels.pdf_extract import Y_TOL, _join_runs

    by_y = []
    for run in sorted(runs, key=lambda r: (-r[1], r[0])):
        x, y, size, txt, _w = run
        placed = None
        for line in by_y:
            if abs(line["y"] - y) <= Y_TOL:
                placed = line
                break
        if placed is None:
            placed = {"y": y, "runs": []}
            by_y.append(placed)
        placed["runs"].append(run)
    for line in by_y:
        line["runs"].sort(key=lambda r: r[0])
        line["x"] = line["runs"][0][0]
        line["size"] = max(r[2] for r in line["runs"])
        line["text"] = _join_runs(line["runs"])
        line["x1"] = max(r[0] + r[4] for r in line["runs"])
    by_y.sort(key=lambda L: -L["y"])
    return by_y


_NONFINITE = [float("inf"), float("-inf"), float("nan")]
# multiples of Y_TOL / 2 land exactly on the tolerance edge; the rest sit
# one ulp either side of it or carry rounding of their own
_EDGE_Y = st.one_of(
    st.integers(-12, 12).map(lambda k: k * 1.5),
    st.sampled_from([2.9999999999999996, 3.0000000000000004, 0.1, 3.1, 1e16, 1e16 + 4]),
    st.floats(-40, 40),
)
_COORD = st.one_of(_EDGE_Y, st.sampled_from(_NONFINITE), st.floats())


def _runs(ys):
    return st.lists(
        st.tuples(st.sampled_from([0.0, 1.0, 7.5]) | _COORD, ys, st.floats(1, 20),
                  st.sampled_from(["a", "bc", ""]), st.floats(0, 10)),
        max_size=40,
    )


@settings(max_examples=600, deadline=None)
@given(st.one_of(_runs(_EDGE_Y), _runs(_COORD)))
@example([(0.0, 3.0, 10.0, "a", 1.0), (5.0, 0.0, 10.0, "b", 1.0),
          (1.0, -3.0, 10.0, "c", 1.0), (2.0, 6.0, 10.0, "d", 1.0)])
@example([(0.0, 1.5, 10.0, "a", 1.0), (0.0, 1.5, 12.0, "b", 1.0),
          (3.0, 4.5, 10.0, "c", 1.0), (1.0, -1.5, 10.0, "d", 1.0)])
@example([(0.0, float("inf"), 10.0, "a", 1.0), (1.0, float("inf"), 10.0, "b", 1.0),
          (2.0, 0.0, 10.0, "c", 1.0)])
@example([(0.0, float("nan"), 10.0, "a", 1.0), (1.0, 2.0, 10.0, "b", 1.0),
          (2.0, 0.0, 10.0, "c", 1.0), (3.0, float("-inf"), 10.0, "d", 1.0)])
@example([(float("nan"), 3.0, 10.0, "a", 1.0), (1.0, 0.0, 10.0, "b", 1.0),
          (2.0, 3.0, 10.0, "c", 1.0)])
def test_group_lines_matches_scan(runs):
    """The forward-pointer grouping gives the full scan's lines exactly,
    at the tolerance edges, on ties and with non-finite coordinates."""
    from pdf_extraction_spark.kernels.pdf_extract import _group_lines

    assert repr(_group_lines(runs)) == repr(_group_lines_by_scan(runs))


def test_group_lines_is_linear_in_baselines():
    """10,000 runs on distinct baselines group in well under a second; the
    scan over every earlier line took 2.47 s at 8,000 on one core."""
    import time

    from pdf_extraction_spark.kernels.pdf_extract import Y_TOL, _group_lines

    runs = [(0.0, i * 2 * Y_TOL, 10.0, "w", 5.0) for i in range(10_000)]
    t0 = time.process_time()
    lines = _group_lines(runs)
    assert time.process_time() - t0 < 1.0
    assert len(lines) == 10_000
