"""PDF /Kids trees: the page tree, the name trees behind named destinations
and attachments, and the AcroForm field tree all go through one walker
that visits each object once. Hostile self-referential trees finish fast,
outline page indexes agree with the page order text is extracted in, and
a property pins the walker against the recursive walkers it replaced."""

import time

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_extraction_spark.kernels.pdf_extract import (
    _Doc,
    _Name,
    _Ref,
    extract_pdf,
    extract_pdf_attachments,
    extract_pdf_form_fields,
    extract_pdf_outline,
)


def _pdf(objs: dict) -> bytes:
    """A PDF of numbered object bodies, catalog 1, with a valid xref."""
    out = b"%PDF-1.4\n"
    offs = {}
    for num in sorted(objs):
        offs[num] = len(out)
        out += b"%d 0 obj\n%s\nendobj\n" % (num, objs[num])
    xref, size = len(out), max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offs[num] if num in offs else b"0000000000 65535 f \n"
    return out + b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (size, xref)


def _stream(body: bytes, head: bytes = b"") -> bytes:
    return b"<< /Length %d %s>>\nstream\n%s\nendstream" % (len(body), head, body)


FONT = b"/Resources << /Font << /F1 << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> >> >>"
PAGE = b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " + FONT + b" /Contents 3 0 R >>"
TEXT = _stream(b"BT /F1 12 Tf 72 400 Td (page one) Tj ET")
SELF_KIDS, SINGLE_KID = b"/Kids [5 0 R 5 0 R]", b"/Kids [5 0 R]      "


def _timed(fn, payload):
    t = time.process_time()
    got = fn(payload)
    return got, time.process_time() - t


def _self_referential(fn, pdf: bytes, want):
    """``pdf`` carries node 5 with /Kids naming itself twice: ``fn`` must
    finish in under 1 s of process time with ``want``, the result of the
    same tree whose node 5 names itself once."""
    assert SELF_KIDS in pdf
    got, took = _timed(fn, pdf)
    assert took < 1.0, took
    assert got == want
    assert fn(pdf.replace(SELF_KIDS, SINGLE_KID)) == want


def test_missing_named_dest_under_self_referential_name_tree_finishes():
    pdf = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R /Outlines 6 0 R /Names << /Dests 5 0 R >> >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: TEXT,
        4: PAGE,
        5: b"<< /Names [(d0) [4 0 R /Fit]] " + SELF_KIDS + b" >>",
        6: b"<< /Type /Outlines /First 7 0 R /Last 8 0 R /Count 2 >>",
        7: b"<< /Title (lost) /Parent 6 0 R /Next 8 0 R /Dest (missing) >>",
        8: b"<< /Title (found) /Parent 6 0 R /Prev 7 0 R /Dest (d0) >>",
    })
    _self_referential(extract_pdf_outline, pdf, [
        {"level": 1, "title": "lost", "page": -1},
        {"level": 1, "title": "found", "page": 0},
    ])


def test_attachments_under_self_referential_name_tree_finish():
    pdf = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R /Names << /EmbeddedFiles 6 0 R >> >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: TEXT,
        4: PAGE,
        5: b"<< " + SELF_KIDS + b" >>",
        6: b"<< /Names [(a.txt) 7 0 R] /Kids [5 0 R] >>",
        7: b"<< /Type /Filespec /F (a.txt) /EF << /F 8 0 R >> >>",
        8: _stream(b"hello"),
    })
    _self_referential(extract_pdf_attachments, pdf, [
        {"name": "a.txt", "filename": "a.txt", "size": 5, "data": b"hello"},
    ])


def test_form_fields_under_self_referential_field_finish():
    pdf = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R /AcroForm << /Fields [6 0 R] >> >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: TEXT,
        4: PAGE,
        5: b"<< /T (f) " + SELF_KIDS + b" >>",
        6: b"<< /T (form) /Kids [7 0 R 5 0 R] >>",
        7: b"<< /T (a) /FT /Tx /V (v) >>",
    })
    _self_referential(extract_pdf_form_fields, pdf, [
        {"name": "form.a", "field_type": "Tx", "value": "v"},
    ])


def test_outline_page_index_counts_direct_pages():
    """A direct page dict ahead of a referenced one still takes index 0, so
    an outline /Dest at the referenced page agrees with extract_pdf."""
    pdf = _pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R /Outlines 6 0 R >>",
        2: b"<< /Type /Pages /Count 2 /Kids [<< /Type /Page /MediaBox [0 0 612 792] "
           + FONT + b" /Contents 3 0 R >> 4 0 R] >>",
        3: TEXT,
        4: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " + FONT
           + b" /Contents 5 0 R >>",
        5: _stream(b"BT /F1 12 Tf 72 780 Td (Two) Tj ET"),  # a header block
        6: b"<< /Type /Outlines /First 7 0 R /Last 7 0 R /Count 1 >>",
        7: b"<< /Title (Two) /Parent 6 0 R /Dest [4 0 R /Fit] >>",
    })
    assert extract_pdf_outline(pdf) == [{"level": 1, "title": "Two", "page": 1}]
    rec = extract_pdf(pdf)
    assert rec["error"] is None
    assert [(rec["text"][s[2]:s[3]], s[1]) for s in rec["spans"]] == [
        ("page one", 0), ("Two", 1),
    ]


# -- the recursive walkers the one walker replaced, kept as the reference --


def _ref_walk_pages(doc, node, out, seen):
    if not isinstance(node, dict) or id(node) in seen or len(out) > 10000:
        return
    seen.add(id(node))
    typ = str(node.get("Type", ""))
    if typ == "Page":
        out.append(node)
        return
    for kid in node.get("Kids", []) or []:
        _ref_walk_pages(doc, doc.resolve(kid), out, seen)


def _ref_walk_page_nums(doc, ref, out, seen):
    num = ref.num if isinstance(ref, _Ref) else None
    node = doc.resolve(ref)
    if not isinstance(node, dict) or id(node) in seen or len(out) > 10000:
        return
    seen.add(id(node))
    if str(node.get("Type", "")) == "Page":
        if num is not None:
            out[num] = len(out)
        return
    for kid in node.get("Kids", []) or []:
        _ref_walk_page_nums(doc, kid, out, seen)


def _ref_name_tree_lookup(doc, node, key, depth):
    if not isinstance(node, dict) or depth > 32:
        return None
    arr = doc.resolve(node.get("Names"))
    if isinstance(arr, list):
        for j in range(0, len(arr) - 1, 2):
            k = doc.resolve(arr[j])
            if isinstance(k, bytes) and k == key:
                return doc.resolve(arr[j + 1])
    for kid in doc.resolve(node.get("Kids")) or []:
        hit = _ref_name_tree_lookup(doc, doc.resolve(kid), key, depth + 1)
        if hit is not None:
            return hit
    return None


def _ref_collect_embedded(doc, node, out, depth):
    if not isinstance(node, dict) or depth > 32 or len(out) > 10000:
        return
    arr = doc.resolve(node.get("Names"))
    if isinstance(arr, list):
        for j in range(0, len(arr) - 1, 2):
            spec = doc.resolve(arr[j + 1])
            ef = doc.resolve(spec.get("EF")) if isinstance(spec, dict) else None
            fs = doc.resolve(ef.get("F")) if isinstance(ef, dict) else None
            if isinstance(fs, tuple) and fs[0] == "stream":
                out.append(fs[2])
    for kid in doc.resolve(node.get("Kids")) or []:
        _ref_collect_embedded(doc, doc.resolve(kid), out, depth + 1)


def _ref_walk_field(doc, ref, prefix, out, depth):
    node = doc.resolve(ref)
    if not isinstance(node, dict) or depth > 32 or len(out) > 10000:
        return
    t = doc.resolve(node.get("T"))
    name = t.decode("latin-1") if isinstance(t, bytes) else ""
    full = f"{prefix}.{name}" if prefix and name else (name or prefix)
    kids = doc.resolve(node.get("Kids"))
    if ("V" in node or "FT" in node) and name:
        out.append(full)
    if isinstance(kids, list):
        for kid in kids:
            _ref_walk_field(doc, kid, full, out, depth + 1)


# -- generated acyclic trees ------------------------------------------------

KEYS = st.sampled_from([b"a", b"b", b"c", b"d"])


@st.composite
def _trees(draw, depth=0):
    """``(node, as_ref)``: any node may carry /Names pairs and field /T,
    /V, /FT; an interior node is /Type /Pages with 1-4 kids, a leaf is
    /Type /Page at times; 6 levels at most."""
    node = {}
    if draw(st.booleans()):
        node["T"] = draw(st.sampled_from([b"x", b"y", b"z"]))
    if draw(st.booleans()):
        node["V"] = draw(st.binary(max_size=3))
    if draw(st.booleans()):
        node["FT"] = _Name("Tx")
    names = []
    for key in draw(st.lists(KEYS, max_size=3)):
        names += [key, {"EF": {"F": ("stream", {}, draw(st.binary(max_size=4)))}}]
    if names:
        node["Names"] = names
    if depth < 6 and draw(st.booleans()):
        node["Type"] = _Name("Pages")
        node["Kids"] = [draw(_trees(depth + 1)) for _ in range(draw(st.integers(1, 4)))]
    elif draw(st.booleans()):
        node["Type"] = _Name("Page")
    return node, draw(st.booleans())


def _materialise(tree, doc, num_of):
    """The tree as ``doc`` objects: a node drawn as a reference becomes a
    numbered object. Returns what its parent's /Kids entry holds."""
    node, as_ref = tree
    if "Kids" in node:
        node["Kids"] = [_materialise(kid, doc, num_of) for kid in node["Kids"]]
    if not as_ref:
        return node
    num = len(doc.cache) + 10
    doc.cache[num] = node
    num_of[id(node)] = num
    return _Ref(num)


@settings(max_examples=200, deadline=None)
@given(_trees(), st.lists(_trees(), min_size=1, max_size=3))
def test_one_walker_matches_recursive_walkers(tree, fields):
    doc = _Doc(b"")
    num_of: dict = {}
    top = _materialise(tree, doc, num_of)
    field_roots = [_materialise(f, doc, num_of) for f in fields]
    doc.cache[1] = {
        "Pages": top,
        "Names": {"Dests": top, "EmbeddedFiles": top},
        "AcroForm": {"Fields": field_roots},
    }
    doc.trailer["Root"] = _Ref(1)

    want_pages: list = []
    _ref_walk_pages(doc, doc.resolve(top), want_pages, set())
    assert [id(p) for p in doc.pages()] == [id(p) for p in want_pages]
    assert doc.page_num_map() == {
        num_of[id(p)]: i for i, p in enumerate(want_pages) if id(p) in num_of
    }
    if all(id(p) in num_of for p in want_pages):  # no direct page dicts
        want_nums: dict = {}
        _ref_walk_page_nums(doc, top, want_nums, set())
        assert doc.page_num_map() == want_nums

    for key in (b"a", b"b", b"c", b"d", b"missing"):
        assert doc.named_dest(key) is _ref_name_tree_lookup(doc, doc.resolve(top), key, 0)

    want_data: list = []
    _ref_collect_embedded(doc, doc.resolve(top), want_data, 0)
    assert [a["data"] for a in doc.embedded_files()] == want_data

    want_fields: list = []
    for ref in field_roots:
        _ref_walk_field(doc, ref, "", want_fields, 0)
    assert [f["name"] for f in doc.form_fields()] == want_fields
