"""Outlinks and document meta through Spark equal the single-thread kernel.

A small driver-side corpus covers the resolution corners: ``<base href>``
with a relative ``rel=canonical``, non-fetchable hrefs (``javascript:``,
``mailto:``, ``#frag``), a ``rel=nofollow`` anchor, a meta refresh, a PDF
with /Annots URIs and /Info, binary junk and a null payload. For every
url, :func:`links.outlinks` rows (in page order) and ``docmeta._meta_df``
rows must equal ``extract_document`` followed by ``resolve_link`` against
the ``<base href>``-adjusted document url.
"""

from pyspark.sql import types as T

from pdf_extraction_spark.kernels import pdf_write
from pdf_extraction_spark.kernels.dispatch import extract_document
from pdf_extraction_spark.kernels.urlnorm import resolve_link
from pdf_extraction_spark.operators import docmeta, links
from pdf_extraction_spark.pipeline import local_df

_BASE_PAGE = (
    "<html><head><title>Base page</title>"
    "<base href='https://cdn.example.org/sub/dir/'>"
    "<link rel='canonical' href='../canon'>"
    "<meta name='author' content='Ann Author'>"
    "<meta name='robots' content='noindex, follow'>"
    "</head><body><nav><a href='/'>Home</a></nav><main>"
    "<p>Body text long enough to pass the content gates of the kernel."
    " <a href='rel.html'>relative</a> <a href='javascript:void(0)'>js</a>"
    " <a href='mailto:x@example.com'>mail</a> <a href='#frag'>frag</a>"
    " <a href='https://other.example.net/x?q=1#top' rel='nofollow'>sponsored</a>"
    " <a href='//proto.example.com/p'>proto-relative</a></p>"
    "</main></body></html>"
)

_REFRESH_PAGE = (
    "<html><head><meta http-equiv='refresh' content='3;url=/next/page'>"
    "<base href='/moved/'><link rel='canonical' href='here'></head>"
    "<body><p>Shell page body text for the refresh case.</p>"
    "<a href='a/b'>ab</a></body></html>"
)

ROWS = [
    ("https://www.example.com/a/page.html", _BASE_PAGE.encode()),
    ("https://site.example.com/r/old", _REFRESH_PAGE.encode()),
    (
        "https://pdf.example.com/docs/report.pdf",
        pdf_write.build_pdf(
            "pdf body words here",
            links=["https://ext.example.com/ref", "mailto:a@b.c", "rel/doc"],
            info={"Title": "Report", "Author": "synthcorp"},
        ),
    ),
    ("https://junk.example.com/bin", bytes(range(256)) * 8),
    ("https://null.example.com/none", None),
]


def _corpus(spark, rows=ROWS):
    schema = T.StructType(
        [T.StructField("url", T.StringType()), T.StructField("html", T.BinaryType())]
    )
    return local_df(spark, rows, schema)


def _expected():
    """Per url: (outlink rows in page order, meta row)."""
    out = {}
    for url, payload in ROWS:
        res = extract_document(payload)
        meta = res["meta"]
        base = meta.get("base")
        eff = (resolve_link(url, base) or url) if base else url
        rows = []
        for lk in res["links"]:
            tgt = resolve_link(eff, lk["href"])
            if tgt is not None:
                rows.append((url, lk["href"], tgt, bool(lk["chrome"]),
                             bool(lk.get("nofollow", False)), lk.get("text") or ""))
        canon = meta.get("canonical")
        out[url] = (rows, (url, meta.get("title"), meta.get("author"),
                           meta.get("robots"),
                           resolve_link(eff, canon) if canon else None))
    return out


def test_outlinks_and_meta_match_single_thread_kernel(spark):
    corpus = _corpus(spark)
    want = _expected()

    got_links = {url: [] for url, _ in ROWS}
    for r in links.outlinks(corpus).collect():
        got_links[r["url"]].append(tuple(r))
    got_meta = {r["url"]: tuple(r) for r in docmeta._meta_df(corpus).collect()}

    assert links.outlinks(corpus).columns == [
        "url", "href", "resolved", "chrome", "nofollow", "anchor"]
    assert docmeta._meta_df(corpus).columns == [
        "url", "title", "author", "robots", "canonical"]
    for url, _ in ROWS:
        assert got_links[url] == want[url][0], url
        assert got_meta[url] == want[url][1], url

    # the corners themselves, so the parity above is not vacuous
    base_links = [r[2] for r in want["https://www.example.com/a/page.html"][0]]
    assert base_links == [
        "https://cdn.example.org/",
        "https://cdn.example.org/sub/dir/rel.html",
        "https://other.example.net/x?q=1",
        "https://proto.example.com/p",
    ]
    assert [r[4] for r in want["https://www.example.com/a/page.html"][0]] == [
        False, False, True, False]
    assert want["https://www.example.com/a/page.html"][1][1:] == (
        "Base page", "Ann Author", "noindex, follow",
        "https://cdn.example.org/sub/canon")
    assert want["https://site.example.com/r/old"][1][4] == (
        "https://site.example.com/moved/here")
    assert [r[2] for r in want["https://site.example.com/r/old"][0]] == [
        "https://site.example.com/moved/a/b"]
    assert [r[2] for r in want["https://pdf.example.com/docs/report.pdf"][0]] == [
        "https://ext.example.com/ref", "https://pdf.example.com/docs/rel/doc"]
    assert want["https://pdf.example.com/docs/report.pdf"][1][1:3] == (
        "Report", "synthcorp")
    for url in ("https://junk.example.com/bin", "https://null.example.com/none"):
        assert want[url] == ([], (url, None, None, None, None))


def test_meta_refresh_resolves_against_base_and_drops_junk_delay(spark):
    """The stage's ``meta`` column resolves the refresh target like links,
    and a delay past int32 (junk content) is null, not a batch failure."""
    from pdf_extraction_spark.pipeline import META_SCHEMA, extract_stage

    junk = ("<html><head><meta http-equiv='refresh' content='99999999999;url=/x'>"
            "</head><body><p>x</p></body></html>")
    corpus = _corpus(spark, ROWS[:2] + [("https://j.example.com/", junk.encode())])
    got = {r["url"]: (r["refresh_delay"], r["refresh"]) for r in
           extract_stage(corpus, META_SCHEMA).select("url", "meta.*").collect()}
    assert got == {
        "https://www.example.com/a/page.html": (None, None),
        "https://site.example.com/r/old": (3, "https://site.example.com/next/page"),
        "https://j.example.com/": (None, "https://j.example.com/x"),
    }
