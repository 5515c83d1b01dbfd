"""Document-metadata extraction queries.

Webtext pipelines surface per-document metadata alongside the extracted
text: the head ``<title>`` and robots/author ``<meta>`` tags for HTML, the
trailer /Info dictionary for PDF (what PyMuPDF exposes as ``doc.metadata``
in the reference's stack — the reference itself never reads it). Both are
a projection of the ``meta`` column the one Arrow extraction stage
(``pipeline.extract_stage``) builds; at 10^12 docs this is
embarrassingly parallel, partitioned by the source scan (with the
``spread_docs`` rebalance kicking in only when a small-file scan would
starve the cores — see :func:`..corpus.spread_docs`).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..corpus import corpus_from_documents, spread_docs
from ..pipeline import META_SCHEMA, extract_stage, fanout
from .common import first_words, sql_fold_ws, tbl


def _meta_df(corpus: DataFrame) -> DataFrame:
    """(url, title, author, robots, canonical) per document: the ``meta``
    column of the extraction stage, canonical resolved against the
    ``<base href>``-adjusted document URL."""
    return extract_stage(corpus, META_SCHEMA).select(
        "url", *(f"meta.{c}" for c in ("title", "author", "robots", "canonical"))
    )


def q_html_head_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head <title>/<meta> per HTML document; the article template carries
    a fixed head title and no robots/author meta, which the oracle pins."""
    return _meta_df(corpus_from_documents(spark, sf_dir, payload="html"))


SQL_HTML_HEAD_META = """
SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       't' AS title,
       CAST(NULL AS VARCHAR) AS author,
       CAST(NULL AS VARCHAR) AS robots,
       'https://' || source || '.example.com/canonical' AS canonical
FROM documents
"""


def q_pdf_info_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailer /Info per PDF document — deterministic Title/Author written
    by the fixture builder, value-checked across font/encryption/layout
    variants (incl. per-object string decryption of the /Info values)."""
    return _meta_df(corpus_from_documents(spark, sf_dir, payload="pdf"))


SQL_PDF_INFO_META = """
SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
       'synthcorp' AS author,
       CAST(NULL AS VARCHAR) AS robots,
       CAST(NULL AS VARCHAR) AS canonical
FROM documents
"""


def q_pdf_toc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF /Outlines (bookmark) extraction, value-checked end to end — the
    ``get_toc()`` surface of the reference's PyMuPDF stack (§12.3.3). Each
    doc's first 4 words become a 2-level outline tree written into a real
    PDF and parsed back: depth-first order, nesting levels, and decoded
    titles all land in the DuckDB oracle. One Arrow pass, zero shuffle."""
    from ..kernels import pdf_write
    from ..kernels.pdf_extract import extract_pdf_outline

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text")

    def toc(i, text):
        w = first_words(text, 4)
        outline = [(1, w[0], 0), (2, w[1], 0), (2, w[2], 0), (1, w[3], 0)]
        payload = pdf_write.build_pdf(
            " ".join(w), outline=outline,
            outline_named=(i % 3 == 0),
            compress=(i % 2 == 0), objstm=(i % 5 == 0),
            encrypt=("aes-128" if i % 13 == 0 else None),
        )
        for pos, item in enumerate(extract_pdf_outline(payload)):
            yield i, pos, item["level"], item["title"], item["page"]

    return fanout(docs, toc, "doc_id long, pos int, level int, title string, page int")


SQL_PDF_TOC = """
SELECT doc_id,
       CAST(g.pos AS INT) AS pos,
       CAST(g.lvl AS INT) AS level,
       coalesce(string_split(text, ' ')[g.i], 'pad') AS title,
       CAST(0 AS INT) AS page
FROM documents,
     (VALUES (0, 1, 1), (1, 2, 2), (2, 2, 3), (3, 1, 4)) AS g(pos, lvl, i)
"""


def q_html_toc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-outline extraction for HTML — the markup twin of
    :func:`q_pdf_toc`: h1–h6 blocks that survive the boilerplate gates come
    back as a (pos, level, title) table of contents per document, exactly
    the structure readers/search snippets build from heading hierarchies.
    One Arrow pass, zero shuffle."""
    from ..kernels.html_extract import extract_html

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text")

    def toc(i, text):
        w = first_words(text, 4)
        html = (
            "<html><body><main>"
            f"<h1>{w[0]}</h1><p>padding paragraph body long enough"
            f" to clear the content gates in place</p>"
            f"<h2>{w[1]}</h2><h3>{w[2]}</h3><h2>{w[3]}</h2>"
            "</main></body></html>"
        )
        for pos, (lvl, title) in enumerate(extract_html(html)["headings"]):
            yield i, pos, lvl, title

    return fanout(docs, toc, "doc_id long, pos int, level int, title string")


SQL_HTML_TOC = """
SELECT doc_id,
       CAST(g.pos AS INT) AS pos,
       CAST(g.lvl AS INT) AS level,
       coalesce(string_split(text, ' ')[g.i], 'pad') AS title
FROM documents,
     (VALUES (0, 1, 1), (1, 2, 2), (2, 3, 3), (3, 2, 4)) AS g(pos, lvl, i)
"""


def q_jsonld_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org structured data per document: NewsArticle headline /
    author / datePublished pulled from ``application/ld+json`` blocks —
    the machine-readable metadata layer harvesting pipelines prefer over
    scraped text when present. One Arrow pass, zero shuffle."""
    from ..kernels.html_extract import extract_jsonld

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text", "source")

    def jsonld(i, text, source):
        w = first_words(text, 2)
        obj = {
            "@context": "https://schema.org",
            "@type": "NewsArticle",
            "headline": " ".join(w),
            "author": {"@type": "Person", "name": str(source)},
            "datePublished": "2025-01-0%d" % (1 + i % 9),
        }
        html = (
            "<html><head><script type='application/ld+json'>"
            + json.dumps(obj)
            + "</script></head><body><p>x</p></body></html>"
        )
        for o in extract_jsonld(html):
            author = o.get("author")
            yield (i, o.get("@type"), o.get("headline"),
                   author.get("name") if isinstance(author, dict) else None,
                   o.get("datePublished"))

    return fanout(
        docs, jsonld,
        "doc_id long, ld_type string, headline string, author_name string, "
        "date_published string",
    )


SQL_JSONLD_META = """
SELECT doc_id,
       'NewsArticle' AS ld_type,
       coalesce(w[1], 'pad') || ' ' || coalesce(w[2], 'pad') AS headline,
       source AS author_name,
       '2025-01-0' || CAST(1 + doc_id % 9 AS VARCHAR) AS date_published
FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
"""


def q_opengraph_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph card extraction: og:title / og:type / og:image / og:url
    read back out of ``<meta property=...>`` tags via the kernel's
    first-wins meta capture (:func:`extract_meta_map`) — the social-card
    metadata layer that often carries a cleaner title and canonical image
    than the page body. One Arrow pass, zero shuffle."""
    from ..kernels.html_extract import extract_meta_map

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text", "source")

    def card(i, text, source):
        # attribute content: escape so a quote in a word cannot truncate
        # the attribute (same fix as image_alt_pairs; the kernel decodes
        # entities back and folds whitespace, which the oracle mirrors
        # with sql_fold_ws)
        w = [
            x.replace("&", "&amp;").replace("'", "&#39;").replace("<", "&lt;")
            for x in first_words(text, 2)
        ]
        html = (
            "<html><head>"
            f"<meta property='og:title' content='{w[0]} {w[1]}'>"
            "<meta property='og:type' content='article'>"
            f"<meta property='og:image' content='https://{source}"
            f".example.com/img/{i}.jpg'>"
            f"<meta property='og:url' content='https://{source}"
            f".example.com/doc/{i}'>"
            "<meta property='og:title' content='ignored duplicate'>"
            "</head><body><p>x</p></body></html>"
        )
        m = extract_meta_map(html)
        yield i, m.get("og:title"), m.get("og:type"), m.get("og:image"), m.get("og:url")

    return fanout(
        docs, card,
        "doc_id long, og_title string, og_type string, og_image string, og_url string",
    )


SQL_OPENGRAPH_CARDS = f"""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       {sql_fold_ws("coalesce(w[1], 'pad') || ' ' || coalesce(w[2], 'pad')")} AS og_title,
       'article' AS og_type,
       'https://' || source || '.example.com/img/' || CAST(doc_id AS VARCHAR) || '.jpg' AS og_image,
       'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS og_url
FROM w
"""


def q_pdf_attachments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF attachment extraction (§7.11.4): files embedded through the
    /Names /EmbeddedFiles tree come back with filename, declared size, and
    content — the PDF/A-3 pattern (machine-readable payloads riding a
    document). Every 13th doc is AES-encrypted and every 5th ObjStm-packed
    so the stream decrypt/unpack paths run under the oracle."""
    from ..kernels import pdf_write
    from ..kernels.pdf_extract import extract_pdf_attachments

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text")

    def attachments(i, text):
        w = first_words(text, 2)
        atts = [("a.txt", w[0].encode()), ("b.txt", w[1].encode())]
        payload = pdf_write.build_pdf(
            " ".join(w), attachments=atts,
            compress=(i % 2 == 0), objstm=(i % 5 == 0),
            encrypt=("aes-128" if i % 13 == 0 else None),
        )
        for pos, a in enumerate(extract_pdf_attachments(payload)):
            yield i, pos, a["filename"], a["size"], a["data"].decode("utf-8")

    return fanout(
        docs, attachments,
        "doc_id long, pos int, filename string, size long, content string",
    )


SQL_PDF_ATTACHMENTS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id, CAST(0 AS INT) AS pos, 'a.txt' AS filename,
       -- strlen: attachment size is the UTF-8 BYTE length the builder
       -- embeds, not the char count (equal only on ASCII words)
       CAST(strlen(coalesce(w[1], 'pad')) AS BIGINT) AS size,
       coalesce(w[1], 'pad') AS content
FROM w
UNION ALL
SELECT doc_id, CAST(1 AS INT), 'b.txt',
       CAST(strlen(coalesce(w[2], 'pad')) AS BIGINT), coalesce(w[2], 'pad')
FROM w
"""


def q_pdf_form_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AcroForm value extraction (§12.7): interactive-form field names and
    filled values — the document-processing surface (invoices, applications)
    where the data lives in /V strings, not the page text. Every 13th doc
    AES-encrypted, every 5th ObjStm-packed, under the oracle."""
    from ..kernels import pdf_write
    from ..kernels.pdf_extract import extract_pdf_form_fields

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text")

    def form_fields(i, text):
        w = first_words(text, 2)
        fields = [("field_a", w[0]), ("field_b", w[1])]
        payload = pdf_write.build_pdf(
            " ".join(w), acroform=fields,
            compress=(i % 2 == 0), objstm=(i % 5 == 0),
            encrypt=("aes-128" if i % 13 == 0 else None),
        )
        for pos, f in enumerate(extract_pdf_form_fields(payload)):
            yield i, pos, f["name"], f["value"]

    return fanout(docs, form_fields, "doc_id long, pos int, name string, value string")


SQL_PDF_FORM_FIELDS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id, CAST(0 AS INT) AS pos, 'field_a' AS name,
       coalesce(w[1], 'pad') AS value
FROM w
UNION ALL
SELECT doc_id, CAST(1 AS INT), 'field_b', coalesce(w[2], 'pad')
FROM w
"""


# -- undeclared-charset sniff (VERDICT r4 item 3) ---------------------------------

# (codec, native phrase prepended to the doc's words). The driver's
# documents table is ASCII-only, so each doc gets deterministic native-
# script content injected INTO the extracted flow: the page is encoded in
# the legacy codec with NO declaration, and both the detected codec and the
# byte-exact extracted text land in the oracle.
_SNIFF_VARIANTS = (
    ("cp949", "한국어 문서 본문 텍스트 예시 단락"),
    ("cp932", "これは日本語の本文テキストですデータ"),
    ("gbk", "这是中文正文文本示例段落编码检测"),
    ("windows-1252", "café crème — déjà vu € naïve"),
    # late-r5 rungs: high-byte EUC-JP via the ladder, 7-bit escape-shifted
    # ISO-2022-JP via the strict-UTF-8 success lane
    ("euc_jp", "日本語のページ本文ですかな文字データれい"),
    ("iso2022_jp_ext", "にほんごのてすとぶんしょうですよろしく"),
    # nearly-kana-free SJIS (r5 close-out): fails the kana gate, must win
    # via the 0x81-0x9F lead-shape hanzi-gated rung before gbk
    ("cp932", "東京都議会議員選挙結果速報経済産業省統計資料"),
)
_SNIFF_ENCODE = {"windows-1252": "cp1252", "iso2022_jp_ext": "iso-2022-jp"}


def q_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undeclared legacy-charset detection under the correctness gate: per
    doc, a page whose main paragraph is a fixed native-script phrase plus
    the doc's first four words, encoded as undeclared EUC-KR(cp949) /
    Shift-JIS(cp932) / GBK / cp1252 / EUC-JP / ISO-2022-JP / kana-free
    kanji SJIS by ``doc_id % 7``. The kernel must detect the codec by byte
    pattern alone (no BOM, no meta — the ISO variant is even valid 7-bit
    ASCII, and the last variant must clear the lead-shape rung) and
    return the paragraph byte-identically. One Arrow pass, zero shuffle."""
    from ..kernels.html_extract import detect_charset, extract_html

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text")

    def sniff(i, text):
        codec, phrase = _SNIFF_VARIANTS[i % 7]
        # the appended words must be encodable in EVERY lane codec (a
        # non-ASCII word would crash the whole Arrow batch on e.g. cp949);
        # keep their printable-ASCII subset (the kernel folds tabs and
        # other control whitespace into one space, which the oracle cannot
        # see), drop words that become empty — identity on the driver
        # corpus, and the oracle applies the same transform in SQL
        words = [
            s for s in (
                "".join(c for c in x if "!" <= c <= "~")
                for x in str(text).split(" ")[:4]
            )
            if s
        ]
        # rstrip(" ") is DuckDB's rtrim; the kept words are element
        # content, so & and < are escaped (the kernel decodes them)
        para = (phrase + " " + " ".join(words)).rstrip(" ")
        page = ("<html><body><main><p>"
                + para.replace("&", "&amp;").replace("<", "&lt;")
                + "</p></main></body></html>")
        payload = page.encode(_SNIFF_ENCODE.get(codec, codec))
        yield i, detect_charset(payload), extract_html(payload)["text"]

    return fanout(docs, sniff, "doc_id long, charset string, extracted string")


SQL_CHARSET_SNIFF = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
SELECT doc_id,
       CASE doc_id % 7 WHEN 0 THEN 'cp949' WHEN 1 THEN 'cp932'
            WHEN 2 THEN 'gbk' WHEN 3 THEN 'windows-1252'
            WHEN 4 THEN 'euc_jp' WHEN 5 THEN 'iso2022_jp_ext'
            ELSE 'cp932' END AS charset,
       CASE doc_id % 7
         WHEN 0 THEN '한국어 문서 본문 텍스트 예시 단락'
         WHEN 1 THEN 'これは日本語の本文テキストですデータ'
         WHEN 2 THEN '这是中文正文文本示例段落编码检测'
         WHEN 3 THEN 'café crème — déjà vu € naïve'
         WHEN 4 THEN '日本語のページ本文ですかな文字データれい'
         WHEN 5 THEN 'にほんごのてすとぶんしょうですよろしく'
         ELSE '東京都議会議員選挙結果速報経済産業省統計資料' END
       -- coalesce: DuckDB array_to_string([]) is NULL, not '' — an
       -- word list with no printable ASCII must yield the bare phrase, not NULL
       || rtrim(' ' || coalesce(array_to_string(
              list_filter(list_transform(w[1:4],
                  t -> regexp_replace(t, '[^\\x21-\\x7e]', '', 'g')),
                  t -> t <> ''), ' '), '')) AS extracted
FROM w
"""


def q_pdf_image_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(image, caption, intrinsic dims) pairs from PDF figures — the PDF
    twin of the HTML ``image_alt_pairs`` operator (VERDICT r4 item 5), the
    shape LAION-style multimodal pair mining needs: placement bbox, the
    payload's REAL pixel dimensions (DCT streams parsed as JPEG via the
    shared container-header kernel), and the caption text joined by the
    reference proximity rule. Each doc gets a deterministic figure PDF:
    JPEG (DCTDecode) on even ids with doc_id-derived dims, raw gray
    otherwise; every 5th page rotated, every 13th AES-128-encrypted, every
    7th carries no caption (NULL lane). One Arrow pass, zero shuffle; at
    10^12 docs this is embarrassingly parallel."""
    from ..kernels import pdf_write
    from ..kernels.pdf_extract import extract_pdf_images

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text")
    cols = ("width", "height", "fmt", "caption", "x0", "y0", "x1", "y1")

    def pairs(i, text):
        words = str(text).split(" ")[:6]
        cap = None if i % 7 == 0 else "Figure 1: " + " ".join(words[:3])
        payload = pdf_write.build_pdf(
            " ".join(words), figure=True, caption=cap,
            image_fmt=("jpeg" if i % 2 == 0 else "gray"),
            image_dims=(16 + i % 97, 9 + i % 53),
            compress=(i % 3 == 0),
            rotate=(90 if i % 5 == 0 else 0),
            encrypt=("aes-128" if i % 13 == 0 else None),
        )
        for img in extract_pdf_images(payload):
            yield (i, *(img[c] for c in cols))

    return fanout(
        docs, pairs,
        "doc_id long, width int, height int, fmt string, caption string, "
        "x0 double, y0 double, x1 double, y1 double",
    )


SQL_PDF_IMAGE_PAIRS = """
SELECT doc_id,
       CAST(16 + doc_id % 97 AS INT) AS width,
       CAST(9 + doc_id % 53 AS INT) AS height,
       CASE WHEN doc_id % 2 = 0 THEN 'jpeg' ELSE 'raw' END AS fmt,
       CASE WHEN doc_id % 7 = 0 THEN NULL
            ELSE 'Figure 1: ' || array_to_string(
                     list_slice(string_split(text, ' '), 1, 3), ' ')
       END AS caption,
       0.620915 AS x0, 0.166667 AS y0, 0.882353 AS x1, 0.292929 AS y1
FROM documents
"""


def q_canonical_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup clusters: documents grouped by their resolved
    ``<link rel=canonical>`` target, with cluster mass and the
    lexicographically-first member as the keeper — the dedup a crawl
    pipeline applies when many URLs declare one canonical form (beside the
    URL-normalization dedup of ``url_dedup``, which needs no in-document
    signal). The canonical comes from the real head parse of
    :func:`q_html_head_meta` (resolved against <base href> then the
    document URL), so the whole chain — bytes → head scan → resolution →
    combinable groupBy rollup — is value-checked. At 10^12 docs the
    shuffle key is the canonical-target vocabulary (map-side combinable),
    not the document count.

    Reference parity: no analog (the reference has no HTML path,
    SURVEY.md §2.1); pipeline-completing capability like the corpus
    curation family.
    """
    return canonical_clusters(_meta_df(corpus_from_documents(spark, sf_dir, payload="html")))


def canonical_clusters(meta: DataFrame) -> DataFrame:
    """``(canonical, n_docs, keeper_url)`` over ``(url, canonical)`` rows.
    The keeper is the member with the smallest UTF-8 byte key — DuckDB's
    VARCHAR order — stated as a binary key so it never depends on how the
    engine collates strings (UTF-16 code-unit order puts astral-plane
    characters before U+E000-U+FFFF; UTF-8 puts them after)."""
    from pyspark.sql import functions as F

    return (
        meta.filter(F.col("canonical").isNotNull())
        .groupBy("canonical")
        .agg(
            F.count("*").alias("n_docs"),
            F.min_by("url", F.encode("url", "UTF-8")).alias("keeper_url"),
        )
    )


SQL_CANONICAL_CLUSTER = """
SELECT 'https://' || source || '.example.com/canonical' AS canonical,
       count(*) AS n_docs,
       min('https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR))
           AS keeper_url
FROM documents
GROUP BY source
"""
