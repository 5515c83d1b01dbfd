"""Element-level relational layer over real extraction output.

The extraction pipeline emits ``spans: array<struct<elem_type, page,
char_start, char_end, bbox>>`` per url. These operators explode that into an
elements DataFrame and run the reference's element-graph computations
relationally — on the *actual* extractor output, not a proxy table:

* reading order (W2) — the reference declared ``"reading_order"`` but left
  it a stub (advanced_layout_extractor.py:546-552); here it is a window over
  (page, y0, x0) with the span array position as ground truth to verify
  against;
* spatial relations (J1) — the O(n²) python pair loop
  (advanced_layout_extractor.py:487-538) as an equi-theta self-join on
  (url, page);
* span tiling invariant — spans exactly tile extracted_text.

These are rows-only driver checks (no DuckDB oracle can re-run the
extractor); value-level correctness of the extraction itself is pinned by
the byte-identical golden tests and the round-trip oracle queries.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..corpus import doc_url, spread_docs
from ..kernels import pdf_write
from ..pipeline import extract_stage, fanout
from .common import first_words, tbl


def _titled_pdf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF corpus with a title block per doc (>= 2 elements each), so the
    element graph has pairs to relate."""
    docs = spread_docs(tbl(spark, sf_dir, "documents"))

    @F.pandas_udf(T.BinaryType())
    def make_pdf(text: pd.Series, doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [
                pdf_write.build_pdf(
                    t, columns=2 if int(i) % 3 == 0 else 1, title=f"Document {int(i)}"
                )
                for t, i in zip(text, doc_id)
            ]
        )

    return docs.select(
        doc_url().alias("url"),
        make_pdf("text", "doc_id").alias("html"),
        "doc_id",
    )


def elements_df(extracted: DataFrame) -> DataFrame:
    """Explode extraction output into one row per layout element."""
    return extracted.select(
        "url",
        F.posexplode("spans").alias("pos", "s"),
    ).select(
        "url",
        "pos",
        F.col("s.elem_type").alias("elem_type"),
        F.col("s.page").alias("page"),
        F.col("s.char_start").alias("char_start"),
        F.col("s.char_end").alias("char_end"),
        F.element_at("s.bbox", 1).alias("x0"),
        F.element_at("s.bbox", 2).alias("y0"),
        F.element_at("s.bbox", 3).alias("x1"),
        F.element_at("s.bbox", 4).alias("y1"),
        F.col("s.confidence").alias("confidence"),
        F.col("s.hierarchy_level").alias("hierarchy_level"),
        F.col("s.parent_id").alias("parent_id"),
    )


def _figured_pdf_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF corpus where every doc carries the full element taxonomy: title,
    header/footer chrome, a figure XObject, and a proximity caption."""
    docs = spread_docs(tbl(spark, sf_dir, "documents"))

    @F.pandas_udf(T.BinaryType())
    def make_pdf(text: pd.Series, doc_id: pd.Series) -> pd.Series:
        return pd.Series(
            [
                pdf_write.build_pdf(
                    t, title=f"Document {int(i)}", figure=True,
                    caption=f"Figure 1: caption for doc {int(i)}",
                    header="Corpus Header", footer="page 1",
                )
                for t, i in zip(text, doc_id)
            ]
        )

    return docs.select(
        doc_url().alias("url"),
        make_pdf("text", "doc_id").alias("html"),
    )


def _doc_id_col():
    """doc_id back out of the corpus url (…/doc/<id>) so element queries can
    emit one oracle-checkable row per document (VERDICT r2 item 8)."""
    return F.regexp_extract(F.col("url"), r"/doc/(\d+)$", 1).cast("long").alias("doc_id")


def q_element_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy invariants on real extraction output (the reference's
    `_build_hierarchy` data model, advanced_layout_extractor.py:65-79 +
    540-554, and the caption→region attachment of
    table_figure_classifier.py:155-192, both on actual elements).

    One row PER DOCUMENT (VERDICT r2 item 8 — the r2 corpus rollup hid which
    doc broke): each doc emits exactly one caption, attached under its
    figure at level 2; header/footer chrome stays root; every
    paragraph/list sits at level 1 under the doc title."""
    corpus = _figured_pdf_corpus(spark, sf_dir)
    ex = extract_stage(corpus)
    els = elements_df(ex)
    parents = els.select(
        F.col("url").alias("p_url"),
        F.col("pos").alias("p_pos"),
        F.col("elem_type").alias("parent_type"),
    )
    joined = els.join(
        parents,
        (F.col("url") == F.col("p_url")) & (F.col("parent_id") == F.col("p_pos")),
        "left",
    )
    is_chrome = F.col("elem_type").isin("header", "footer")
    is_body = F.col("elem_type").isin("paragraph", "list")
    return joined.groupBy(_doc_id_col()).agg(
        F.sum(F.when(F.col("elem_type") == "caption", 1).otherwise(0))
        .cast("long")
        .alias("n_captions"),
        F.sum(
            F.when(
                (F.col("elem_type") == "caption")
                & (F.col("parent_type") == "figure")
                & (F.col("hierarchy_level") == 2),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_caption_under_figure"),
        F.sum(
            F.when(
                is_chrome & ((F.col("hierarchy_level") != 0) | (F.col("parent_id") != -1)),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_chrome_nonroot"),
        F.sum(
            F.when(
                is_body
                & ~((F.col("hierarchy_level") == 1) & (F.col("parent_type") == "title")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_body_not_under_title"),
    )


SQL_ELEMENT_HIERARCHY = """
SELECT doc_id,
       CAST(1 AS BIGINT) AS n_captions,
       CAST(1 AS BIGINT) AS n_caption_under_figure,
       CAST(0 AS BIGINT) AS n_chrome_nonroot,
       CAST(0 AS BIGINT) AS n_body_not_under_title
FROM documents
"""


def q_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table cell decomposition, value-checked end to end: render each doc's
    first 9 words as a ruled 3×3 grid PDF, parse it back with
    :func:`pdf_extract.extract_table_cells` (h×v boundary matrix,
    pdf_vector_utils.py:169-192), and emit one row per cell. The DuckDB
    oracle recomputes every cell's text directly from ``documents`` —
    cell (r, c) must equal word r*3+c+1 of the document."""
    from ..kernels import pdf_extract as px

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text")

    def cells(doc_id, text):
        words = first_words(text, 9)
        payload = pdf_write.build_pdf("", table_rows=[words[0:3], words[3:6], words[6:9]])
        for t in px.extract_table_cells(payload):
            for c in t["cells"]:
                yield doc_id, c["row"], c["col"], c["text"]

    return fanout(docs, cells, "doc_id long, cell_row int, cell_col int, cell_text string")


SQL_TABLE_CELLS = """
SELECT doc_id,
       CAST(r AS INT) AS cell_row,
       CAST(c AS INT) AS cell_col,
       coalesce(w[r * 3 + c + 1], 'pad') AS cell_text
FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
     LATERAL (SELECT unnest(generate_series(0, 2)) AS r),
     LATERAL (SELECT unnest(generate_series(0, 2)) AS c)
"""


def q_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 reading order on PDF extraction output: rank elements by
    (page, y0, x0) and compare with emission order.

    One row PER DOCUMENT (VERDICT r2 item 8), DuckDB-value-checkable: for
    the single-column corpus (doc_id % 3 != 0) geometric (y, x) order IS
    reading order, so every doc must be fully ``in_order`` and
    ``multi_element``. Two-column docs interleave columns geometrically,
    which is exactly why the kernel clusters columns before emitting
    (reference stub it fills: advanced_layout_extractor.py:546-552)."""
    corpus = _titled_pdf_corpus(spark, sf_dir).filter(F.col("doc_id") % 3 != 0)
    ex = extract_stage(corpus)
    els = elements_df(ex)
    w = Window.partitionBy("url").orderBy("page", "y0", "x0", "pos")
    ranked = els.withColumn("rank", F.row_number().over(w) - 1)
    return ranked.groupBy(_doc_id_col()).agg(
        (
            F.count("*")
            == F.sum(F.when(F.col("rank") == F.col("pos"), 1).otherwise(0))
        ).alias("in_order"),
        (F.count("*") >= 2).alias("multi_element"),
    )


SQL_ELEMENTS_READING_ORDER = """
SELECT doc_id, TRUE AS in_order, TRUE AS multi_element
FROM documents WHERE doc_id % 3 <> 0
"""


def q_spatial_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 spatial-relation self-join on real PDF elements: same-url pairs
    with pos_a < pos_b, relation from bbox geometry.

    One row PER DOCUMENT (VERDICT r2 item 8), DuckDB-value-checkable: every
    doc has its title strictly above the body (``has_above``), and emission
    order never regresses across pages (``n_later_page_pairs`` = 0).
    Reference behavior pinned: the O(n²) pair loop + relation predicate
    (advanced_layout_extractor.py:487-538)."""
    corpus = _titled_pdf_corpus(spark, sf_dir)
    ex = extract_stage(corpus)
    els = elements_df(ex)
    a, b = els.alias("a"), els.alias("b")
    pairs = a.join(
        b,
        (F.col("a.url") == F.col("b.url")) & (F.col("a.pos") < F.col("b.pos")),
    )
    rel = (
        F.when(F.col("a.page") < F.col("b.page"), F.lit("earlier_page"))
        .when(F.col("a.page") > F.col("b.page"), F.lit("later_page"))
        .when(F.col("a.y1") <= F.col("b.y0"), F.lit("above"))
        .when(F.col("b.y1") <= F.col("a.y0"), F.lit("below"))
        .otherwise(F.lit("y_overlap"))
    )
    # every doc emits >= 2 elements (title + body), hence >= 1 pair, so the
    # per-doc grouping covers the whole corpus — no separate count action
    return (
        pairs.select(F.col("a.url").alias("url"), rel.alias("relation"))
        .groupBy(_doc_id_col())
        .agg(
            (
                F.sum(F.when(F.col("relation") == "above", 1).otherwise(0)) >= 1
            ).alias("has_above"),
            F.sum(F.when(F.col("relation") == "later_page", 1).otherwise(0))
            .cast("long")
            .alias("n_later_page_pairs"),
        )
    )


SQL_ELEMENTS_SPATIAL_RELATIONS = """
SELECT doc_id, TRUE AS has_above, CAST(0 AS BIGINT) AS n_later_page_pairs
FROM documents
"""


def q_html_table_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML <table> cell decomposition, value-checked end to end — the HTML
    twin of :func:`q_table_cells` (reference grid parity:
    pdf_vector_utils.py:169-192). Each doc's first 9 words are rendered as a
    markup table and parsed back with
    :func:`html_extract.extract_html_tables`; docs with ``doc_id % 3 == 0``
    use a rowspan/colspan variant so WHATWG span occupancy (cells sliding
    past rowspan-claimed slots, spans clamped) is exercised under the DuckDB
    oracle, not just unit goldens."""
    from ..kernels import html_extract as hx

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "text")

    def cells(i, text):
        w = first_words(text, 9)
        if i % 3 == 0:
            body = (
                f"<tr><th rowspan=2>{w[0]}</th><th>{w[1]}</th>"
                f"<th>{w[2]}</th></tr>"
                f"<tr><td>{w[3]}</td><td>{w[4]}</td></tr>"
                f"<tr><td colspan=\"2\">{w[5]}</td><td>{w[6]}</td></tr>"
            )
        else:
            rows = [w[0:3], w[3:6], w[6:9]]
            body = "".join(
                "<tr>"
                + "".join(
                    f"<{'th' if r == 0 else 'td'}>{c}</{'th' if r == 0 else 'td'}>"
                    for c in row
                )
                + "</tr>"
                for r, row in enumerate(rows)
            )
        for t in hx.extract_html_tables(f"<html><body><table>{body}</table></body></html>"):
            for c in t["cells"]:
                yield (i, c["row"], c["col"], c["rowspan"], c["colspan"], c["header"],
                       c["text"])

    return fanout(
        docs, cells,
        "doc_id long, cell_row int, cell_col int, rowspan int, colspan int, "
        "is_header boolean, cell_text string",
    )


SQL_HTML_TABLE_CELLS = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ga(r, c, i, rs, cs, hdr) AS (VALUES
 (0,0,1,1,1,TRUE),(0,1,2,1,1,TRUE),(0,2,3,1,1,TRUE),
 (1,0,4,1,1,FALSE),(1,1,5,1,1,FALSE),(1,2,6,1,1,FALSE),
 (2,0,7,1,1,FALSE),(2,1,8,1,1,FALSE),(2,2,9,1,1,FALSE)),
gb(r, c, i, rs, cs, hdr) AS (VALUES
 (0,0,1,2,1,TRUE),(0,1,2,1,1,TRUE),(0,2,3,1,1,TRUE),
 (1,1,4,1,1,FALSE),(1,2,5,1,1,FALSE),
 (2,0,6,1,2,FALSE),(2,2,7,1,1,FALSE))
SELECT doc_id, CAST(r AS INT) AS cell_row, CAST(c AS INT) AS cell_col,
       CAST(rs AS INT) AS rowspan, CAST(cs AS INT) AS colspan,
       hdr AS is_header, coalesce(w[i], 'pad') AS cell_text
FROM w, ga WHERE doc_id % 3 <> 0
UNION ALL
SELECT doc_id, CAST(r AS INT), CAST(c AS INT), CAST(rs AS INT),
       CAST(cs AS INT), hdr, coalesce(w[i], 'pad')
FROM w, gb WHERE doc_id % 3 = 0
"""


def q_confidence_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12 confidence-gated validation on REAL extraction output.

    The reference admits a detected table when the page is cross-validated
    by independent evidence OR its confidence clears 0.8, and carries a
    per-element confidence on every LayoutElement
    (hybrid_docling_gpt4_processor.py:397-423;
    advanced_layout_extractor.py:65-79). Rebuilt on actual elements: the
    corpus renders, per doc_id % 3, (0) a rich 3×3 ruled grid + caption —
    grid margin 0.95, solo-admitted on confidence; (1) a bare-minimum 1×1
    grid + caption — margin 0.75, admitted only through the caption-page
    semi-join; (2) the same minimal grid with no caption — rejected. One
    oracle row per document pins the element count, the kernel-emitted
    grid confidence, the admitted count, and which gate path fired.
    (Figure leniency — conf ≥ 0.6 admits, reference :407-415 — is pinned
    by the per-kind constants in tests/test_pdf_kernel.py.)"""
    docs = spread_docs(tbl(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )

    @F.pandas_udf(T.BinaryType())
    def make_pdf(text: pd.Series, doc_id: pd.Series) -> pd.Series:
        out = []
        for t, i in zip(text, doc_id):
            i = int(i)
            words = first_words(t, 9)
            mode = i % 3
            rows = ([words[0:3], words[3:6], words[6:9]] if mode == 0
                    else [[words[0]]])
            cap = f"Table 1: caption for doc {i}" if mode < 2 else None
            out.append(pdf_write.build_pdf("", table_rows=rows, caption=cap))
        return pd.Series(out)

    corpus = docs.select(
        F.concat(F.lit("https://conf.example.com/doc/"),
                 F.col("doc_id").cast("string")).alias("url"),
        make_pdf("text", "doc_id").alias("html"),
    )
    els = elements_df(extract_stage(corpus))
    tables = els.filter(F.col("elem_type") == "table").select(
        "url", "page", "confidence"
    )
    cap_pages = (
        els.filter(F.col("elem_type") == "caption")
        .select(F.col("url").alias("c_url"), F.col("page").alias("c_page"))
        .distinct()
    )
    gated = tables.join(
        cap_pages,
        (F.col("url") == F.col("c_url")) & (F.col("page") == F.col("c_page")),
        "left",
    ).select(
        "url",
        "confidence",
        (
            (F.col("confidence") > F.lit(0.8)) | F.col("c_url").isNotNull()
        ).alias("admitted"),
        (F.col("confidence") > F.lit(0.8)).alias("solo"),
    )
    return gated.groupBy(_doc_id_col()).agg(
        F.count("*").cast("long").alias("n_table_elements"),
        F.max("confidence").alias("table_confidence"),
        F.sum(F.col("admitted").cast("long")).alias("n_admitted"),
        F.when(F.min(F.col("solo").cast("int")) == 1, "confidence")
        .when(F.sum(F.col("admitted").cast("long")) > 0, "validated")
        .otherwise("rejected")
        .alias("admit_path"),
    )


SQL_CONFIDENCE_GATE = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 1 END AS BIGINT)
           AS n_table_elements,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 0.95 ELSE 0.75 END AS DOUBLE)
           AS table_confidence,
       CAST(CASE doc_id % 3 WHEN 0 THEN 3 WHEN 1 THEN 1 ELSE 0 END AS BIGINT)
           AS n_admitted,
       CASE doc_id % 3 WHEN 0 THEN 'confidence'
                       WHEN 1 THEN 'validated'
                       ELSE 'rejected' END AS admit_path
FROM documents
"""
