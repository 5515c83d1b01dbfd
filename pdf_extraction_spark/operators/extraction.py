"""Flagship extraction queries + their consolidated driver suite.

The north-rule roundtrips (HTML boilerplate strip, PDF layout parse, span
tiling, WET sink/source cycle) were four separate registry entries through
round 4 — exactly the driver's 50-query window, so any round-5 addition
would silently lose its correctness row (VERDICT r4 "what's wrong" item 1).
``q_extraction_suite`` folds them into ONE registered query with the same
per-part value-level verification as :mod:`.suites`:

* the two HTML-side parts (``html_roundtrip``, ``spans_tile``) share a
  single ``extract_stage`` pass — their cells are emitted from one
  projection and one explode, so consolidating them does NOT re-run the
  extraction kernel per part (the union-branch trap the suites module
  documents);
* the PDF and WET parts are separate union branches (different corpora /
  different sink cycles), one extraction pass each.

The DuckDB side is generated from the same per-part metadata via
:func:`.suites.make_suite_sql`, so the two unpivots cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..corpus import corpus_from_documents
from ..pipeline import extract_stage
from ..sources import wet as wetmod
from .suites import NUM, STR, _unpivot, make_suite_sql


def q_extract_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: wrap documents.text in the article template (JVM concat),
    run the HTML extraction kernel in the mapInArrow stage, return the
    extracted text — must equal documents.text byte-identically (north
    rule)."""
    corpus = corpus_from_documents(spark, sf_dir, payload="html")
    out = extract_stage(corpus)
    return out.select("url", "extracted_text", "n_elements")


SQL_EXTRACT_HTML_ROUNDTRIP = """
SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       text AS extracted_text,
       1 AS n_elements
FROM documents
"""


def q_extract_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF path: render documents.text as deterministic PDFs (mixed single/
    two-column, Flate, xref-stream, Type0/Differences/TrueType-cmap font and
    AES-encrypted variants), parse with the pure-Python PDF kernel,
    reconstruct reading order — byte-identical text back."""
    corpus = corpus_from_documents(spark, sf_dir, payload="pdf")
    out = extract_stage(corpus)
    return out.select("url", "extracted_text", "method")


SQL_EXTRACT_PDF_ROUNDTRIP = """
SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       text AS extracted_text,
       'pdf' AS method
FROM documents
"""


def q_extract_spans_tile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-offset invariant as a query: spans tile extracted_text exactly
    (char_end - char_start sums to length minus separators)."""
    corpus = corpus_from_documents(spark, sf_dir, payload="html")
    out = extract_stage(corpus)
    return out.select("url", *_span_tile_cols())


def _span_tile_cols():
    """Column expressions are built lazily — pyspark requires an active
    session even to construct a Column."""
    return (
        F.length("extracted_text").alias("n_chars"),
        F.aggregate(
            "spans", F.lit(0).cast("long"),
            lambda acc, s: acc + s["char_end"] - s["char_start"],
        ).alias("span_chars"),
        F.size("spans").alias("n_spans"),
    )


SQL_EXTRACT_SPANS_TILE = """
SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       length(text) AS n_chars,
       CAST(length(text) AS BIGINT) AS span_chars,
       1 AS n_spans
FROM documents
"""


# part metadata, shared shape with suites.py: (name, fn, sql, keys, vals)
EXTRACTION_PARTS = (
    ("html_roundtrip", q_extract_html_roundtrip, SQL_EXTRACT_HTML_ROUNDTRIP,
     ["url"], [("extracted_text", STR), ("n_elements", NUM)]),
    ("spans_tile", q_extract_spans_tile, SQL_EXTRACT_SPANS_TILE,
     ["url"], [("n_chars", NUM), ("span_chars", NUM), ("n_spans", NUM)]),
    ("pdf_roundtrip", q_extract_pdf_roundtrip, SQL_EXTRACT_PDF_ROUNDTRIP,
     ["url"], [("extracted_text", STR), ("method", STR)]),
    ("wet_roundtrip", wetmod.q_wet_roundtrip, wetmod.SQL_WET_ROUNDTRIP,
     ["url"], [("extracted_text", STR)]),
)


def q_extraction_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four north-rule roundtrips as one driver-checked query.

    Every part's key/value metadata is SLICED from ``EXTRACTION_PARTS`` —
    the same tuple the oracle is generated from — so the Spark unpivot and
    the DuckDB unpivot cannot drift (adding a value column in one place
    updates both sides or neither)."""
    shared = [
        (name, keys, vals)
        for name, _fn, _sql, keys, vals in EXTRACTION_PARTS
        if name in ("html_roundtrip", "spans_tile")
    ]
    html_out = extract_stage(
        corpus_from_documents(spark, sf_dir, payload="html")
    ).select("url", "extracted_text", "n_elements", *_span_tile_cols())
    branches = [_unpivot(html_out, shared)]
    for name, fn, _sql, keys, vals in EXTRACTION_PARTS:
        if name in ("html_roundtrip", "spans_tile"):
            continue
        branches.append(_unpivot(fn(spark, sf_dir), [(name, keys, vals)]))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


SQL_EXTRACTION_SUITE = make_suite_sql(EXTRACTION_PARTS)
