"""pdf_extraction_spark — a PySpark-native main-content extraction engine.

Brand-new implementation (not a port) with the capabilities of the
reference PDF document-understanding pipeline surveyed in SURVEY.md:
HTML boilerplate stripping (text-density + link-density heuristics) and
pure-Python PDF layout parsing (xref walk, content-stream tokenizer,
reading-order reconstruction), run in Arrow-batched Spark stages over
Common-Crawl-style tables ``(url, warc_ts, html, text, lang)``.

Layout:
    kernels/    pure-Python extraction kernels (zero Spark imports)
    operators/  relational / dedup / similarity / text-analysis operators
    streaming/  Structured Streaming variant of the pipeline
    corpus.py   deterministic synthetic fixture corpus
    pipeline.py Spark extraction pipeline (salted repartition + one mapInArrow stage)
    lineage.py  per-partition checkpoint/lineage + resumable restart
"""

__version__ = "0.1.0"
