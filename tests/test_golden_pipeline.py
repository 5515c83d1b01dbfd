"""Golden-file tests: the Spark pipeline must reproduce the single-threaded
kernels byte-identically at every parallelism level (BASELINE.json north_rule:
"byte-identical extracted text per url")."""

import pytest

from pdf_extraction_spark.corpus import compute_goldens, synth_rows
from pdf_extraction_spark.pipeline import extract_corpus

N = 200


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = synth_rows(N, seed=42)
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    return df, {g["url"]: g for g in compute_goldens(rows)}


def test_byte_identical_vs_goldens(corpus_df):
    df, goldens = corpus_df
    out = {r["url"]: r for r in extract_corpus(df, partitions=8).collect()}
    assert len(out) == N
    for url, g in goldens.items():
        assert out[url]["extracted_text"] == g["extracted_text"], url
        assert out[url]["n_elements"] == g["n_elements"], url


def test_parallelism_invariance(corpus_df):
    """Same corpus at 2 vs 13 partitions → identical bytes (scaling protocol
    prerequisite, BASELINE.md)."""
    df, _ = corpus_df
    a = {r["url"]: r["extracted_text"] for r in extract_corpus(df, partitions=2).collect()}
    b = {r["url"]: r["extracted_text"] for r in extract_corpus(df, partitions=13, salt=3).collect()}
    assert a == b


def test_span_invariant(corpus_df):
    df, _ = corpus_df
    for r in extract_corpus(df, partitions=4).collect():
        blocks = r["extracted_text"].split("\n\n") if r["extracted_text"] else []
        assert len(blocks) == len(r["spans"])
        for span, blk in zip(r["spans"], blocks):
            assert r["extracted_text"][span["char_start"]:span["char_end"]] == blk


def test_column_pruning_reaches_scan(spark, corpus_df, tmp_path):
    """The extraction plan must read only (url, html) from the parquet scan —
    SURVEY.md §4 'column pruning analog'."""
    df, _ = corpus_df
    path = str(tmp_path / "corpus.parquet")
    df.write.mode("overwrite").parquet(path)
    plan = extract_corpus(spark.read.parquet(path))._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "url" in read_schema and "html" in read_schema
    assert "warc_ts" not in read_schema and "lang" not in read_schema


def test_documents_roundtrip_html(spark):
    """Extraction over the template-wrapped documents table recovers
    documents.text byte-identically (the oracle-checkable flagship)."""
    from pdf_extraction_spark.corpus import corpus_from_documents

    corpus = corpus_from_documents(spark, "/root/testdata/sf0.001", "html")
    got = {r["url"]: r["extracted_text"] for r in extract_corpus(corpus, partitions=8).collect()}
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").collect()
    assert len(got) == len(docs)
    for d in docs:
        url = f"https://{d['source']}.example.com/doc/{d['doc_id']}"
        assert got[url] == d["text"]


def test_iter_binary_views_zero_copy_and_fallbacks():
    """The zero-copy Arrow payload iterator: values match to_pylist() on
    plain, SLICED (non-zero arr.offset), and null-bearing arrays."""
    import pyarrow as pa

    from pdf_extraction_spark.pipeline import _iter_binary_views

    vals = [b"alpha", b"", b"\x00binary\xff", b"d" * 5000, b"end"]
    arr = pa.array(vals, pa.binary())
    got = list(_iter_binary_views(arr))
    assert [bytes(v) for v in got] == vals
    assert all(isinstance(v, memoryview) for v in got)  # really zero-copy
    # sliced array: offsets shifted by arr.offset
    sl = arr.slice(1, 3)
    assert [bytes(v) for v in _iter_binary_views(sl)] == vals[1:4]
    # nulls route through the as_py fallback (kernels handle None)
    with_null = pa.array([b"x", None, b"y"], pa.binary())
    assert list(_iter_binary_views(with_null)) == [b"x", None, b"y"]
    # large_binary (unexpected layout) also falls back
    lb = pa.array(vals, pa.large_binary())
    assert [
        bytes(v) if v is not None else v for v in _iter_binary_views(lb)
    ] == vals


def test_drop_zip_finders_keeps_zip_imports_working(tmp_path, monkeypatch):
    """After the drop no ``zipimporter`` is left for a task's
    ``invalidate_caches()`` to re-read, and a not-yet-imported submodule of
    the zip still imports, through a finder rebuilt on demand."""
    import importlib
    import sys
    import zipfile
    import zipimport

    from pdf_extraction_spark.pipeline import _drop_zip_finders

    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/first.py", "VALUE = 1\n")
        z.writestr("zpkg/second.py", "VALUE = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("zpkg.first").VALUE == 1
        assert any(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        _drop_zip_finders()
        assert not any(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        importlib.invalidate_caches()
        assert importlib.import_module("zpkg.second").VALUE == 2
    finally:
        for name in ("zpkg", "zpkg.first", "zpkg.second"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


def test_legacy_lane_excludes_c1_codepoints(spark, tmp_path):
    """The undeclared-ISO-8859-1 lane of corpus_from_documents must skip any
    doc whose text carries C1 controls U+0080-U+009F: latin-1 encodes them
    to 0x80-0x9F, which the WHATWG cp1252 sniff decodes to smart quotes /
    undefined, so such a doc could never round-trip byte-identically. The
    guard keeps it on the UTF-8 lane instead (review finding, round 5)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extraction_spark.corpus import corpus_from_documents

    rows = [
        # doc_id % 10 == 7 -> legacy-lane candidates
        (7, "plain latin caf\xe9 cr\xe8me \xb1fa\xe7ade", "src-a", "en"),
        (17, "smartquote c1 controls", "src-a", "en"),  # C1 -> UTF-8 lane
        (27, "beyond latin-1 ž — em dash", "src-a", "en"),  # >0xFF -> UTF-8 lane
    ]
    d = tmp_path / "sf"
    d.mkdir()
    pq.write_table(pa.table({
        "doc_id": [r[0] for r in rows],
        "text": [r[1] for r in rows],
        "source": [r[2] for r in rows],
        "lang": [r[3] for r in rows],
    }), str(d / "documents.parquet"))

    corpus = corpus_from_documents(spark, str(d), "html")
    enc = {r["url"]: bytes(r["html"]) for r in corpus.collect()}
    u7 = "https://src-a.example.com/doc/7"
    u17 = "https://src-a.example.com/doc/17"
    u27 = "https://src-a.example.com/doc/27"
    # the eligible doc really took the legacy lane (its chrome carries the
    # latin-1-encoded accented footer, which is invalid UTF-8)
    assert "Soci\xe9t\xe9 G\xe9n\xe9rale".encode("ISO-8859-1") in enc[u7]
    # C1-bearing and beyond-latin-1 docs stayed on the UTF-8 lane
    assert "c1" in enc[u17].decode("utf-8")
    assert "ž —" in enc[u27].decode("utf-8")

    # and every doc still round-trips byte-identically
    got = {r["url"]: r["extracted_text"]
           for r in extract_corpus(corpus, partitions=2).collect()}
    for doc_id, text, src, _ in rows:
        assert got[f"https://{src}.example.com/doc/{doc_id}"] == text, doc_id
