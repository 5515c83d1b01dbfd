"""WET (WARC conversion-record) sink/source: kernel roundtrip, Spark
segment sink, executor-side streamed reads."""

import datetime
import gzip

from pdf_extraction_spark.corpus import compute_goldens, synth_rows
from pdf_extraction_spark.sources.wet import (
    parse_wet_bytes,
    read_wet,
    to_wet_segments,
    wet_bytes,
)


def test_kernel_roundtrip_including_unicode_and_gzip():
    rows = [
        {"url": "https://a.example.com/1",
         "warc_ts": datetime.datetime(2025, 3, 1, 12, 0, 0),
         "text": "hello world\nline two"},
        {"url": "https://b.example.com/2", "warc_ts": None,
         "text": "한국어 텍스트 with unicode"},
        {"url": "https://c.example.com/3", "warc_ts": None, "text": ""},
    ]
    data = wet_bytes(rows)
    assert parse_wet_bytes(data) == parse_wet_bytes(gzip.compress(data, mtime=0))
    back = parse_wet_bytes(data)
    assert [r["url"] for r in back] == [r["url"] for r in rows]
    assert [r["text"] for r in back] == [r["text"] for r in rows]


def test_wet_parser_total_on_garbage():
    assert parse_wet_bytes(b"") == []
    assert parse_wet_bytes(b"not a warc at all") == []
    assert parse_wet_bytes(b"\x1f\x8b\x08corrupt gzip") == []
    # truncated mid-record: records before the cut still come back
    rows = [{"url": f"https://h.example.com/{i}", "warc_ts": None,
             "text": "word " * 50} for i in range(8)]
    data = wet_bytes(rows)
    got = parse_wet_bytes(data[: len(data) // 2])
    assert 0 < len(got) < 8
    assert got[0]["text"] == "word " * 50


def test_segments_roundtrip_extraction_output(spark, tmp_path):
    """extraction output → gzipped WET segments (parquet-carried) → parse
    back → byte-identical extracted text per url."""
    import pandas as pd

    from pdf_extraction_spark.pipeline import extract_stage

    rows = synth_rows(60, seed=31)
    corpus = spark.createDataFrame(
        pd.DataFrame(
            {"url": [r["url"] for r in rows],
             "warc_ts": [r["warc_ts"] for r in rows],
             "html": [r["html"] for r in rows],
             "text": [r["text"] for r in rows],
             "lang": [r["lang"] for r in rows]}
        )
    )
    extracted = extract_stage(corpus)
    seg_path = str(tmp_path / "segments")
    to_wet_segments(extracted).write.parquet(seg_path)

    segs = spark.read.parquet(seg_path).collect()
    assert sum(s["n_docs"] for s in segs) == 60
    got = {}
    for s in segs:
        for r in parse_wet_bytes(bytes(s["wet_gz"])):
            got[r["url"]] = r["text"]
    want = {g["url"]: g["extracted_text"] for g in compute_goldens(rows)}
    assert got == want


def test_read_wet_streams_files(spark, tmp_path):
    rows = [{"url": f"https://r.example.com/{i}", "warc_ts": None,
             "text": f"document number {i} body"} for i in range(20)]
    p1 = tmp_path / "a.wet"
    p2 = tmp_path / "b.wet.gz"
    p1.write_bytes(wet_bytes(rows[:10]))
    p2.write_bytes(gzip.compress(wet_bytes(rows[10:]), mtime=0))
    df = read_wet(spark, [str(p1), str(p2)])
    got = {r["url"]: r["text"] for r in df.collect()}
    assert got == {r["url"]: r["text"] for r in rows}


# not 2025-01-01T00:00:00Z: that is the fixed date of every warcinfo record
_INSTANT = datetime.datetime(2025, 3, 1, 12, tzinfo=datetime.timezone.utc)
_EPOCH_S = 1740830400


def test_warc_and_wet_sources_read_the_utc_instant(spark, tmp_path, shifted_zones):
    """``WARC-Date: 2025-03-01T12:00:00Z`` lands as that epoch second under
    any session zone: the parsers hand Spark UTC-aware instants, not naive
    wall time for the session zone to reinterpret."""
    from pyspark.sql import functions as F

    from pdf_extraction_spark.sources.warc import read_warc, write_warc

    w, t = tmp_path / "a.warc", tmp_path / "a.wet"
    write_warc([{"url": "https://a.example.com/1", "warc_ts": _INSTANT,
                 "html": b"<p>x</p>"}], str(w))
    t.write_bytes(wet_bytes([{"url": "https://a.example.com/1",
                              "warc_ts": _INSTANT, "text": "x"}]))
    for df in (read_warc(spark, [str(w)]), read_wet(spark, [str(t)])):
        assert df.select(F.unix_seconds("warc_ts")).first()[0] == _EPOCH_S


def test_wet_sink_writes_the_utc_instant(spark, shifted_zones):
    """The segment sink writes the row's instant as UTC ``WARC-Date``, not
    its session-local wall time."""
    from pyspark.sql import functions as F

    extracted = spark.range(1).select(
        F.lit("https://a.example.com/1").alias("url"),
        F.timestamp_seconds(F.lit(_EPOCH_S)).alias("warc_ts"),
        F.lit("x").alias("extracted_text"),
    )
    (seg,) = to_wet_segments(extracted).collect()
    assert b"WARC-Date: 2025-03-01T12:00:00Z" in gzip.decompress(seg["wet_gz"])
    (row,) = parse_wet_bytes(seg["wet_gz"])
    assert row["warc_ts"] == _INSTANT
