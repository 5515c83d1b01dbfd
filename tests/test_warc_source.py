"""WARC connector tests: corpus → WARC → corpus → extraction round-trip."""

import datetime
import gzip

import pytest

from pdf_extraction_spark.corpus import compute_goldens, synth_rows
from pdf_extraction_spark.pipeline import extract_corpus
from pdf_extraction_spark.sources import warc


@pytest.fixture(scope="module")
def warc_files(tmp_path_factory):
    root = tmp_path_factory.mktemp("warc")
    rows = synth_rows(60, seed=3)
    a, b = rows[:30], rows[30:]
    warc.write_warc(a, str(root / "crawl-00000.warc"))
    warc.write_warc(b, str(root / "crawl-00001.warc.gz"), compress=True)
    return root, rows


def test_roundtrip_pure_python(warc_files):
    root, rows = warc_files
    got = warc.parse_warc_bytes(open(root / "crawl-00000.warc", "rb").read())
    assert [g["url"] for g in got] == [r["url"] for r in rows[:30]]
    assert all(g["html"] == r["html"] for g, r in zip(got, rows[:30]))
    # WARC-Date is second-precision UTC; parsed back as the aware instant
    assert got[0]["warc_ts"] == rows[0]["warc_ts"].replace(
        microsecond=0, tzinfo=datetime.timezone.utc
    )


def test_gzip_member(warc_files):
    root, rows = warc_files
    got = warc.parse_warc_bytes(open(root / "crawl-00001.warc.gz", "rb").read())
    assert len(got) == 30 and got[0]["html"] == rows[30]["html"]


def test_truncated_warc_degrades(warc_files):
    root, rows = warc_files
    data = open(root / "crawl-00000.warc", "rb").read()
    got = warc.parse_warc_bytes(data[: len(data) // 2])
    assert 0 < len(got) < 30  # leading records parse, tail dropped, no raise


def test_spark_read_and_extract(spark, warc_files):
    root, rows = warc_files
    df = warc.read_warc(spark, [str(root / "crawl-00000.warc"), str(root / "crawl-00001.warc.gz")])
    assert df.count() == 60
    out = {r["url"]: r["extracted_text"] for r in extract_corpus(df, partitions=4).collect()}
    goldens = {g["url"]: g["extracted_text"] for g in compute_goldens(rows)}
    assert out == goldens


def test_streaming_parse_never_materializes_whole_file(warc_files):
    """The connector parses from a (gzip) file stream (ADVICE r1: whole-file
    read + gzip.decompress would blow executor memory on ~1 GB Common Crawl
    WARCs). Pure-python check of the same stream path read_warc uses."""
    root, rows = warc_files
    with open(root / "crawl-00001.warc.gz", "rb") as f:
        stream = gzip.GzipFile(fileobj=f)
        got = list(warc.parse_warc_stream(stream))
    assert len(got) == 30 and got[0]["html"] == rows[30]["html"]
    # source-level guard: the spark path must not slurp files
    import inspect

    src = inspect.getsource(warc.read_warc)
    assert "f.read()" not in src and "gzip.decompress" not in src


def test_read_warc_empty_paths(spark):
    df = warc.read_warc(spark, [])
    assert df.count() == 0


def test_http_body_wire_encodings_are_reversed():
    """Real crawl records carry chunked framing and gzip/deflate content
    encoding; the parser must hand back the document bytes."""
    import gzip as _gzip
    import zlib as _zlib

    from pdf_extraction_spark.sources.warc import _strip_http_envelope

    doc = b"<html><body><p>wire encoding roundtrip</p></body></html>"

    gz = _gzip.compress(doc, mtime=0)
    resp = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gz)
    assert _strip_http_envelope(resp) == doc

    defl = _zlib.compress(doc)
    resp = (b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + defl)
    assert _strip_http_envelope(resp) == doc

    # chunked: two chunks + terminator
    half = len(doc) // 2
    chunked = (
        b"%x\r\n" % half + doc[:half] + b"\r\n"
        + b"%x\r\n" % (len(doc) - half) + doc[half:] + b"\r\n0\r\n\r\n"
    )
    resp = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n" + chunked)
    assert _strip_http_envelope(resp) == doc

    # chunked THEN gzipped content (both encodings stacked)
    chunked_gz = (
        b"%x\r\n" % len(gz) + gz + b"\r\n0\r\n\r\n"
    )
    resp = (
        b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n"
        b"Transfer-Encoding: chunked\r\n\r\n" + chunked_gz
    )
    assert _strip_http_envelope(resp) == doc

    # corrupt gzip body: total, returns the undecodable bytes
    resp = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n\x1f\x8bgarbage"
    assert isinstance(_strip_http_envelope(resp), bytes)


def test_http_envelope_meta_signals():
    from pdf_extraction_spark.sources.warc import http_envelope_meta

    assert http_envelope_meta(
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\nb"
    ) == (200, "text/html")
    assert http_envelope_meta(
        b"HTTP/1.1 301 Moved\r\nLocation: /x\r\n\r\n"
    ) == (301, None)
    assert http_envelope_meta(b"no envelope here") == (None, None)
    assert http_envelope_meta(b"HTTP/1.1 bogus\r\n\r\n") == (None, None)
    assert http_envelope_meta(b"HTTP/1.1 404 NF\r\nCONTENT-TYPE: Text/HTML\r\n\r\n") == (
        404, "text/html")


def test_warc_non_ascii_target_uri_roundtrips():
    """WARC 1.0 headers are UTF-8; an ASCII decode mangles every
    non-ASCII WARC-Target-URI (review finding)."""
    import io

    from pdf_extraction_spark.sources.warc import iter_warc_records

    url = "https://example.com/café/日本"
    body = b"<html><body>x</body></html>"
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: " + url.encode("utf-8") + b"\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n"
        b"\r\n" + body + b"\r\n\r\n"
    )
    rows = list(iter_warc_records(io.BytesIO(rec)))
    assert len(rows) == 1
    assert rows[0][0]["warc-target-uri"] == url


def test_warc_mid_file_corruption_resyncs():
    """A malformed record mid-file must cost ONE record, not the rest of
    the segment (review finding: iteration used to stop at the first bad
    leader/Content-Length)."""
    import io

    from pdf_extraction_spark.sources.warc import iter_warc_records

    def rec(url, body):
        return (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Target-URI: " + url + b"\r\n"
            b"Content-Length: " + str(len(body)).encode() + b"\r\n"
            b"\r\n" + body + b"\r\n\r\n"
        )

    good1 = rec(b"https://a/1", b"one")
    bad_leader = b"GARBAGE NOT A RECORD\r\nmore junk\r\n"
    bad_length = (
        b"WARC/1.0\r\nWARC-Target-URI: https://a/broken\r\n"
        b"Content-Length: nonsense\r\n\r\n"
    )
    good2 = rec(b"https://a/2", b"two")
    stream = io.BytesIO(good1 + bad_leader + bad_length + good2)
    urls = [h["warc-target-uri"] for h, _ in iter_warc_records(stream)]
    assert urls == ["https://a/1", "https://a/2"]


def test_http_header_accessor():
    """Generic envelope header lookup behind the redirect map: first match
    wins, names are case-insensitive, values are whitespace-trimmed, and
    non-envelope payloads / absent or empty headers return None (total)."""
    from pdf_extraction_spark.sources.warc import http_header

    env = (
        b"HTTP/1.1 301 Moved\r\n"
        b"LoCaTiOn:  /new/path \r\n"
        b"Location: /second\r\n"
        b"X-Empty:\r\n"
        b"\r\nbody Location: /in-body"
    )
    assert http_header(env, "Location") == "/new/path"
    assert http_header(env, "location") == "/new/path"
    assert http_header(env, "X-Empty") is None          # empty value -> None
    assert http_header(env, "Content-Type") is None     # absent
    assert http_header(b"not an envelope", "Location") is None
    assert http_header(b"", "Location") is None
    # header text after the blank line is body, never matched
    assert http_header(b"HTTP/1.1 200 OK\r\n\r\nLocation: /x", "Location") is None
