"""WET (WARC conversion-record) sink + source.

Common Crawl distributes extracted plain text as WET files: ordinary WARC
containers whose records are ``WARC-Type: conversion`` with a text/plain
body — exactly the shape of this pipeline's output. The reference consumes
pre-extracted local text (its scripts read files PyMuPDF produced); at web
scale the interchange format for "the text we extracted" IS the WET
segment, so the engine both emits and re-ingests it:

* :func:`wet_bytes` / :func:`parse_wet_bytes` — deterministic single-node
  kernel pair (golden-testable, shared with the Spark paths);
* :func:`to_wet_segments` — Spark sink: extraction output → one gzipped
  WET segment blob per Arrow batch, carried as ``(segment, n_docs,
  wet_gz)`` rows (the object-store layout, one object per segment);
* :func:`read_wet` — Spark source: ``.wet``/``.wet.gz`` file paths parsed
  incrementally on executors by a per-path :func:`..pipeline.fanout`
  (streamed, one record in memory at a time), reusing the WARC record
  machinery of :mod:`.warc`.

``warc_ts`` is a UTC instant both ways: parsed ``WARC-Date`` values are
UTC-aware, and the sink formats the instant, whatever the session zone.

100 TB shape: both directions are embarrassingly parallel over
segments/batches; no shuffle anywhere.
"""

from __future__ import annotations

import datetime
import gzip
import io
import zlib

from ..pipeline import arrow_stage, extract_stage, fanout
from . import paths_df
from .warc import CRLF, iter_warc_records, maybe_gunzip, parse_warc_date

WET_SCHEMA = "url string, warc_ts timestamp, text string"


def wet_bytes(rows: list[dict], warcinfo: bool = True) -> bytes:
    """Serialize ``{url, warc_ts, text}`` rows as one WET byte stream:
    WARC/1.0 ``conversion`` records (text/plain bodies, UTF-8), preceded by
    the customary ``warcinfo`` record. Deterministic for fixed input."""
    buf = io.BytesIO()
    if warcinfo:
        info = b"software: pdf-extraction-spark\r\nformat: WARC File Format 1.0\r\n"
        buf.write(b"WARC/1.0" + CRLF)
        for k, v in (
            ("WARC-Type", "warcinfo"),
            ("WARC-Record-ID", "<urn:uuid:%032d>" % 0),
            ("WARC-Date", "2025-01-01T00:00:00Z"),
            ("Content-Type", "application/warc-fields"),
            ("Content-Length", str(len(info))),
        ):
            buf.write(k.encode() + b": " + str(v).encode() + CRLF)
        buf.write(CRLF)
        buf.write(info)
        buf.write(CRLF + CRLF)
    for i, r in enumerate(rows):
        ts = r.get("warc_ts") or datetime.datetime(2025, 1, 1)
        body = (r.get("text") or "").encode("utf-8")
        buf.write(b"WARC/1.0" + CRLF)
        for k, v in (
            ("WARC-Type", "conversion"),
            ("WARC-Record-ID", "<urn:uuid:%032d>" % (i + 1)),
            ("WARC-Date", ts.strftime("%Y-%m-%dT%H:%M:%SZ")),
            ("WARC-Target-URI", r["url"]),
            ("Content-Type", "text/plain"),
            ("Content-Length", str(len(body))),
        ):
            buf.write(k.encode() + b": " + str(v).encode() + CRLF)
        buf.write(CRLF)
        buf.write(body)
        buf.write(CRLF + CRLF)
    return buf.getvalue()


def parse_wet_stream(stream) -> "iter[dict]":
    """Yield ``{url, warc_ts, text}`` from a raw WET byte stream, one record
    at a time (one payload in memory). Non-conversion records (warcinfo,
    request/response in mixed containers) are skipped; corrupt compressed
    tails end iteration — degrade, don't crash (same posture as the WARC
    source)."""
    records = iter_warc_records(stream)
    while True:
        try:
            headers, payload = next(records)
        except StopIteration:
            return
        except (OSError, EOFError, zlib.error):
            return
        if headers.get("warc-type") != "conversion":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        yield {
            "url": url,
            "warc_ts": parse_warc_date(headers.get("warc-date", "")),
            "text": payload.decode("utf-8", errors="replace"),
        }


def parse_wet_bytes(data: bytes) -> list[dict]:
    """Parse one in-memory WET blob (possibly gzipped) — kernel twin of the
    streamed source, used by goldens and the segment reader."""
    stream: io.BufferedIOBase = io.BytesIO(data)
    if data[:2] == b"\x1f\x8b":
        stream = gzip.GzipFile(fileobj=stream)
    return list(parse_wet_stream(stream))


def to_wet_segments(extracted):
    """Spark sink stage: extraction output → ``(segment, n_docs, wet_gz)``
    rows, one gzipped WET segment per Arrow batch. Embarrassingly parallel;
    the segment name is content-addressed (md5 of member urls) so
    re-runs and speculative tasks produce identical objects. ``warc_ts``
    crosses as epoch seconds and is written as that UTC instant."""
    from pyspark.sql import functions as F

    def segments(batches):
        import hashlib

        import pyarrow as pa

        utc = datetime.timezone.utc
        for batch in batches:
            if batch.num_rows == 0:
                continue
            rows = [
                {"url": u,
                 "warc_ts": None if s is None else datetime.datetime.fromtimestamp(s, utc),
                 "text": t}
                for u, s, t in zip(*(c.to_pylist() for c in batch.columns))
            ]
            rows.sort(key=lambda r: r["url"])  # order-independent segments
            blob = gzip.compress(wet_bytes(rows), 6, mtime=0)
            name = hashlib.md5("\n".join(r["url"] for r in rows).encode()).hexdigest()[:16]
            yield pa.RecordBatch.from_pydict(
                {"segment": [name], "n_docs": [len(rows)], "wet_gz": [blob]}
            )

    ts = (
        F.unix_seconds("warc_ts")
        if "warc_ts" in extracted.columns
        else F.lit(None).cast("long")
    )
    return arrow_stage(
        extracted.select("url", ts.alias("warc_s"), "extracted_text"),
        segments, "segment string, n_docs long, wet_gz binary",
    )


def read_wet(spark, paths: list[str], partitions: int | None = None):
    """DataFrame of ``(url, warc_ts, text)`` from WET file paths, parsed
    incrementally on executors (mirror of :func:`.warc.read_warc`)."""

    def records(path):
        with open(path, "rb") as f:
            for row in parse_wet_stream(maybe_gunzip(f)):
                yield row["url"], row["warc_ts"], row["text"]

    return fanout(paths_df(spark, paths, partitions), records, WET_SCHEMA)


def q_wet_roundtrip(spark, sf_dir: str):
    """S6 sink closed in the driver gate: corpus → extraction →
    content-addressed gzipped WET segments (``to_wet_segments``) → parse
    back (``parse_wet_bytes``) → the recovered text must equal
    ``documents.text`` byte-identically per url. The r3 pin was
    golden-test-only; this runs the full serialize/parse cycle inside the
    DuckDB-checked correctness gate."""
    from ..corpus import corpus_from_documents

    corpus = corpus_from_documents(spark, sf_dir, payload="html")
    segs = to_wet_segments(extract_stage(corpus))

    def back(blob):
        for row in parse_wet_bytes(blob):
            yield row["url"], row["text"]

    return fanout(segs.select("wet_gz"), back, "url string, extracted_text string")


SQL_WET_ROUNDTRIP = """
SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       text AS extracted_text
FROM documents
"""
