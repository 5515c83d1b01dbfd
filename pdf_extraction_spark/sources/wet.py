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
  incrementally on executors (streamed, one record in memory at a time),
  reusing the WARC record machinery of :mod:`.warc`.

100 TB shape: both directions are embarrassingly parallel over
segments/batches; no shuffle anywhere.
"""

from __future__ import annotations

import datetime
import gzip
import io
import zlib

from . import paths_df
from . import warc as warcmod
from .warc import CRLF, iter_warc_records

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
        try:
            ts = datetime.datetime.strptime(
                headers.get("warc-date", ""), "%Y-%m-%dT%H:%M:%SZ"
            )
        except ValueError:
            ts = None
        yield {
            "url": url,
            "warc_ts": ts,
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
    the segment name is content-addressed (xxhash of member urls) so
    re-runs and speculative tasks produce identical objects."""
    import pandas as pd
    from pyspark.sql import functions as F

    def gen(batches):
        import hashlib

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"segment": [], "n_docs": [], "wet_gz": []})
                continue
            rows = [
                {"url": u,
                 "warc_ts": ts.to_pydatetime() if ts is not None and not pd.isna(ts) else None,
                 "text": t}
                for u, ts, t in zip(pdf["url"], pdf["warc_ts"],
                                    pdf["extracted_text"])
            ]
            rows.sort(key=lambda r: r["url"])  # order-independent segments
            blob = gzip.compress(wet_bytes(rows), 6, mtime=0)
            name = hashlib.md5("\n".join(r["url"] for r in rows).encode()).hexdigest()[:16]
            yield pd.DataFrame(
                {"segment": [name], "n_docs": [len(rows)], "wet_gz": [blob]}
            )

    ts = (
        F.col("warc_ts")
        if "warc_ts" in extracted.columns
        else F.lit(None).cast("timestamp").alias("warc_ts")
    )
    return extracted.select("url", ts, "extracted_text").mapInPandas(
        gen, schema="segment string, n_docs long, wet_gz binary"
    )


def read_wet(spark, paths: list[str], partitions: int | None = None):
    """DataFrame of ``(url, warc_ts, text)`` from WET file paths, parsed
    incrementally on executors (mirror of :func:`.warc.read_warc`)."""
    import pandas as pd  # noqa: F401

    def _parse(batches):
        import pandas as pd

        cols = ["url", "warc_ts", "text"]
        for pdf in batches:
            out: list[dict] = []
            for p in pdf["path"]:
                with open(p, "rb") as f:
                    stream = f
                    if f.read(2) == b"\x1f\x8b":
                        f.seek(0)
                        stream = gzip.GzipFile(fileobj=f)
                    else:
                        f.seek(0)
                    for row in parse_wet_stream(stream):
                        out.append(row)
                        if len(out) >= warcmod.ROWS_PER_BATCH:
                            yield pd.DataFrame(out, columns=cols)
                            out = []
            yield pd.DataFrame(out, columns=cols)

    return paths_df(spark, paths, partitions).mapInPandas(_parse, schema=WET_SCHEMA)


def q_wet_roundtrip(spark, sf_dir: str):
    """S6 sink closed in the driver gate: corpus → extraction →
    content-addressed gzipped WET segments (``to_wet_segments``) → parse
    back (``parse_wet_bytes``) → the recovered text must equal
    ``documents.text`` byte-identically per url. The r3 pin was
    golden-test-only; this runs the full serialize/parse cycle inside the
    DuckDB-checked correctness gate."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    from ..corpus import corpus_from_documents
    from ..pipeline import extract_corpus

    corpus = corpus_from_documents(spark, sf_dir, payload="html")
    extracted = extract_corpus(corpus, repartition=False)
    segs = to_wet_segments(extracted)

    def _back(batches):
        cols = ["url", "extracted_text"]
        for pdf in batches:
            out = []
            for blob in pdf["wet_gz"]:
                for row in parse_wet_bytes(bytes(blob)):
                    out.append({"url": row["url"], "extracted_text": row["text"]})
            yield pd.DataFrame(out, columns=cols)

    return segs.mapInPandas(_back, schema="url string, extracted_text string")


SQL_WET_ROUNDTRIP = """
SELECT 'https://' || source || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
       text AS extracted_text
FROM documents
"""
