"""WARC source: read Common-Crawl-style WARC files into the corpus schema.

Common Crawl ships as WARC (ISO 28500) — gzip members of
``WARC/1.0`` records with headers + payload. The reference repo only reads
local PDF paths (advanced_layout_extractor.py:203-206); at web scale the
native input is WARC, so this connector parses ``response`` records into the
BASELINE.json corpus shape ``(url, warc_ts, html, text, lang)``
(``text``/``lang`` null — they are extraction *outputs* upstream crawls may
or may not carry).

Spark-first design: the file list is parallelized as a DataFrame of paths
and each WARC is parsed by a per-path :func:`..pipeline.fanout` function
(one ``mapInArrow`` stage: paths in, Arrow batches of at most
``pipeline.ROWS_PER_BATCH`` records out) — the WARC parser is per-executor pure
Python, no per-row JVM crossings, and a 1000-executor cluster splits a file
listing the same way it splits any other scan. Record parsing is streaming
(never holds a whole WARC in memory beyond one record payload).

Writer (:func:`write_warc`) exists for tests/fixtures: deterministic WARC
bytes (fixed-format timestamps, sorted headers) so golden tests can
round-trip corpus → WARC → corpus byte-identically.
"""

from __future__ import annotations

import datetime
import gzip
import io
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..pipeline import fanout
from . import paths_df

CRLF = b"\r\n"

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


# -- record-level parser (pure Python, executor-side) ---------------------------


def iter_warc_records(stream) -> "iter[tuple[dict, bytes]]":
    """Stream (headers, payload) for each WARC record in a raw byte stream.

    Tolerant: a malformed record (bad leader, unparseable Content-Length)
    RESYNCS to the next ``WARC/`` leader line instead of silently ending
    iteration — mid-file corruption in a 1 GB segment must cost one
    record, not every record after it (the swallow-and-degrade posture of
    the reference, advanced_layout_extractor.py:690-691). Only a payload
    truncated by EOF ends the stream. Header values decode as UTF-8
    (WARC 1.0 §4: header content is UTF-8 — an ASCII decode mangles every
    non-ASCII WARC-Target-URI and breaks the write_warc round-trip).
    """
    bad_leaders = 0
    while True:
        line = stream.readline()
        if not line:
            return
        if line.strip() == b"":
            continue
        if not line.startswith(b"WARC/"):
            # corruption: skip forward line-by-line to the next record
            # leader (bounded — each readline consumes input)
            bad_leaders += 1
            if bad_leaders > 100_000:
                return  # not a WARC at all; stop scanning
            continue
        headers: dict[str, str] = {}
        while True:
            h = stream.readline()
            if not h or h in (CRLF, b"\n"):
                break
            if b":" in h:
                k, v = h.split(b":", 1)
                headers[k.strip().decode("utf-8", "replace").lower()] = v.strip().decode(
                    "utf-8", "replace"
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            continue  # resync: this record is unreadable, the next may not be
        payload = stream.read(length)
        if len(payload) < length:
            return  # truncated by EOF
        yield headers, payload


def _dechunk(body: bytes) -> bytes:
    """Reverse HTTP/1.1 chunked transfer encoding (total: malformed chunk
    framing returns what was decoded so far plus nothing further)."""
    out = bytearray()
    p = 0
    n = len(body)
    while p < n:
        eol = body.find(b"\r\n", p)
        if eol < 0:
            break
        try:
            size = int(body[p:eol].split(b";")[0].strip() or b"0", 16)
        except ValueError:
            break
        if size == 0:
            break
        out += body[eol + 2 : eol + 2 + size]
        p = eol + 2 + size + 2  # skip chunk payload + trailing CRLF
    return bytes(out)


def _strip_http_envelope(payload: bytes) -> bytes:
    """WARC response records carry a raw HTTP response: drop the header
    block and reverse the wire encodings real crawls actually use —
    Transfer-Encoding: chunked framing and Content-Encoding: gzip/deflate
    compression — so the html column holds the document bytes."""
    if payload[:5] != b"HTTP/":
        return payload
    sep = payload.find(b"\r\n\r\n")
    if sep == -1:
        return payload
    headers = payload[:sep].lower()
    body = payload[sep + 4 :]
    if b"transfer-encoding:" in headers and b"chunked" in headers:
        body = _dechunk(body)
    if b"content-encoding:" in headers:
        try:
            if b"gzip" in headers and body[:2] == b"\x1f\x8b":
                body = gzip.decompress(body)
            elif b"deflate" in headers:
                import zlib as _z

                try:
                    body = _z.decompress(body)
                except _z.error:
                    body = _z.decompress(body, -15)  # raw deflate variant
        except Exception:
            pass  # keep the bytes we have (total behavior)
    return body


def parse_warc_date(raw: str) -> datetime.datetime | None:
    """``WARC-Date`` (``2025-01-01T00:00:00Z``) as a UTC-aware instant, or
    None when malformed. Aware, so no session or process zone can shift it
    on the way into a Spark timestamp."""
    try:
        return datetime.datetime.strptime(raw, "%Y-%m-%dT%H:%M:%SZ").replace(
            tzinfo=datetime.timezone.utc
        )
    except ValueError:
        return None


def maybe_gunzip(f):
    """Binary file ``f`` as a raw byte stream: a streaming gunzip when it
    starts with the gzip magic, else ``f`` itself (rewound)."""
    gz = f.read(2) == b"\x1f\x8b"
    f.seek(0)
    return gzip.GzipFile(fileobj=f) if gz else f


def parse_warc_stream(stream) -> "iter[dict]":
    """Yield corpus rows from a raw (decompressed) WARC byte stream, one
    record at a time — holds at most one record payload in memory. A corrupt
    gzip tail surfacing mid-read ends iteration (degrade, don't crash)."""
    records = iter_warc_records(stream)
    while True:
        try:
            headers, payload = next(records)
        except StopIteration:
            return
        except (OSError, EOFError, zlib.error):
            # corrupt compressed tail: BadGzipFile is an OSError, but
            # mid-member corruption raises bare zlib.error
            return
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        yield {
            "url": url,
            "warc_ts": parse_warc_date(headers.get("warc-date", "")),
            "html": _strip_http_envelope(payload),
            "text": None,
            "lang": None,
        }


def parse_warc_bytes(data: bytes) -> list[dict]:
    """Parse one in-memory WARC (possibly gzipped) into corpus rows —
    convenience for tests/fixtures; the connector streams instead."""
    stream: io.BufferedIOBase = io.BytesIO(data)
    if data[:2] == b"\x1f\x8b":
        stream = gzip.GzipFile(fileobj=stream)
    return list(parse_warc_stream(stream))


# -- Spark connector -------------------------------------------------------------


def read_warc(spark: SparkSession, paths: list[str], partitions: int | None = None) -> DataFrame:
    """DataFrame of corpus rows from WARC file paths, parsed on executors.

    Each file is parsed incrementally from a (gzip) file stream — a ~1 GB
    compressed Common Crawl WARC never materializes whole in executor
    memory; output rows are yielded in bounded Arrow batches."""

    def records(path):
        with open(path, "rb") as f:
            for row in parse_warc_stream(maybe_gunzip(f)):
                yield tuple(row[c] for c in CORPUS_SCHEMA.names)

    return fanout(paths_df(spark, paths, partitions), records, CORPUS_SCHEMA)


# -- deterministic writer (fixtures/tests) ----------------------------------------


def write_warc(rows: list[dict], path: str, compress: bool = False) -> None:
    """Write corpus rows as a deterministic WARC file (response records)."""
    buf = io.BytesIO()
    for i, r in enumerate(rows):
        ts = r.get("warc_ts") or datetime.datetime(2025, 1, 1)
        http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + (r["html"] or b"")
        headers = [
            ("WARC-Type", "response"),
            ("WARC-Record-ID", f"<urn:uuid:{i:032d}>"),
            ("WARC-Date", ts.strftime("%Y-%m-%dT%H:%M:%SZ")),
            ("WARC-Target-URI", r["url"]),
            ("Content-Type", "application/http; msgtype=response"),
            ("Content-Length", str(len(http))),
        ]
        buf.write(b"WARC/1.0" + CRLF)
        for k, v in headers:
            buf.write(k.encode() + b": " + str(v).encode() + CRLF)
        buf.write(CRLF)
        buf.write(http)
        buf.write(CRLF + CRLF)
    data = buf.getvalue()
    if compress:
        data = gzip.compress(data, mtime=0)
    with open(path, "wb") as f:
        f.write(data)


def http_header(payload: bytes, name: str) -> str | None:
    """First value of ``name`` (case-insensitive) in a WARC response
    record's HTTP envelope, or None without one — the generic accessor
    behind redirect (Location) and caching (Last-Modified/ETag) signals.
    Same envelope scan as :func:`http_envelope_meta`."""
    if payload[:5] != b"HTTP/":
        return None
    sep = payload.find(b"\r\n\r\n")
    head = payload[: sep if sep != -1 else len(payload)]
    probe = name.lower().encode() + b":"
    n = len(probe)
    for ln in head.split(b"\r\n")[1:]:
        if ln[:n].lower() == probe:
            return ln[n:].strip().decode("latin-1", "replace") or None
    return None


def http_envelope_meta(payload: bytes) -> tuple:
    """(status, content_type) from a WARC response record's HTTP envelope —
    the curation signals crawls filter on before extraction (non-200 drop,
    mime gate). Returns (None, None) when no envelope is present."""
    if payload[:5] != b"HTTP/":
        return (None, None)
    sep = payload.find(b"\r\n\r\n")
    head = payload[: sep if sep != -1 else len(payload)]
    lines = head.split(b"\r\n")
    status = None
    parts = lines[0].split(b" ", 2)
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    ctype = None
    for ln in lines[1:]:
        if ln[:13].lower() == b"content-type:":
            ctype = ln[13:].strip().split(b";")[0].decode(
                "latin-1", "replace"
            ).strip().lower() or None
            break
    return (status, ctype)
