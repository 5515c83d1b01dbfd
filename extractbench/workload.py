"""Seeded benchmark inputs: ``synth_rows`` corpora written as parquet.

The program under test only ever sees the parquet table, in the
``(url, warc_ts, html, text, lang)`` shape the job reads.
"""

from __future__ import annotations

import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extraction_spark.corpus import HOSTS, synth_rows

HEAVY_HOST = HOSTS[0]
N_FILES = 8
KERNEL_DOCS = 1000  # per method, for the single-thread kernel timing
SAMPLE_DOCS = 200  # for the correctness gate

# workload -> (docs per pass, PDF fraction, files clustered by host)
WORKLOADS = {
    "html_pages": (6_000, 0.0, True),
    "pdf_docs": (1_800, 1.0, False),
    "html_outlinks": (6_000, 0.0, True),
}


def generate(workload: str, seed: int, n_docs: int | None = None) -> list[dict]:
    """Corpus rows for ``workload``, in the order they are written.

    Every url and every payload is distinct, so a content-keyed cache
    cannot turn repeated documents into a false gain. ``synth_rows``
    emits one fixed table-only PDF lane; a repeated payload gets a
    trailing comment (``%`` for PDF, ``<!-- -->`` for HTML), which leaves
    its extracted text, spans and links unchanged.
    """
    n, pdf_fraction, clustered = WORKLOADS[workload]
    rows = synth_rows(n_docs or n, seed=seed, pdf_fraction=pdf_fraction)
    seen = set()
    for i, r in enumerate(rows):
        if r["html"] in seen:
            tail = b"\n%%row %d\n" if r["html"].startswith(b"%PDF-") else b"<!-- row %d -->"
            r["html"] += tail % i
        seen.add(r["html"])
    if clustered:
        rows.sort(key=lambda r: r["url"])
    else:
        random.Random(seed).shuffle(rows)
    return rows


def kernel_docs(seed: int, method: str) -> list[bytes]:
    """Payloads for the single-thread kernel timing, one method only."""
    rows = synth_rows(KERNEL_DOCS, seed=seed + 1, pdf_fraction=1.0 if method == "pdf" else 0.0)
    return [r["html"] for r in rows]


def write_parquet(rows: list[dict], path: str) -> list[str]:
    """Write ``rows`` in order as ``N_FILES`` parquet files under ``path``."""
    table = pa.table(
        {
            "url": pa.array([r["url"] for r in rows], pa.string()),
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "text": pa.array([r["text"] for r in rows], pa.string()),
            "lang": pa.array([r["lang"] for r in rows], pa.string()),
        }
    )
    os.makedirs(path)
    step = -(-len(rows) // N_FILES)
    files = []
    for k in range(N_FILES):
        f = os.path.join(path, f"part-{k:03d}.parquet")
        pq.write_table(table.slice(k * step, step), f)
        files.append(f)
    return files


def corpus_hash(rows: list[dict]) -> str:
    """Digest of every (url, payload) in order."""
    h = hashlib.sha256()
    for r in rows:
        h.update(r["url"].encode())
        h.update(b"\0")
        h.update(hashlib.sha256(r["html"]).digest())
    return h.hexdigest()[:16]


def sample(rows: list[dict], seed: int) -> list[dict]:
    """Fixed seeded sample of rows for the correctness gate."""
    return random.Random(seed ^ 0x5EED).sample(rows, min(SAMPLE_DOCS, len(rows)))
