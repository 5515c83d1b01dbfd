"""Structured Streaming ingest: continuous / incremental extraction.

The reference is a run-to-completion batch script (SURVEY.md §2.8 — no
streaming operators exist in it), and the north rule's resumability
requirement is met by the batch lineage protocol in :mod:`.lineage`. This
module is the *scale path beyond* that: a Common-Crawl-style corpus lands as
parquet files over time, and the extraction pipeline runs as an incremental
Structured Streaming job —

    readStream(corpus dir) → mapInArrow(kernels) → writeStream(parquet sink)

with ``Trigger.AvailableNow`` for drain-and-stop batch-of-streams runs and
the stream checkpoint providing exactly-once file-level progress (the
streaming analog of the bucket lineage table). ``maxFilesPerTrigger``
bounds micro-batch size so executor memory is sized by config, not by
whatever landed in the directory.

The transformation body is exactly :func:`..pipeline.extract_stage` — the
same declarative plan runs batch or streaming unchanged, which is the point
of building on the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .pipeline import extract_stage, host_col
from .sources.warc import CORPUS_SCHEMA  # ONE corpus schema, not a copy


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Start an AvailableNow streaming extraction; returns the query.

    Call ``query.awaitTermination()`` to drain everything currently in
    ``input_dir``; re-running later processes only files that arrived since
    the last run (checkpointed file log — the restart story needs no
    application code at all here).
    """
    reader = spark.readStream.schema(CORPUS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    corpus = reader.parquet(input_dir)

    extracted = extract_stage(corpus)
    # the kernel stage without the salted shuffle: a streaming micro-batch is
    # already split into file-sized tasks; the shuffle matters for hot-host
    # batch scans, while here it would add a shuffle per trigger.

    return (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


# -- watermarked event-time windows ------------------------------------------------


def stream_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
):
    """Event-time windowed crawl-volume counts with late-data handling.

    ``withWatermark(warc_ts)`` bounds how late a record may arrive and lets
    the state store evict finalized windows: per (event-time window, host),
    emit ``n_docs``/``n_bytes`` exactly once in append mode when the
    watermark passes the window end. Records later than the watermark are
    dropped — the documented trade of bounded state for bounded lateness,
    which is what makes the aggregation runnable forever at crawl scale
    (state size is O(open windows × hosts), not O(stream)).

    AvailableNow semantics: a drain advances the watermark to (max event
    time seen − delay); windows the new watermark closes are emitted by the
    NEXT drain's commit. The batch analog is a plain groupBy(window) — same
    plan, unbounded state.
    """
    from pyspark.sql import functions as F

    corpus = spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)
    agg = (
        corpus.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), host_col().alias("host"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("html")).alias("n_bytes"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "host",
            "n_docs",
            "n_bytes",
        )
    )
    return (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


# -- custom stateful operator -----------------------------------------------------


HOST_STATS_OUTPUT = (
    "host string, total_docs long, total_bytes long, batch_docs long"
)
HOST_STATS_STATE = "total_docs long, total_bytes long"


def _update_host_stats(key, pdfs, state):
    """applyInPandasWithState update: accumulate per-host doc/byte totals
    across micro-batches AND across restarts (state store checkpointing).
    This is the streaming analog of the lineage metrics table (A13,
    complete_multimodal_rag_evaluation.py:217-245) as a continuous operator."""
    import pandas as pd

    docs = 0
    nbytes = 0
    for pdf in pdfs:
        docs += len(pdf)
        nbytes += int(pdf["n_bytes"].sum())
    prev_docs, prev_bytes = state.get if state.exists else (0, 0)
    state.update((prev_docs + docs, prev_bytes + nbytes))
    yield pd.DataFrame(
        {
            "host": [key[0]],
            "total_docs": [prev_docs + docs],
            "total_bytes": [prev_bytes + nbytes],
            "batch_docs": [docs],
        }
    )


def stream_host_stats(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start an AvailableNow stateful stream of per-host corpus statistics.

    Keyed state lives in the stream's state store: a later drain (new files
    in ``input_dir``) resumes from the checkpoint and emits updated running
    totals — custom stateful semantics no built-in windowed agg expresses
    (the running total must survive the query stopping between drains).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    corpus = spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)
    per_doc = corpus.select(
        host_col().alias("host"), F.length("html").alias("n_bytes")
    )
    stats = per_doc.groupBy("host").applyInPandasWithState(
        _update_host_stats,
        outputStructType=HOST_STATS_OUTPUT,
        stateStructType=HOST_STATS_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        stats.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )


# -- streaming exact dedup ------------------------------------------------------

DEDUP_OUTPUT = "content_key long, url string, batch_dups int"
DEDUP_STATE = "seen int"


def _update_dedup(key, pdfs, state):
    """applyInPandasWithState update for dedup-on-ingest: the first document
    ever seen for a content key is the keeper; everything after it — in the
    same micro-batch, a later batch, or after a restart (state store
    checkpointing) — is a duplicate and is dropped. Emits one row per key
    per batch only when the keeper is in that batch. Row order within a
    state group is NOT guaranteed, so the keeper is chosen by a stable rule
    (min url) — a retried/re-run batch must emit the same keeper."""
    import pandas as pd

    rows = []
    dups = 0
    for pdf in pdfs:
        for url in pdf["url"]:
            rows.append(str(url))
    if state.exists:
        # keeper already emitted in an earlier batch: everything is a dup
        state.update((int(state.get[0]) + len(rows),))
        yield pd.DataFrame({"content_key": [], "url": [], "batch_dups": []})
        return
    state.update((len(rows) - 1,))
    yield pd.DataFrame(
        {
            "content_key": [key[0]],
            "url": [min(rows)],
            "batch_dups": [len(rows) - 1],
        }
    )


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Start an AvailableNow dedup-on-ingest stream: exactly one keeper per
    distinct text ever enters the sink, across micro-batches AND restarts.

    The batch engine's `dedup_exact` needs the whole corpus in one job; a
    continuously-ingesting pipeline needs the seen-set to live in the
    stream's state store instead — keyed by a 64-bit content hash so state
    is 8 bytes + counters per distinct document, never the text itself
    (the 100 TB-friendly shape)."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    corpus = spark.readStream.schema(CORPUS_SCHEMA).parquet(input_dir)
    # content key falls back html -> url when text is null: xxhash64(NULL)
    # is the constant seed, so a null-text corpus (exactly what the WARC
    # source writes — text is populated by EXTRACTION, not ingest) would
    # otherwise collapse into ONE state group and "dedup" away everything
    # but a single keeper
    content = F.when(F.col("text").isNotNull(), F.xxhash64("text")).otherwise(
        F.when(F.col("html").isNotNull(), F.xxhash64("html")).otherwise(
            F.xxhash64("url")
        )
    )
    keyed = corpus.select(content.alias("content_key"), "url")
    kept = keyed.groupBy("content_key").applyInPandasWithState(
        _update_dedup,
        outputStructType=DEDUP_OUTPUT,
        stateStructType=DEDUP_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        kept.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
    )
