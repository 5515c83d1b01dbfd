"""Per-partition checkpoint / lineage for resumable extraction runs.

North-rule requirement: "resumable from checkpoint with per-partition lineage
+ metrics". The reference has no restart story at all — a crash in its
per-document loop (hybrid_docling_gpt4_processor.py:474-532) loses the run.
At 10^12 documents a restartable unit is mandatory, so the corpus is split
into ``n_buckets`` host-hash buckets and each bucket is an idempotent unit of
work:

    bucket = pmod(xxhash64(url_host), n_buckets)

Protocol (pure batch — SURVEY.md §2.8: Structured Streaming is not required
by the rule; an anti-join restart over a lineage table is):

1. read ``{output}/_lineage`` (append-only parquet) ONCE, as one aggregate:
   ``(bucket, status, n_buckets) -> count`` — at most 2·n_buckets rows per
   grid. ``done`` buckets are skipped via an anti-filter (the bucket list is
   tiny — at most ``n_buckets`` literals — so it folds into the scan as a
   pushed predicate, pruning ``bucket=`` partition directories on re-read and
   short-circuiting work for completed hosts). Every lineage row records the
   ``n_buckets`` grid it was written under; resuming under a different grid
   (or over lineage that records none) raises.
2. append a ``pending`` row per remaining bucket (attempt = #prior pendings
   + 1, from the same aggregate) — this is the checkpoint "intent" record,
   written before any sink write, so every ``bucket=`` directory is covered
   by a row naming its grid.
3. extract remaining buckets; write parquet partitioned by ``bucket`` with
   dynamic partition overwrite, so a re-run of a half-written bucket
   replaces only its own directory (idempotent restart, no duplicates).
4. append ``done`` rows carrying per-bucket metrics (n_docs, n_errors,
   n_chars, wall seconds) — the A13 metrics-table analog
   (complete_multimodal_rag_evaluation.py:217-245 rebuilt as a table, not
   prints). The counts come from a :class:`.pipeline.BucketTally`
   accumulator that the kernel stage fills while it builds each batch, not
   from a read-back of the written wave: the kernel runs in the write job's
   result stage, where Spark applies each successful task's accumulator
   update exactly once (a failed or retried attempt adds nothing).

A crash between 3 and 4 leaves no ``done`` row → the bucket re-runs and its
partition directory is overwritten. A crash before 3 costs nothing. Restart
cost is O(remaining buckets).

The ``pending`` and ``done`` rows of steps 2 and 4 are built on the driver as
one Arrow table and handed to the JVM as a ``LocalRelation``
(:func:`.pipeline.local_df`): a list-based ``createDataFrame`` goes through
``sc.parallelize``, a ``PythonRDD`` whose Python worker tasks cost about as
much per append as the whole docs write on a small wave. ``ts`` is built
UTC-aware (``datetime.now(timezone.utc)``) because Arrow reads a naive
``datetime`` as UTC wall time, which would shift every stored instant by the
local offset; the aware value stores the same instant the list path did.
"""

from __future__ import annotations

import datetime
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .pipeline import BucketTally, extract_corpus, host_col, local_df

LINEAGE_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("status", T.StringType()),
    T.StructField("attempt", T.IntegerType()),
    T.StructField("n_buckets", T.IntegerType()),
    T.StructField("n_docs", T.LongType()),
    T.StructField("n_errors", T.LongType()),
    T.StructField("n_chars", T.LongType()),
    T.StructField("wall_s", T.DoubleType()),
    T.StructField("ts", T.TimestampType()),
])


def bucket_col(n_buckets: int, url_col: str = "url"):
    """Host-hash bucket id — the restartable unit of work."""
    return F.pmod(F.xxhash64(host_col(url_col)), F.lit(n_buckets)).cast("int")


def _lineage_path(output_path: str) -> str:
    return output_path.rstrip("/") + "/_lineage"


def read_lineage(spark: SparkSession, output_path: str) -> DataFrame | None:
    """The ``_lineage`` table, or None when it does not exist. Any other
    failure (an unknown scheme, a listing error) raises: it must not read
    as "no lineage", which would rerun every bucket."""
    path = _lineage_path(output_path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(jpath):
        return None
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path)


def completed_buckets(spark: SparkSession, output_path: str) -> set[int]:
    lin = read_lineage(spark, output_path)
    if lin is None:
        return set()
    return {r["bucket"] for r in lin.filter(F.col("status") == "done").select("bucket").distinct().collect()}


def _append_lineage(spark: SparkSession, output_path: str, rows: list[tuple]) -> None:
    local_df(spark, rows, LINEAGE_SCHEMA).coalesce(1).write.mode("append").parquet(
        _lineage_path(output_path)
    )


def run_resumable(
    corpus: DataFrame,
    output_path: str,
    n_buckets: int = 64,
    partitions: int | None = None,
    salt: int = 8,
    run_id: str | None = None,
    wave_size: int | None = None,
) -> dict:
    """Run (or resume) the extraction pipeline over ``corpus`` into
    ``output_path``, bucket-checkpointed. Returns a run summary dict.

    ``wave_size`` sets the commit granularity: buckets are processed in
    waves of that many buckets, with lineage committed after each wave, so a
    crash loses at most one wave of work. Default (None) = one wave — lowest
    overhead when the whole run is expected to fit one job. At 10^12-doc
    scale you pick wave_size so each wave is minutes of work; per-wave input
    scans prune on the pushed ``bucket IN (...)`` predicate. The ``docs/``
    write overwrites partitions dynamically by its own write option, leaving
    the session conf as it was.
    """
    spark = corpus.sparkSession
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.monotonic()

    # The one lineage read. ``done`` bucket ids only mean anything under the
    # ``pmod(xxhash64(host), n_buckets)`` that wrote them: resuming 64-bucket
    # lineage with n_buckets=32 would silently skip documents whose NEW
    # bucket id collides with an OLD done id, so any other grid refuses.
    lin = read_lineage(spark, output_path)
    counts = (
        lin.groupBy("bucket", "status", "n_buckets").count().collect()
        if lin is not None else []
    )
    grids = {r["n_buckets"] for r in counts} - {n_buckets}
    if None in grids:
        raise ValueError(
            f"lineage at {_lineage_path(output_path)} records no n_buckets "
            "(written before the grid was recorded) — start fresh"
        )
    if grids:
        raise ValueError(
            f"output at {output_path} was bucketed with n_buckets="
            f"{sorted(grids)}; resuming with n_buckets={n_buckets} "
            "would silently skip documents — rerun with the original "
            "bucket count or start fresh"
        )
    done = {r["bucket"] for r in counts if r["status"] == "done"}
    prior = {r["bucket"]: r["count"] for r in counts if r["status"] == "pending"}
    tagged = corpus.withColumn("bucket", bucket_col(n_buckets))

    # pending = complement of done — no corpus scan needed; buckets that turn
    # out empty simply record n_docs=0. At 10^12 rows a distinct() over the
    # corpus just to enumerate buckets would be a full extra scan.
    pending = [b for b in range(n_buckets) if b not in done]
    summary = {
        "run_id": run_id, "n_buckets": n_buckets, "buckets_run": 0,
        "buckets_skipped": len(done), "n_docs": 0, "n_errors": 0,
        "wall_s": 0.0, "extract_phase_s": 0.0, "resumed": bool(done),
    }
    if not pending:
        summary["wall_s"] = round(time.monotonic() - t0, 3)
        return summary

    docs_path = output_path.rstrip("/") + "/docs"
    wave_size = wave_size or len(pending)
    waves = [pending[i:i + wave_size] for i in range(0, len(pending), wave_size)]

    for wave in waves:
        ts = datetime.datetime.now(datetime.timezone.utc)
        _append_lineage(
            spark, output_path,
            [(run_id, int(b), "pending", int(prior.get(b, 0)) + 1, n_buckets,
              None, None, None, None, ts) for b in wave],
        )
        wave_in = (
            tagged if len(waves) == 1 and not done
            else tagged.filter(F.col("bucket").isin(*[int(b) for b in wave]))
        )
        tally = spark.sparkContext.accumulator({}, BucketTally())
        extracted = extract_corpus(
            wave_in.select("url", "html", "bucket"), partitions=partitions,
            salt=salt, keep_cols=("bucket",),
            # align the one-and-only shuffle to the bucket grid: each task
            # holds whole (bucket, url-salt) groups, so the partitioned sink
            # below needs NO second full-output shuffle and still writes a
            # bounded number of files per bucket. Skew defusal is unchanged —
            # a hot host's bucket spreads over `salt` url-hash groups.
            partition_exprs=[
                F.col("bucket"), F.pmod(F.xxhash64(F.col("url")), F.lit(salt)),
            ],
            tally=tally,
        )

        # The upstream repartition is bucket-aligned, so each task already
        # holds whole (bucket, salt) groups — the partitioned write emits
        # ~n_buckets*salt files total regardless of task count, with no
        # output-sized shuffle here (that shuffle was the anti-scaling term
        # on a shared memory bus). Dynamic partition overwrite keeps re-runs
        # of a half-written wave idempotent.
        t_ex = time.monotonic()
        (
            extracted.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(docs_path)
        )
        wall_ex = time.monotonic() - t_ex

        # the kernel ran in the write job's result stage, so each successful
        # task's counts were added exactly once
        stats = tally.value
        ts = datetime.datetime.now(datetime.timezone.utc)
        _append_lineage(
            spark, output_path,
            [
                (
                    run_id, int(b), "done", int(prior.get(b, 0)) + 1, n_buckets,
                    *stats.get(b, (0, 0, 0)),
                    round(wall_ex / max(len(wave), 1), 4), ts,
                )
                for b in wave
            ],
        )
        summary["buckets_run"] += len(wave)
        summary["n_docs"] += sum(s[0] for s in stats.values())
        summary["n_errors"] += sum(s[1] for s in stats.values())
        summary["extract_phase_s"] = round(summary["extract_phase_s"] + wall_ex, 3)

    summary["wall_s"] = round(time.monotonic() - t0, 3)
    return summary


def metrics_summary(spark: SparkSession, output_path: str) -> DataFrame:
    """Per-run metrics rollup from the lineage table (A13 analog)."""
    lin = read_lineage(spark, output_path)
    if lin is None:
        raise FileNotFoundError(f"no lineage at {_lineage_path(output_path)}")
    return (
        lin.filter(F.col("status") == "done")
        .groupBy("run_id")
        .agg(
            F.countDistinct("bucket").alias("buckets"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_errors").alias("n_errors"),
            F.sum("n_chars").alias("n_chars"),
            F.max("attempt").alias("max_attempt"),
        )
    )
