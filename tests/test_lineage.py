"""Checkpoint/lineage resumability tests (north rule: "resumable from
checkpoint with per-partition lineage + metrics")."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from pdf_extraction_spark import lineage
from pdf_extraction_spark.corpus import compute_goldens, synth_rows

N = 120
N_BUCKETS = 8


@pytest.fixture(scope="module")
def corpus_df(spark):
    rows = synth_rows(N, seed=7)
    df = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    return df, {g["url"]: g["extracted_text"] for g in compute_goldens(rows)}


def _read_texts(spark, out):
    return {
        r["url"]: r["extracted_text"]
        for r in spark.read.parquet(out + "/docs").select("url", "extracted_text").collect()
    }


def test_single_shot_run(spark, corpus_df, tmp_path):
    df, goldens = corpus_df
    out = str(tmp_path / "run1")
    summary = lineage.run_resumable(df, out, n_buckets=N_BUCKETS, partitions=4)
    assert summary["n_docs"] == N
    assert summary["buckets_run"] >= 1
    assert not summary["resumed"]
    assert _read_texts(spark, out) == goldens


def _poison(monkeypatch, buckets):
    """Make ``run_resumable``'s docs write raise for rows in ``buckets``,
    crashing whichever wave holds them: the plan is built on the driver, so
    wrapping ``lineage.extract_corpus`` there adds a failing stage to it."""
    real = lineage.extract_corpus

    def extract_corpus(*args, **kwargs):
        extracted = real(*args, **kwargs)

        def bomb(batches):
            for batch in batches:
                if buckets & set(batch.column("bucket").to_pylist()):
                    raise RuntimeError(f"injected failure for buckets {sorted(buckets)}")
                yield batch

        return extracted.mapInArrow(bomb, extracted.schema)

    monkeypatch.setattr(lineage, "extract_corpus", extract_corpus)


def test_crash_then_resume_byte_identical(spark, corpus_df, tmp_path, monkeypatch):
    """Crash mid-run (injected failure aborts the wave holding the poisoned
    bucket), resume, and end with the exact single-shot output — no loss, no
    duplicates, no reprocess of committed waves."""
    df, goldens = corpus_df
    out = str(tmp_path / "run2")

    # wave_size=2 -> waves [0,1] [2,3] [4,5] [6,7]; poison bucket 7 so the
    # first three waves commit and the last wave crashes.
    with monkeypatch.context() as m, pytest.raises(Exception, match="injected failure"):
        _poison(m, {7})
        lineage.run_resumable(
            df, out, n_buckets=N_BUCKETS, partitions=4, run_id="r1", wave_size=2,
        )
    committed = lineage.completed_buckets(spark, out)
    assert committed == {0, 1, 2, 3, 4, 5}

    # resume: only the crashed wave's buckets run
    s2 = lineage.run_resumable(df, out, n_buckets=N_BUCKETS, partitions=4, run_id="r2")
    assert s2["resumed"]
    assert s2["buckets_run"] == 2
    assert s2["buckets_skipped"] == 6
    assert _read_texts(spark, out) == goldens

    # idempotent: a third run does nothing
    s3 = lineage.run_resumable(df, out, n_buckets=N_BUCKETS, partitions=4, run_id="r3")
    assert s3["buckets_run"] == 0
    assert _read_texts(spark, out) == goldens

    # attempt counter recorded the retry on the crashed buckets
    lin = lineage.read_lineage(spark, out)
    attempts = {
        r["bucket"]: r["a"]
        for r in lin.filter("status = 'done'").groupBy("bucket").agg(
            F.max("attempt").alias("a")).collect()
    }
    assert attempts[7] == 2 and attempts[0] == 1


def test_run_leaves_session_overwrite_mode_alone(spark, corpus_df, tmp_path):
    """The docs write overwrites partitions dynamically through its own
    option: after a run, a partitioned ``overwrite`` in the same session
    still replaces the whole table."""
    df, _ = corpus_df
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    lineage.run_resumable(df, str(tmp_path / "run8"), n_buckets=N_BUCKETS, partitions=4)
    assert spark.conf.get(key) == before
    table = str(tmp_path / "table")
    spark.range(4).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(table)
    spark.range(1).selectExpr("id", "0 AS p").write.mode("overwrite").partitionBy("p").parquet(table)
    assert [tuple(r) for r in spark.read.parquet(table).collect()] == [(0, 0)]


def test_metrics_summary(spark, corpus_df, tmp_path):
    df, _ = corpus_df
    out = str(tmp_path / "run3")
    lineage.run_resumable(df, out, n_buckets=N_BUCKETS, partitions=4, run_id="m1")
    m = {r["run_id"]: r for r in lineage.metrics_summary(spark, out).collect()}
    assert m["m1"]["n_docs"] == N
    assert m["m1"]["n_chars"] > 0
    assert m["m1"]["max_attempt"] == 1


def test_bucket_pruning_pushdown(spark, corpus_df, tmp_path):
    """Completed-bucket filter must prune bucket= partition dirs on the
    output scan (partition pruning check)."""
    df, _ = corpus_df
    out = str(tmp_path / "run4")
    lineage.run_resumable(df, out, n_buckets=N_BUCKETS, partitions=4)
    scan = spark.read.parquet(out + "/docs").filter(F.col("bucket") == 3)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]


def test_resume_with_different_bucket_grid_refuses(spark, tmp_path):
    """Resuming 8-bucket lineage with n_buckets=4 would silently skip
    documents whose new bucket id collides with an old done id (review
    finding) — it must raise instead."""
    import pytest

    from pdf_extraction_spark.lineage import run_resumable

    corpus = spark.createDataFrame(
        [(f"https://h{i}.x/d{i}", None, None, None, None) for i in range(8)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "out")
    run_resumable(corpus, out, n_buckets=8)
    with pytest.raises(ValueError, match="n_buckets"):
        run_resumable(corpus, out, n_buckets=4)
    # same grid resumes cleanly and skips all done buckets
    s = run_resumable(corpus, out, n_buckets=8)
    assert s["buckets_run"] == 0 and s["resumed"]


def test_grid_recorded_before_first_sink_write(spark, corpus_df, tmp_path, monkeypatch):
    """A crash in the FIRST wave leaves only ``pending`` rows — they alone
    must carry the grid, so resuming under another grid still refuses."""
    df, _ = corpus_df
    out = str(tmp_path / "run5")
    first_wave = {0, 1}
    hit = {
        r["b"] for r in df.select(lineage.bucket_col(N_BUCKETS).alias("b")).distinct().collect()
    } & first_wave
    assert hit, "corpus leaves the first wave empty"
    with monkeypatch.context() as m, pytest.raises(Exception, match="injected failure"):
        _poison(m, {min(hit)})
        lineage.run_resumable(df, out, n_buckets=N_BUCKETS, partitions=4, wave_size=2)
    assert lineage.completed_buckets(spark, out) == set()
    with pytest.raises(ValueError, match="n_buckets"):
        lineage.run_resumable(df, out, n_buckets=4, partitions=4)


def test_lineage_without_grid_refuses(spark, corpus_df, tmp_path):
    """Lineage in the schema that predates the ``n_buckets`` column cannot
    say which grid its ``done`` ids belong to: fail closed, resume nothing."""
    df, _ = corpus_df
    out = str(tmp_path / "run6")
    old_schema = (
        "run_id string, bucket int, status string, attempt int, "
        "n_docs long, n_errors long, n_chars long, wall_s double, ts timestamp"
    )
    spark.createDataFrame(
        [("old", b, "done", 1, 0, 0, 0, 0.0, None) for b in range(N_BUCKETS)],
        old_schema,
    ).coalesce(1).write.parquet(out + "/_lineage")
    with pytest.raises(ValueError, match="start fresh"):
        lineage.run_resumable(df, out, n_buckets=N_BUCKETS, partitions=4)
    assert os.listdir(out) == ["_lineage"]
    assert lineage.read_lineage(spark, out).count() == N_BUCKETS


def test_spark_job_budget(spark, corpus_df, tmp_path):
    """Bookkeeping jobs are a fixed cost on every run: a fresh single-wave run
    is 4 jobs (pending append, 2 for the shuffled sink write, done append;
    the done rows' counts come from the kernel stage, with no read-back of
    the wave) and a no-op resume is the one aggregate lineage read (2 jobs).
    Either count going up means a new pass over the tables."""
    df, _ = corpus_df
    sc = spark.sparkContext
    out = str(tmp_path / "run7")

    def n_jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            summary = lineage.run_resumable(df, out, n_buckets=N_BUCKETS, partitions=4, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return summary, len(sc.statusTracker().getJobIdsForGroup(group))

    fresh, fresh_jobs = n_jobs(f"fresh-{tmp_path.name}")
    noop, noop_jobs = n_jobs(f"noop-{tmp_path.name}")
    assert fresh["buckets_run"] == N_BUCKETS and noop["buckets_run"] == 0
    assert fresh_jobs <= 4
    assert noop_jobs <= 2
    assert sorted(os.listdir(out)) == ["_lineage", "docs"]


def test_done_rows_equal_the_written_docs(spark, tmp_path):
    """Each bucket's ``done`` row carries exactly what a ``groupBy`` over
    the written ``docs/`` gives: 0/0/0 for an empty bucket, error rows
    counted, and ``n_chars`` in code points (a non-BMP character is one)."""
    html = "<html><body><p>grin \U0001F600 and \u00e9t\u00e9</p></body></html>"
    payloads = [html.encode(), None, b"%PDF-1.4 garbage", bytes(range(256)) * 4,
                b"<html><body><p>plain words</p></body></html>"]
    corpus = spark.createDataFrame(
        [(f"https://h{i % 3}.x/d{i}", None, payloads[i % len(payloads)], None, None)
         for i in range(30)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "counts")
    summary = lineage.run_resumable(corpus, out, n_buckets=N_BUCKETS, partitions=4)

    docs = spark.read.parquet(out + "/docs")
    want = {b: (0, 0, 0) for b in range(N_BUCKETS)}
    for r in docs.groupBy("bucket").agg(
        F.count("*"), F.count("error"), F.sum(F.length("extracted_text"))
    ).collect():
        want[r[0]] = (r[1], r[2], r[3])
    done = lineage.read_lineage(spark, out).filter("status = 'done'")
    got = {r["bucket"]: (r["n_docs"], r["n_errors"], r["n_chars"]) for r in done.collect()}
    assert got == want
    assert (0, 0, 0) in want.values()  # three hosts over eight buckets
    assert summary["n_docs"] == 30 and summary["n_errors"] == sum(v[1] for v in want.values()) > 0
    texts = [r[0] for r in docs.select("extracted_text").collect()]
    assert any("\U0001F600" in t for t in texts)


def test_read_lineage_missing_vs_failing(spark, tmp_path):
    """Only a missing ``_lineage`` reads as "no lineage"; a path that
    cannot be listed raises instead of rerunning every bucket."""
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError, match="nosuchfs"):
        lineage.completed_buckets(spark, "nosuchfs://b/out")
    assert lineage.completed_buckets(spark, str(tmp_path / "missing")) == set()
    with pytest.raises(FileNotFoundError):
        lineage.metrics_summary(spark, str(tmp_path / "missing"))


def _micros(ts) -> int:
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    return (ts - epoch) // datetime.timedelta(microseconds=1)


def test_lineage_rows_round_trip_exactly(spark, tmp_path, shifted_zones):
    """Every ``LINEAGE_SCHEMA`` column reads back with its type and value,
    including the NULL metrics of ``pending`` rows and the exact ``ts``
    instant (compared as ``unix_micros``, which no zone can shift)."""
    out = str(tmp_path / "rt")
    ts = datetime.datetime(2026, 3, 8, 9, 30, 15, 123456, tzinfo=datetime.timezone.utc)
    rows = [
        ("r1", 3, "pending", 2, 16, None, None, None, None, ts),
        ("r1", 3, "done", 2, 16, 5_000_000_000, 7, 2**40 + 1, 0.125, ts),
    ]
    lineage._append_lineage(spark, out, rows)
    back = lineage.read_lineage(spark, out)
    assert back.schema == lineage.LINEAGE_SCHEMA
    got = sorted(
        tuple(r)
        for r in back.select(
            *[c for c in back.columns if c != "ts"], F.unix_micros("ts")
        ).collect()
    )
    assert got == sorted(r[:-1] + (_micros(ts),) for r in rows)


def test_lineage_ts_is_the_run_instant(spark, tmp_path, shifted_zones):
    """``run_resumable`` stamps its rows with the instant it ran: a naive
    local ``datetime`` would read back off by the process or session zone's
    UTC offset."""
    corpus = spark.createDataFrame(
        [(f"https://h{i}.x/d{i}", None, None, None, None) for i in range(4)],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    out = str(tmp_path / "ts")
    before = _micros(datetime.datetime.now(datetime.timezone.utc))
    lineage.run_resumable(corpus, out, n_buckets=2)
    after = _micros(datetime.datetime.now(datetime.timezone.utc))
    stamped = [
        r[0] for r in lineage.read_lineage(spark, out).select(F.unix_micros("ts")).collect()
    ]
    assert len(stamped) == 4
    assert all(before <= us <= after for us in stamped), (before, stamped, after)
