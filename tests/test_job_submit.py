"""job.py through ``spark-submit --py-files``, the launch path BASELINE.json
names: the same corpus at local[1] and local[2] must give the same sink
hash, and a rerun without ``--fresh`` must skip every bucket. A retried
kernel-stage task must leave the ``done`` rows' counts as a clean run's."""

import json
import os
import pathlib
import shutil
import subprocess
import sys

from pdf_extraction_spark.corpus import synth_rows

REPO = pathlib.Path(__file__).resolve().parent.parent


def _submit(tmp_path, master, script, *args):
    # the driver and its Python workers run this interpreter, as in the suite
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable}
    proc = subprocess.run(
        ["spark-submit", "--master", master,
         "--py-files", str(tmp_path / "pkg.zip"),
         "--conf", "spark.ui.enabled=false", "--conf", "spark.driver.memory=1g",
         str(script), *args],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])


def _job(tmp_path, cores, out, *extra):
    return _submit(tmp_path, f"local[{cores}]", REPO / "job.py",
                   "--input", str(tmp_path / "corpus"),
                   "--output", str(tmp_path / out), "--buckets", "8", *extra)


def _corpus_and_zip(spark, tmp_path, rows):
    spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.parquet(str(tmp_path / "corpus"))
    shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO, "pdf_extraction_spark")


def test_spark_submit_parallelism_invariant_and_resumable(spark, tmp_path):
    rows = synth_rows(200, seed=42)
    _corpus_and_zip(spark, tmp_path, rows)

    one = _job(tmp_path, 1, "out1", "--fresh")
    two = _job(tmp_path, 2, "out2", "--fresh")
    assert one["n_docs"] == two["n_docs"] == len(rows)
    assert one["buckets_run"] == two["buckets_run"] == 8
    assert one["output_hash"] == two["output_hash"]

    again = _job(tmp_path, 2, "out2")
    assert again["buckets_run"] == 0 and again["buckets_skipped"] == 8
    assert again["output_hash"] == two["output_hash"]


# Runs ``run_resumable`` twice over one corpus: clean, then with attempt 0 of
# kernel-stage partition 1 failing after its first Arrow batch was counted.
RETRY_DRIVER = """
import json, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession
from pdf_extraction_spark import lineage, pipeline

spark = SparkSession.builder.getOrCreate()
spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
sc = spark.sparkContext
corpus = spark.read.parquet(sys.argv[1])

def done_rows(out, run_id):
    sc.setJobGroup(run_id, run_id)
    lineage.run_resumable(corpus, out, n_buckets=8, partitions=4, run_id=run_id)
    failed = sum(sc.statusTracker().getStageInfo(s).numFailedTasks
                 for j in sc.statusTracker().getJobIdsForGroup(run_id)
                 for s in sc.statusTracker().getJobInfo(j).stageIds)
    rows = lineage.read_lineage(spark, out).filter("status = 'done'").collect()
    return failed, {r["bucket"]: [r["n_docs"], r["n_errors"], r["n_chars"]] for r in rows}

clean_failed, clean = done_rows(sys.argv[2] + "/clean", "clean")

kernel = pipeline.extract_document
# only attempt 0 of partition 1 counts its documents, failing after the first batch
def flaky(payload, seen=[0]):
    ctx = TaskContext.get()
    if ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
        seen[0] += 1
        if seen[0] > 8:
            raise RuntimeError("injected first-attempt failure")
    return kernel(payload)
pipeline.extract_document = flaky
retried_failed, retried = done_rows(sys.argv[2] + "/retried", "retried")
print(json.dumps({"clean": clean, "clean_failed": clean_failed,
                  "retried": retried, "retried_failed": retried_failed}))
"""


def test_retried_task_counts_once(spark, tmp_path):
    """Spark applies a result-stage task's accumulator update only for the
    attempt that succeeds: with one kernel task failing once after it
    counted a batch (``local[4,2]`` allows the retry), every bucket's
    ``done`` row still equals a clean run's."""
    rows = synth_rows(200, seed=42)
    _corpus_and_zip(spark, tmp_path, rows)
    (tmp_path / "retry.py").write_text(RETRY_DRIVER)

    got = _submit(tmp_path, "local[4,2]", tmp_path / "retry.py",
                  str(tmp_path / "corpus"), str(tmp_path / "out"))
    assert got["clean_failed"] == 0 and got["retried_failed"] == 1
    assert got["retried"] == got["clean"]
    assert sum(c[0] for c in got["clean"].values()) == len(rows)
