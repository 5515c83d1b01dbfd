"""job.py through ``spark-submit --py-files``, the launch path BASELINE.json
names: the same corpus at local[1] and local[2] must give the same sink
hash, and a rerun without ``--fresh`` must skip every bucket."""

import json
import os
import pathlib
import shutil
import subprocess
import sys

from pdf_extraction_spark.corpus import synth_rows

REPO = pathlib.Path(__file__).resolve().parent.parent


def _submit(tmp_path, cores, out, *extra):
    # the driver and its Python workers run this interpreter, as in the suite
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable}
    proc = subprocess.run(
        ["spark-submit", "--master", f"local[{cores}]",
         "--py-files", str(tmp_path / "pkg.zip"),
         "--conf", "spark.ui.enabled=false", "--conf", "spark.driver.memory=1g",
         str(REPO / "job.py"), "--input", str(tmp_path / "corpus"),
         "--output", str(tmp_path / out), "--buckets", "8", *extra],
        capture_output=True, text=True, env=env, cwd=tmp_path, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])


def test_spark_submit_parallelism_invariant_and_resumable(spark, tmp_path):
    rows = synth_rows(200, seed=42)
    spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).write.parquet(str(tmp_path / "corpus"))
    shutil.make_archive(str(tmp_path / "pkg"), "zip", REPO, "pdf_extraction_spark")

    one = _submit(tmp_path, 1, "out1", "--fresh")
    two = _submit(tmp_path, 2, "out2", "--fresh")
    assert one["n_docs"] == two["n_docs"] == len(rows)
    assert one["buckets_run"] == two["buckets_run"] == 8
    assert one["output_hash"] == two["output_hash"]

    again = _submit(tmp_path, 2, "out2")
    assert again["buckets_run"] == 0 and again["buckets_skipped"] == 8
    assert again["output_hash"] == two["output_hash"]
