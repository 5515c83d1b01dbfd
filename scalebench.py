"""N → 4N scaling check for the ``spark-submit --py-files`` job.

BASELINE.json asks for scaling efficiency >= 0.8 from N to 4N executors. A
real multi-executor cluster is not available, so the identical ``job.py``
submit runs at two parallelism levels on one machine over one corpus:

    size N  -> --master local[N],  N = (cores in this process's affinity) // 4
    size 4N -> --master local[4N]

On a 4-vCPU host that is local[1] → local[4]. Each job is confined to its
cores (taskset + JVM ``-XX:ActiveProcessorCount``), the analog of a
cgroup-limited executor: unpinned, a small local[N] JVM free-rides
host-sized GC/JIT/netty pools and understates efficiency.

Throughput is job.py's extraction-phase docs/s, best of ``TRIALS`` trials
(the first warms the Python workers); efficiency = (thr_4N / thr_N) / 4.
Both sizes must print the same ``output_hash``. The corpus, zip and sinks
live in a temporary directory that is removed afterwards, so a run writes
nothing inside the repository. Prints one JSON line; exits 1 if the hashes
differ.

Usage: python scalebench.py <sf_dir> [html_copies=8] [repeat=8]
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parent
TRIALS = 3
TARGET = 0.8


def replicated_corpus(spark, sf_dir: str, copies: int, repeat: int = 8):
    """documents × copies as HTML pages in the job's input shape.

    The document text is repeated ``repeat`` times as paragraphs so a page
    is Common-Crawl-sized (~5 KB) and kernel work dominates fixed costs.
    """
    from pyspark.sql import functions as F

    from pdf_extraction_spark.corpus import ARTICLE_PREFIX, ARTICLE_SUFFIX, spread_docs

    docs = spread_docs(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    rep = docs.select(
        "doc_id", "text", "lang", "source",
        F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("k"),
    )
    body = F.array_join(F.array_repeat(F.col("text"), repeat), "</p><p>")
    out = rep.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
            (F.col("doc_id") + F.col("k") * 10_000_000).cast("string"),
        ).alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        F.encode(F.concat(F.lit(ARTICLE_PREFIX), body, F.lit(ARTICLE_SUFFIX)), "utf-8").alias("html"),
        "text", "lang",
    )
    # the ×copies url stride embeds the copy index at +1e7 per copy, which
    # collides only if two (source, doc_id, k) tuples map to one url — i.e.
    # doc_ids within one source differ by an exact copies-range multiple of
    # 1e7 (the sf1 synthesizer's +1e8 replica stride does NOT, so a max-id
    # cutoff would wrongly refuse it). Check the actual url set instead;
    # html is pruned from this aggregate so it only scans ids.
    n_all, n_urls = out.agg(F.count("*"), F.count_distinct("url")).first()
    if n_urls != n_all:
        raise ValueError(
            f"×{copies} url stride collision: {n_all} rows but {n_urls} distinct urls"
        )
    return out


def materialize_corpus(work: pathlib.Path, sf_dir: str, copies: int, repeat: int, cores: int) -> int:
    """Write documents × copies as HTML plus × 1 as PDFs to ``work/corpus``."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from pdf_extraction_spark.corpus import corpus_from_documents

    spark = (
        SparkSession.builder.master(f"local[{cores}]").appName("scalebench_gen")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    pdfs = corpus_from_documents(spark, sf_dir, payload="pdf").select(
        F.concat(F.lit("https://pdf."), F.expr("substring(url, 9)")).alias("url"),
        "warc_ts", "html", "text", "lang",
    )
    corpus = replicated_corpus(spark, sf_dir, copies, repeat).unionByName(pdfs)
    corpus.repartition(64).write.parquet(str(work / "corpus"))
    n = spark.read.parquet(str(work / "corpus")).count()
    spark.stop()
    return n


def run_at(cores: int, work: pathlib.Path) -> dict:
    """spark-submit job.py at local[cores], pinned to ``cores`` cores."""
    pin = ",".join(map(str, sorted(os.sched_getaffinity(0))[:cores]))
    cmd = [
        "taskset", "-c", pin, "spark-submit",
        "--driver-java-options", f"-XX:ActiveProcessorCount={cores}",
        "--master", f"local[{cores}]",
        "--py-files", str(work / "pdf_extraction_spark.zip"),
        "--conf", f"spark.sql.shuffle.partitions={max(cores, 8)}",
        "--conf", "spark.sql.files.maxPartitionBytes=16m",
        "--conf", "spark.io.compression.codec=zstd",
        "--conf", "spark.sql.parquet.compression.codec=zstd",
        "--conf", "spark.driver.memory=4g",
        "--conf", f"spark.local.dir={work / 'spark-local'}",
        "--conf", "spark.ui.enabled=false",
        str(REPO / "job.py"),
        "--input", str(work / "corpus"),
        "--output", str(work / f"out_{cores}"),
        "--buckets", "64",
        "--partitions", str(cores * 3),
        "--fresh",
        "--trials", str(TRIALS),
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=str(REPO))
    json_lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not json_lines:
        sys.stderr.write(proc.stdout[-2000:] + "\n" + proc.stderr[-4000:])
        raise SystemExit(f"job at local[{cores}] failed or printed no JSON summary")
    return json.loads(json_lines[-1])


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit("usage: python scalebench.py <sf_dir> [html_copies=8] [repeat=8]")
    sf_dir = sys.argv[1]
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    repeat = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    cores = len(os.sched_getaffinity(0))
    n = cores // 4
    if n < 1:
        raise SystemExit(f"need at least 4 cores for N → 4N, have {cores}")

    work = pathlib.Path(tempfile.mkdtemp(prefix="scalebench_"))
    try:
        subprocess.run(
            ["zip", "-qr", str(work / "pdf_extraction_spark.zip"), "pdf_extraction_spark",
             "-x", "*__pycache__*"],
            cwd=str(REPO), check=True,
        )
        n_docs = materialize_corpus(work, sf_dir, copies, repeat, cores)
        print(f"corpus: {n_docs} docs; local[{n}] → local[{4 * n}]", file=sys.stderr)
        runs = {size: run_at(size, work) for size in (n, 4 * n)}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    thr_n, thr_4n = runs[n]["docs_per_sec"], runs[4 * n]["docs_per_sec"]
    eff = round(thr_4n / thr_n / 4, 3)
    identical = runs[n]["output_hash"] == runs[4 * n]["output_hash"]
    print(json.dumps({
        "sf_dir": sf_dir, "html_copies": copies, "repeat": repeat, "n_docs": n_docs,
        "N_cores": n, "4N_cores": 4 * n,
        "throughput_N_docs_per_sec": thr_n, "throughput_4N_docs_per_sec": thr_4n,
        "scaling_efficiency": eff, "target": TARGET, "pass": eff >= TARGET and identical,
        "output_hash": {f"local[{k}]": r["output_hash"] for k, r in runs.items()},
        "output_bytes_identical": identical,
        "trials": {f"local[{k}]": r["trials"] for k, r in runs.items()},
    }))
    if not identical:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
