#!/usr/bin/env python3
"""Warm-pass extraction benchmark over the real job path.

Each pass runs ``lineage.run_resumable`` (which drives
``pipeline.extract_corpus`` and ``kernels.dispatch.extract_document``)
over a seeded parquet corpus into a fresh sink, from this one Python
process at ``local[<cpus>]``. The first pass of the session is reported
as ``cold_pass_s``; the passes after it are timed for ``--seconds`` and
reported by their median. ``--trace 1`` then adds the per-layer run.

    python3 extractbench/run.py --workload pdf_docs --seed 1 --seconds 15 --trace 0

The last stdout line is the result JSON; the line before it holds the
per-run details (pass walls, host probes, and the layer table when
traced). See ``extractbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import host  # noqa: E402
import workload  # noqa: E402
from pdf_extraction_spark.kernels import html_extract  # noqa: E402
from pdf_extraction_spark.kernels.dispatch import extract_document  # noqa: E402
from pdf_extraction_spark.kernels.urlnorm import resolve_link  # noqa: E402
from pdf_extraction_spark.lineage import (  # noqa: E402
    bucket_col, completed_buckets, metrics_summary, run_resumable)
from pdf_extraction_spark.operators.links import outlinks  # noqa: E402
from pdf_extraction_spark.pipeline import extract_corpus  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

WORK = os.path.join(ROOT, ".extractbench_work")
N_BUCKETS = 16
SALT = 8  # run_resumable's default url salt
SETUPS = 3
MIN_WARM = 3  # timed passes, at least; their median skips one slow pass
NOOP_REPS = 2

E2E_UNITS = {
    "docs_per_s": "1/s", "cpu_ms_per_doc": "ms", "cold_pass_s": "s",
    "setup_s": "s", "worker_rss_peak_mb": "MB", "doc_ok_frac": "frac",
}
LAYER_UNITS = {
    "scan.s": "s", "shuffle.s": "s", "shuffle.skew": "ratio",
    "boundary.s": "s", "arrow.batches": "count", "extract.s": "s",
    "kernel.html.p50_ms": "ms", "kernel.html.p99_ms": "ms",
    "kernel.html.decode_ms": "ms", "kernel.pdf.p50_ms": "ms",
    "kernel.pdf.p99_ms": "ms", "sink.s": "s", "sink.bytes_per_doc": "B/doc",
    "sink.files": "count", "lineage.readback_s": "s", "outlinks.s": "s",
    "outlinks.rows_per_doc": "rows/doc", "cold.extra_s": "s",
    "host.canary_ms": "ms", "host.steal_cores": "cores",
    "host.loadavg_1m": "load", "trace.overhead_frac": "frac",
}


def start_session():
    """A fresh SparkSession; launches the JVM on first use, and restarts
    the SparkContext (so also its Python workers) inside it afterwards."""
    cpus = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("extractbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={WORK}/tmp -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, then the JVM, then wait for every process we started.
    The Python workers outlive the JVM for a moment, no longer as our
    descendants, so they are waited for by pid."""
    started = host.tree()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def run_pass(spark, wl: str, inp: str, out: str) -> tuple[float, dict]:
    """One job: extraction sink, plus the outlinks table on html_outlinks."""
    t = time.perf_counter()
    summary = run_resumable(spark.read.parquet(inp), f"{out}/sink", n_buckets=N_BUCKETS)
    if wl == "html_outlinks":
        outlinks(spark.read.parquet(inp)).write.mode("overwrite").parquet(f"{out}/outlinks")
    return time.perf_counter() - t, summary


def _text_digest(pairs) -> str:
    h = hashlib.sha256()
    for url, text in sorted(pairs):
        h.update(f"{url}|{text}\n".encode())
    return h.hexdigest()


def check(spark, rows: list[dict], seed: int, out: str, with_outlinks: bool) -> dict[str, int]:
    """Correctness gate on one pass's output: failed operations per failed
    check, empty when all pass.

    The sink holds every generated url exactly once, a seeded sample's
    ``url|extracted_text`` digest equals single-thread ``extract_document``
    on the same payloads, and (when written) the outlinks table holds, for
    that sample, as many rows as the kernel's links resolve to targets.
    """
    failed = {}
    docs = spark.read.parquet(f"{out}/sink/docs")
    n, n_urls = docs.agg(F.count("*"), F.countDistinct("url")).first()
    if n != len(rows) or n_urls != len(rows):
        failed[f"sink: {n} rows, {n_urls} urls for {len(rows)} docs"] = max(
            len(rows) - n_urls, n - n_urls, 1)
    picked = workload.sample(rows, seed)
    urls = [r["url"] for r in picked]
    want, n_links = {}, 0
    for r in picked:
        res = extract_document(r["html"])
        want[r["url"]] = res["text"]
        base = (res["meta"] or {}).get("base")
        eff = (resolve_link(r["url"], base) or r["url"]) if base else r["url"]
        n_links += sum(resolve_link(eff, lk["href"]) is not None for lk in res["links"])
    got = dict(docs.filter(F.col("url").isin(urls)).select("url", "extracted_text").collect())
    if _text_digest(got.items()) != _text_digest(want.items()):
        failed["sample text differs from single-thread extract_document"] = max(
            sum(got.get(u) != want[u] for u in urls), 1)
    if with_outlinks:
        n_rows = spark.read.parquet(f"{out}/outlinks").filter(F.col("url").isin(urls)).count()
        if n_rows != n_links:
            failed[f"outlinks: {n_rows} rows on the sample, kernel resolves {n_links}"] = 1
    return failed


def _ms(fn, payloads) -> list[float]:
    walls = []
    for p in payloads:
        t = time.perf_counter()
        fn(p)
        walls.append((time.perf_counter() - t) * 1e3)
    return walls


def _p99(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=100)[98]


def trace_layers(spark, wl: str, inp: str, n_docs: int, seed: int) -> tuple[dict, list]:
    """Per-layer walls, each step adding one layer to the one before:
    scan, +shuffle, +identity Arrow boundary, +kernel and Arrow build
    (``extract_corpus``), all written to Spark's ``noop`` sink, then
    ``run_resumable`` itself (+sink commit and lineage). The repartition
    keys are the ones ``run_resumable`` gives ``extract_corpus``."""

    def timed(fn):
        t = time.perf_counter()
        fn()
        return time.perf_counter() - t

    def noop(df):  # the fastest of NOOP_REPS, so a stray stall drops out
        return min(timed(lambda: df.write.format("noop").mode("overwrite").save())
                   for _ in range(NOOP_REPS))

    parts = spark.sparkContext.defaultParallelism
    scan = spark.read.parquet(inp).select("url", "html", bucket_col(N_BUCKETS).alias("bucket"))
    keys = [F.col("bucket"), F.pmod(F.xxhash64(F.col("url")), F.lit(SALT))]
    shuffled = scan.repartition(parts, *keys)
    batches = spark.sparkContext.accumulator(0)

    def identity(it):
        for b in it:
            batches.add(1)
            yield b

    wall = {
        "scan": noop(scan),
        "+shuffle": noop(shuffled),
        "+boundary": noop(shuffled.mapInArrow(identity, scan.schema)),
        "+extract": noop(extract_corpus(scan, salt=SALT, keep_cols=("bucket",),
                                        partition_exprs=keys)),
    }
    sink = os.path.join(WORK, "trace", "sink")
    wall["+sink"] = timed(lambda: run_resumable(spark.read.parquet(inp), sink,
                                                n_buckets=N_BUCKETS))
    readback = timed(lambda: (completed_buckets(spark, sink),
                              metrics_summary(spark, sink).collect()))
    ol = os.path.join(WORK, "trace", "outlinks")
    outlinks_s = timed(lambda: outlinks(spark.read.parquet(inp)).write.parquet(ol))

    per_part = dict(shuffled.groupBy(F.spark_partition_id()).count().collect())
    files = [os.path.join(d, f) for d, _, fs in os.walk(f"{sink}/docs")
             for f in fs if f.endswith(".parquet")]
    html = workload.kernel_docs(seed, "html")
    pdf = workload.kernel_docs(seed, "pdf")
    k_html = _ms(extract_document, html)
    k_pdf = _ms(extract_document, pdf)
    steps = list(wall)
    added = {s: wall[s] - (wall[steps[i - 1]] if i else 0.0) for i, s in enumerate(steps)}
    metrics = {
        "scan.s": added["scan"],
        "shuffle.s": added["+shuffle"],
        "shuffle.skew": max(per_part.values()) / (n_docs / parts),
        "boundary.s": added["+boundary"],
        "arrow.batches": batches.value // NOOP_REPS,
        "extract.s": added["+extract"],
        "kernel.html.p50_ms": statistics.median(k_html),
        "kernel.html.p99_ms": _p99(k_html),
        "kernel.html.decode_ms": statistics.median(_ms(html_extract.decode_payload, html)),
        "kernel.pdf.p50_ms": statistics.median(k_pdf),
        "kernel.pdf.p99_ms": _p99(k_pdf),
        "sink.s": added["+sink"],
        "sink.bytes_per_doc": sum(os.path.getsize(f) for f in files) / n_docs,
        "sink.files": len(files),
        "lineage.readback_s": readback,
        "outlinks.s": outlinks_s,
        "outlinks.rows_per_doc": spark.read.parquet(ol).count() / n_docs,
    }
    table = [{"layer": s, "wall_s": wall[s], "added_s": added[s]} for s in steps]
    if wl == "html_outlinks":
        table.append({"layer": "+outlinks", "wall_s": wall["+sink"] + outlinks_s,
                      "added_s": outlinks_s})
    return metrics, table


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workload.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None,
                    help="docs per pass (default: the workload's size; for smoke tests)")
    args = ap.parse_args(argv)
    wl = args.workload

    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(ROOT)

    run_t0 = time.perf_counter()
    steal0, load0 = host.steal_s(), host.loadavg_1m()
    canary = [host.canary_ms()]

    # set-up: generate once, then SETUPS times start a session and write
    # the input table; the first start launches the JVM
    t = time.perf_counter()
    rows = workload.generate(wl, args.seed, args.docs)
    gen_s = time.perf_counter() - t
    n = len(rows)
    setups, spark = [], None
    failed: dict[str, int] = {}
    walls, summaries = [], []
    try:
        for k in range(SETUPS):
            t = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_session()
            inp = os.path.join(WORK, f"input{k}")
            workload.write_parquet(rows, inp)
            setups.append(time.perf_counter() - t)

        def one_pass(i: int) -> float:
            out = os.path.join(WORK, f"pass{i}")
            wall, s = run_pass(spark, wl, inp, out)
            summaries.append(s)
            if s["n_docs"] != n:
                failed[f"pass {i}: committed {s['n_docs']} of {n} docs"] = abs(n - s["n_docs"])
            if i:
                shutil.rmtree(os.path.join(WORK, f"pass{i - 1}"))
            return wall

        cold = one_pass(0)
        cpu0 = host.tree_cpu_s()
        t_timed = time.perf_counter()
        while len(walls) < MIN_WARM or time.perf_counter() - t_timed < args.seconds:
            walls.append(one_pass(len(walls) + 1))
        cpu_s = host.tree_cpu_s() - cpu0
        rss_mb = host.python_worker_peak_rss_mb()
        canary.append(host.canary_ms())
        failed.update(check(spark, rows, args.seed, os.path.join(WORK, f"pass{len(walls)}"),
                            wl == "html_outlinks"))
        warm = statistics.median(walls)
        detail = {
            "workload": wl, "seed": args.seed, "docs_per_pass": n,
            "corpus_hash": workload.corpus_hash(rows), "gen_s": gen_s,
            "setup_walls_s": setups, "cold_pass_s": cold, "warm_pass_walls_s": walls,
            "canary_ms_before_after": canary, "failures": failed,
        }
        if args.trace:
            layers, table = trace_layers(spark, wl, inp, n, args.seed)
            canary.append(host.canary_ms())
            summed = sum(r["added_s"] for r in table)
            metrics = dict(
                layers,
                **{"cold.extra_s": cold - warm,
                   "host.canary_ms": statistics.median(canary),
                   "trace.overhead_frac": summed / warm - 1},
            )
            detail["layers"] = table
        else:
            n_ok = sum(s["n_docs"] - s["n_errors"] for s in summaries)
            metrics = {
                "docs_per_s": n / warm,
                "cpu_ms_per_doc": cpu_s * 1e3 / (n * len(walls)),
                "cold_pass_s": cold,
                "setup_s": gen_s + statistics.median(setups),
                "worker_rss_peak_mb": rss_mb,
                "doc_ok_frac": n_ok / (n * len(summaries)),
            }
    finally:
        if spark is not None:
            stop_jvm(spark)
    elapsed = time.perf_counter() - run_t0
    host_info = {
        "steal_cores": (host.steal_s() - steal0) / elapsed,
        "loadavg_1m": [load0, host.loadavg_1m()],
    }
    detail["host"] = host_info
    if args.trace:
        metrics["host.steal_cores"] = host_info["steal_cores"]
        metrics["host.loadavg_1m"] = max(host_info["loadavg_1m"])
    units = LAYER_UNITS if args.trace else E2E_UNITS
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not failed,
        "attempted": n * len(summaries),
        "failed": sum(failed.values()),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
