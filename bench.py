"""Benchmark harness: headline operator queries over the test-data
directory $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS] (default: the
cores in this process's affinity). Prints ONE JSON line:

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The metric is the summed best-of-trials wall of the dedup / similarity /
text / relational headline operators. Extraction speed is measured by
``extractbench/run.py`` and N → 4N scaling by ``scalebench.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def build_session(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .getOrCreate()
    )


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    sf = (lambda b: b[2:] if b.startswith("sf") else b)(os.path.basename(sf_dir.rstrip("/")))

    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    # The sandbox host carries up to 2.5x run-to-run scheduling noise
    # (BASELINE.md), and the first execution additionally pays Python-worker
    # warmup; each query is executed TRIALS times in this one session and the
    # fastest execution is reported — capability measurement, with the
    # protocol declared in the output line.
    TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))

    def best_of(n, job):
        """Fastest wall-clock seconds of ``n`` runs of ``job()``."""
        walls = []
        for _ in range(n):
            t0 = time.monotonic()
            job()
            walls.append(time.monotonic() - t0)
        return min(walls)

    # operator headliners (the three relational ones are suite parts since
    # r4 — timed via their part functions so numbers stay comparable with
    # BENCH_r03's standalone rows)
    from pdf_extraction_spark.operators import relational as _rel

    qs = entrymod.queries()
    headliners = {
        "dedup_minhash_lsh": qs["dedup_minhash_lsh"],
        "dedup_simhash": qs["dedup_simhash"],
        "ann_topk_cosine": qs["ann_topk_cosine"],
        "ann_lsh_bucketed": qs["ann_lsh_bucketed"],
        "fingerprint_winnow": qs["fingerprint_winnow"],
        "lang_id_stopwords": qs["lang_id_stopwords"],
        "sessionize_events": _rel.q_sessionize_events,
        "pricing_summary": _rel.q_pricing_summary,
        "theta_selfjoin": _rel.q_theta_selfjoin,
    }
    timings = {
        name: round(best_of(TRIALS, lambda f=fn: f(spark, sf_dir).count()), 3)
        for name, fn in headliners.items()
    }

    # Host-noise canary: a fixed single-threaded workload (sha256 over
    # 256 MiB of zeros — bandwidth+CPU bound like the extraction kernels)
    # timed best-of-3. The shared sandbox host carries up to 2.5x
    # run-to-run scheduling noise; this number lets two BENCH_r*.json
    # files from different host windows be compared honestly (identical
    # work every run, so canary ratio ~= host slowdown ratio).
    import hashlib
    import threading

    blk = bytes(1 << 26)

    def _hash_job():
        h = hashlib.sha256()
        for _i in range(4):
            h.update(blk)

    def _hash_16t():
        ts = [threading.Thread(target=_hash_job) for _ in range(16)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()

    canary = best_of(3, _hash_job)
    # 16 threads running the identical job concurrently (sha256 releases
    # the GIL on large updates) — wall time rises with multi-core
    # scheduler contention, which the single-thread number cannot see.
    canary_mt = best_of(3, _hash_16t)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "protocol": f"best_of_{TRIALS}_per_query_single_session",
        "host_canary_s": round(canary, 3),
        "host_canary_16t_s": round(canary_mt, 3),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "notes": (
            "host_canary_s times an identical fixed single-thread workload "
            "each run (best of 3) - divide two runs' canaries to estimate how "
            "much of a suite-time delta is host-speed difference rather than "
            "code change"
        ),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
