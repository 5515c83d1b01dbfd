"""Self-tests of the benchmark: its inputs and its output contract.

    python -m pytest extractbench -q
"""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workload  # noqa: E402
from pdf_extraction_spark.kernels.dispatch import extract_document  # noqa: E402


@pytest.mark.parametrize("wl", sorted(workload.WORKLOADS))
def test_seed_fixes_corpus(wl):
    a = workload.corpus_hash(workload.generate(wl, 5, 240))
    assert a == workload.corpus_hash(workload.generate(wl, 5, 240))
    assert a != workload.corpus_hash(workload.generate(wl, 6, 240))


@pytest.mark.parametrize("wl", sorted(workload.WORKLOADS))
def test_urls_and_payloads_distinct(wl):
    rows = workload.generate(wl, 3, 400)
    assert len({r["url"] for r in rows}) == len(rows)
    assert len({r["html"] for r in rows}) == len(rows)


def test_repeated_payload_trailer_keeps_extraction():
    from pdf_extraction_spark.corpus import synth_rows

    raw = {r["url"]: r["html"] for r in synth_rows(240, seed=3, pdf_fraction=1.0)}
    changed = [r for r in workload.generate("pdf_docs", 3, 240) if r["html"] != raw[r["url"]]]
    assert changed  # the fixed table-only PDF lane repeats
    for r in changed:
        a, b = extract_document(raw[r["url"]]), extract_document(r["html"])
        assert (a["text"], a["spans"], a["error"]) == (b["text"], b["spans"], b["error"])


def _heavy_share_per_file(wl, tmp_path):
    files = workload.write_parquet(workload.generate(wl, 9, 800), str(tmp_path / wl))
    shares = []
    for f in files:
        urls = pq.read_table(f, columns=["url"]).column("url").to_pylist()
        shares.append(sum(f"//{workload.HEAVY_HOST}/" in u for u in urls) / len(urls))
    return shares


def test_html_files_cluster_heavy_host_pdf_files_spread_it(tmp_path):
    html = _heavy_share_per_file("html_pages", tmp_path)
    pdf = _heavy_share_per_file("pdf_docs", tmp_path)
    assert max(html) == 1.0 and min(html) == 0.0
    assert all(0.1 < s < 0.5 for s in pdf)


@pytest.mark.parametrize("wl,trace", [("html_outlinks", 0), ("pdf_docs", 1)])
def test_smoke_run_prints_every_metric(wl, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cmd = spec["command"] + ["--workload", wl, "--seed", "1", "--seconds", "1",
                             "--trace", str(trace), "--docs", "160"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = spec["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
