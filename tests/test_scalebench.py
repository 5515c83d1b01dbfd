"""scalebench.py's corpus builder: documents × copies with a url stride of
+1e7 per copy, guarded by an exact check of the url set."""

import importlib.util
import pathlib

import pytest

spec = importlib.util.spec_from_file_location(
    "scalebench", pathlib.Path(__file__).resolve().parent.parent / "scalebench.py"
)
scalebench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(scalebench)


def test_replicated_corpus_guard(tmp_path, spark):
    """The ×copies url-collision guard must be exact: the sf1
    synthesizer's +1e8 replica stride pushes doc_ids far past the +1e7
    copy stride WITHOUT colliding (ids within a block stay small), while
    two same-source doc_ids exactly 1e7 apart DO collide and must refuse.
    The earlier max-id cutoff wrongly rejected every sf1-shaped input."""
    schema = "doc_id long, text string, lang string, source string"
    ok = tmp_path / "okdir"
    rows = [(i + r * 100_000_000, f"text {i} {r}", "en", "src") for r in range(3) for i in range(4)]
    spark.createDataFrame(rows, schema).write.parquet(str(ok / "documents.parquet"))
    out = scalebench.replicated_corpus(spark, str(ok), 4)
    assert out.count() == len(rows) * 4
    assert out.columns == ["url", "warc_ts", "html", "text", "lang"]

    bad = tmp_path / "baddir"
    spark.createDataFrame(
        [(0, "a", "en", "src"), (10_000_000, "b", "en", "src")], schema,
    ).write.parquet(str(bad / "documents.parquet"))
    with pytest.raises(ValueError, match="collision"):
        scalebench.replicated_corpus(spark, str(bad), 4)
