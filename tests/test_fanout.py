"""``pipeline.fanout``: the one ``mapInArrow`` stage behind every per-row
Python operator — bounded output batches, typed empty and all-NULL output."""

import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_extraction_spark.pipeline import ROWS_PER_BATCH, fanout
from pdf_extraction_spark.sources import warc


def test_fanout_bounds_batches_and_keeps_types(spark, tmp_path, monkeypatch):
    # 1. one WARC path fanning out to 5,000 records: every record arrives,
    # in output batches of at most ROWS_PER_BATCH rows (the stage's worker
    # function, captured as read_warc hands it to mapInArrow, is driven
    # here over the same one-path input batch Spark gives it)
    path = tmp_path / "big.warc"
    warc.write_warc(
        [{"url": f"https://h.example.com/{i}", "html": b"<p>x</p>"} for i in range(5000)],
        str(path),
    )
    workers = []
    cls = type(spark.range(1))
    real = cls.mapInArrow

    def spy(self, func, schema, *args, **kwargs):
        workers.append(func)
        return real(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInArrow", spy)
    df = warc.read_warc(spark, [str(path)])
    monkeypatch.undo()
    counts = df.groupBy(F.spark_partition_id()).count().collect()
    assert [c["count"] for c in counts] == [5000]
    (worker,) = workers
    batches = list(worker(iter([pa.record_batch({"path": [str(path)]})])))
    assert ROWS_PER_BATCH == 2048
    assert [b.num_rows for b in batches] == [2048, 2048, 904]
    assert {b.schema for b in batches} == {batches[0].schema}
    assert batches[0].schema.field("warc_ts").type == pa.timestamp("us", tz="UTC")

    # 2. partition 1 (ids 5-9) yields nothing and partition 0 yields only
    # NULL doubles; with no row yielded at all the result is still typed
    src = spark.range(0, 10, 1, 2)
    out = fanout(src, lambda i: [(i, None)] if i < 5 else [], "id long, x double")
    assert out.schema == T.StructType.fromDDL("id long, x double")
    got = out.groupBy(F.spark_partition_id().alias("p")).agg(
        F.count("*").alias("n"), F.count("x").alias("n_x")
    )
    assert [tuple(r) for r in got.collect()] == [(0, 5, 0)]
    none = fanout(src, lambda i: [], "id long, x double").toArrow()
    assert none.num_rows == 0
    assert none.schema.types == [pa.int64(), pa.float64()]

    # 3. an all-NULL double column comes back as typed NULLs
    assert sorted(tuple(r) for r in out.collect()) == [(i, None) for i in range(5)]
    assert out.toArrow().schema.field("x").type == pa.float64()
