"""Spark extraction pipeline: salted repartition → Arrow-batched extraction.

Rebuilds the reference's eager per-document loop
(hybrid_docling_gpt4_processor.py:474-532) as a declarative plan:

    corpus ─ select(url, html)            # column pruning before Python
           ─ repartition(P, xxhash64(host), salt)   # explicit skew defusal
           ─ mapInArrow(extract_batch)    # Arrow batches through the kernels
           ─ sink (parquet, Iceberg-compatible layout)

No per-row Python crosses the JVM boundary outside the Arrow batch path;
kernels initialize once per partition (scalar-iterator form). The salt term
splits pathological hosts (a single domain holding 30% of a 10^12-row corpus)
across ``salt`` partitions while keeping host locality for everything else.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels.dispatch import extract_document

SPAN_TYPE = T.StructType(
    [
        T.StructField("elem_type", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("char_start", T.LongType()),
        T.StructField("char_end", T.LongType()),
        T.StructField("bbox", T.ArrayType(T.DoubleType())),
        # per-element confidence (the reference LayoutElement.confidence,
        # advanced_layout_extractor.py:65-79): kernel-side rule margins —
        # grid-evidence margin for tables, size-ratio margin for titles,
        # link-density margin for HTML blocks, per-path constants otherwise
        T.StructField("confidence", T.DoubleType()),
        # title-containment hierarchy (fills the reference's _build_hierarchy
        # stub, advanced_layout_extractor.py:540-554); parent_id is the span
        # array index of the parent, -1 for roots — children_ids is its
        # relational inverse (a groupBy on parent_id), not materialized
        T.StructField("hierarchy_level", T.IntegerType()),
        T.StructField("parent_id", T.IntegerType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
        T.StructField("n_elements", T.IntegerType()),
        T.StructField("method", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def host_col(url_col="url"):
    """url-host for partitioning (pure JVM regexp, codegen'd)."""
    return F.regexp_extract(F.col(url_col), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/]+)", 1)


def local_df(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """Driver-side ``rows`` as a DataFrame over a JVM ``LocalRelation``.

    The rows cross to the JVM once, as one Arrow table, so the plan is a
    ``LocalTableScan``: no ``PythonRDD`` and no Python worker tasks, which
    ``createDataFrame(<list>)`` pays on every call (``sc.parallelize``).
    Timestamp values must be timezone-aware: Arrow reads a naive
    ``datetime`` as UTC wall time, shifting it by the local offset.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.Table.from_pylist([dict(zip(arrow.names, r)) for r in rows], schema=arrow)
    return spark.createDataFrame(table, schema)


def salted_repartition(df: DataFrame, partitions: int, salt: int = 8) -> DataFrame:
    """Explicit salted repartition on url-host (SURVEY.md §4 item 2).

    Hash-partitions on ``(xxhash64(host), pmod(xxhash64(url), salt))`` — hot
    domains spread over ``salt`` partitions, cold domains stay co-located.
    """
    return df.repartition(
        partitions,
        F.xxhash64(host_col()),
        F.pmod(F.xxhash64(F.col("url")), F.lit(salt)),
    )


def _iter_binary_views(arr):
    """Zero-copy per-row ``memoryview`` slices of an Arrow binary array
    (VERDICT r3 item 1: ``to_pylist()`` wrote a full heap copy of every
    payload before the kernel even saw it — on the bandwidth-bound
    extraction stage that is pure memory traffic). Falls back to ``as_py``
    for nulls/unexpected layouts."""
    import pyarrow as pa

    if arr.null_count == 0 and pa.types.is_binary(arr.type):
        import numpy as np

        bufs = arr.buffers()
        offs = np.frombuffer(
            bufs[1], dtype=np.int32, count=len(arr) + 1, offset=arr.offset * 4
        )
        mv = memoryview(bufs[2])
        for i in range(len(arr)):
            yield mv[offs[i] : offs[i + 1]]
    else:
        for v in arr:
            yield v.as_py()


def _make_extract_batches(keep_cols: tuple[str, ...] = ()):
    """mapInArrow worker factory: one kernel pass per Arrow batch, building
    the output columns as flat Arrow arrays directly (no per-span Python
    dicts, no pandas round-trip — at 16 workers the pandas→Arrow struct
    conversion was pure memory traffic on a bandwidth-bound stage);
    payloads reach the kernels as zero-copy memoryviews into the Arrow
    buffer; ``keep_cols`` are carried through untouched (e.g. the lineage
    bucket)."""

    def _extract_batches(batches):
        import pyarrow as pa

        for batch in batches:
            payloads = _iter_binary_views(batch.column("html"))
            texts: list[str] = []
            n_elems: list[int] = []
            methods: list[str] = []
            errors: list = []
            span_off = [0]
            et: list[str] = []
            pg: list[int] = []
            cs: list[int] = []
            ce: list[int] = []
            bbox_off = [0]
            bbox_vals: list[float] = []
            cf: list[float] = []
            hlv: list[int] = []
            pid: list[int] = []
            for payload in payloads:
                res = extract_document(payload)
                texts.append(res["text"])
                n_elems.append(res["n_elements"])
                methods.append(res["method"])
                errors.append(res["error"])
                for s in res["spans"]:
                    et.append(s[0])
                    pg.append(s[1])
                    cs.append(s[2])
                    ce.append(s[3])
                    bbox_vals.extend(s[4])
                    bbox_off.append(len(bbox_vals))
                    cf.append(s[5])
                    hlv.append(s[6])
                    pid.append(s[7])
                span_off.append(len(et))
            struct = pa.StructArray.from_arrays(
                [
                    pa.array(et, pa.string()),
                    pa.array(pg, pa.int32()),
                    pa.array(cs, pa.int64()),
                    pa.array(ce, pa.int64()),
                    pa.ListArray.from_arrays(
                        pa.array(bbox_off, pa.int32()), pa.array(bbox_vals, pa.float64())
                    ),
                    pa.array(cf, pa.float64()),
                    pa.array(hlv, pa.int32()),
                    pa.array(pid, pa.int32()),
                ],
                names=[
                    "elem_type", "page", "char_start", "char_end", "bbox",
                    "confidence", "hierarchy_level", "parent_id",
                ],
            )
            spans = pa.ListArray.from_arrays(pa.array(span_off, pa.int32()), struct)
            arrays = [
                batch.column("url"),
                pa.array(texts, pa.string()),
                spans,
                pa.array(n_elems, pa.int32()),
                pa.array(methods, pa.string()),
                pa.array(errors, pa.string()),
            ]
            names = ["url", "extracted_text", "spans", "n_elements", "method", "error"]
            for c in keep_cols:
                arrays.append(batch.column(c))
                names.append(c)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return _extract_batches


def extract_corpus(
    corpus: DataFrame,
    partitions: int | None = None,
    salt: int = 8,
    repartition: bool = True,
    keep_cols: tuple[str, ...] = (),
    partition_exprs: list | None = None,
) -> DataFrame:
    """Run the extraction pipeline over a corpus DataFrame.

    Prunes to ``(url, html)`` (+ ``keep_cols``) before the Python stage so
    the parquet scan reads only the needed columns (ReadSchema check in
    tests), then salted repartition, then the Arrow-batched kernel stage.

    ``partition_exprs`` overrides the default (host-hash, url-salt)
    repartition keys — the lineage runner passes (bucket, url-salt) so the
    extraction output lands already clustered for the bucket-partitioned
    sink and the per-host skew defusal is preserved at salt granularity,
    with no second full-output shuffle before the write.
    """
    pruned = corpus.select("url", "html", *keep_cols)
    if repartition:
        if partitions is None:
            partitions = corpus.sparkSession.sparkContext.defaultParallelism
        if partition_exprs is not None:
            pruned = pruned.repartition(partitions, *partition_exprs)
        else:
            pruned = salted_repartition(pruned, partitions, salt)
    schema = T.StructType(
        OUTPUT_SCHEMA.fields + [corpus.schema[c] for c in keep_cols]
    )
    return pruned.mapInArrow(_make_extract_batches(keep_cols), schema=schema)

