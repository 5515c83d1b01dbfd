"""Spark extraction pipeline: salted repartition → Arrow-batched extraction.

Rebuilds the reference's eager per-document loop
(hybrid_docling_gpt4_processor.py:474-532) as a declarative plan:

    corpus ─ select(url, html)            # column pruning before Python
           ─ repartition(P, xxhash64(host), salt)   # explicit skew defusal
           ─ mapInArrow(extract_batch)    # Arrow batches through the kernels
           ─ sink (parquet, Iceberg-compatible layout)

Every Python worker stage is opened here, by :func:`arrow_stage`: rows
cross the JVM boundary only as Arrow batches, and the kernel runs once per
document inside a batch. The salt term splits pathological hosts (a single
domain holding 30% of a 10^12-row corpus) across ``salt`` partitions while
keeping host locality for everything else.
"""

from __future__ import annotations

import sys
import zipimport

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels.dispatch import extract_document
from .kernels.urlnorm import resolve_link

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

# One fetchable outlink: the raw href, its absolute normalized target, the
# boilerplate flag, rel=nofollow, and the anchor text ("" for PDF /Annots).
LINK_TYPE = T.StructType(
    [
        T.StructField("href", T.StringType()),
        T.StructField("resolved", T.StringType()),
        T.StructField("chrome", T.BooleanType()),
        T.StructField("nofollow", T.BooleanType()),
        T.StructField("anchor", T.StringType()),
    ]
)

# Head metadata (PDF: trailer /Info title/author); canonical and refresh
# are resolved like the links.
META_TYPE = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("author", T.StringType()),
        T.StructField("robots", T.StringType()),
        T.StructField("canonical", T.StringType()),
        T.StructField("refresh_delay", T.IntegerType()),
        T.StructField("refresh", T.StringType()),
    ]
)

LINKS_SCHEMA = T.StructType(
    [OUTPUT_SCHEMA["url"], T.StructField("links", T.ArrayType(LINK_TYPE))]
)
META_SCHEMA = T.StructType([OUTPUT_SCHEMA["url"], T.StructField("meta", META_TYPE)])


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


def arrow_stage(df: DataFrame, fn, schema: T.StructType | str) -> DataFrame:
    """The one way into a Python worker: ``df.mapInArrow`` over ``fn``,
    which maps a task's iterator of input ``pyarrow.RecordBatch`` to
    batches of ``schema``, with :func:`_drop_zip_finders` run once at the
    start of every task."""

    def _task(batches):
        _drop_zip_finders()
        yield from fn(batches)

    return df.mapInArrow(_task, schema)


ROWS_PER_BATCH = 2048  # output Arrow-batch bound of every fanout stage


def fanout(df: DataFrame, fn, schema: T.StructType | str) -> DataFrame:
    """Per-row Python operator as one :func:`arrow_stage`: ``fn(*row)``
    runs over every ``df`` row (its columns in order, as Python values) and
    each tuple it yields is one output row of ``schema`` (a ``StructType``
    or DDL string). Columns are built as typed Arrow arrays, so an all-NULL
    column keeps its type, and flushed every ``ROWS_PER_BATCH`` rows: an
    input row that fans out to a whole WARC file holds one batch in memory.
    Timestamp values must be timezone-aware (see :func:`local_df`)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)

    def _fanout_batches(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(schema)

        def build(rows):
            cols = map(pa.array, zip(*rows), arrow.types)
            return pa.RecordBatch.from_arrays(list(cols), schema=arrow)

        out = []
        for batch in batches:
            for row in zip(*(c.to_pylist() for c in batch.columns)):
                for r in fn(*row):
                    out.append(r)
                    if len(out) == ROWS_PER_BATCH:
                        yield build(out)
                        out = []
        if out:
            yield build(out)

    return arrow_stage(df, _fanout_batches, schema)


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


def _resolve(url: str, res: dict, links: bool, meta: bool) -> None:
    """Replace ``res``'s kernel links/meta by the ``LINK_TYPE`` rows and the
    ``META_TYPE`` row of the document at ``url``: hrefs, canonical and
    refresh targets resolved against the ``<base href>`` (itself resolved
    against the document URL, per HTML spec), non-fetchable targets
    (javascript:, mailto:, #fragment) dropped."""
    m = res["meta"]
    base = m.get("base")
    eff = (resolve_link(url, base) or url) if base else url
    if links:
        rows = []
        for lk in res["links"]:
            tgt = resolve_link(eff, lk["href"])
            if tgt is not None:
                # PDF /Annots links carry no rel semantics -> nofollow False
                rows.append((lk["href"], tgt, bool(lk["chrome"]),
                             bool(lk.get("nofollow", False)), lk.get("text") or ""))
        res["links"] = rows
    if meta:
        canon, refresh, delay = m.get("canonical"), m.get("refresh_url"), m.get("refresh_delay")
        res["meta"] = (
            m.get("title"), m.get("author"), m.get("robots"),
            resolve_link(eff, canon) if canon else None,
            # a delay past int32 is junk content, not a redirect
            delay if delay is None or delay <= 0x7FFFFFFF else None,
            resolve_link(eff, refresh) if refresh else None,
        )


def _drop_zip_finders() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    A Python worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and on CPython 3.11 that makes each cached ``zipimporter``
    re-read its whole archive directory: ``pyspark.zip`` and its package
    sub-paths, the shipped ``--py-files`` zips and the spark-core jar
    (~0.25 s per task with PySpark 4.1.2 on CPython 3.11.7). With the
    finders gone there is nothing to re-read; an import that needs one
    builds it again from ``zipimport._zip_directory_cache``, which is
    cheap. This assumes Spark never rewrites a shipped archive in place
    during an application.
    """
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del sys.path_importer_cache[path]


class BucketTally(AccumulatorParam):
    """Accumulator of ``{bucket: [n_docs, n_errors, n_chars]}``, summed
    elementwise: the per-bucket counts of the documents a kernel stage
    built, with ``n_chars`` in code points like Spark's ``length``."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, other):
        for bucket, counts in other.items():
            acc[bucket] = [a + b for a, b in zip(acc.get(bucket, (0, 0, 0)), counts)]
        return acc


def _bucket_counts(buckets, texts, errors) -> dict:
    """``{bucket: [n_docs, n_errors, n_chars]}`` over one batch's rows."""
    counts = {}
    for b, text, err in zip(buckets, texts, errors):
        c = counts.setdefault(b, [0, 0, 0])
        c[0] += 1
        c[1] += err is not None
        c[2] += len(text) if text is not None else 0
    return counts


# output column -> key of the extract_document result it is built from
_KERNEL_COLS = {"extracted_text": "text", "spans": "spans", "n_elements": "n_elements",
                "method": "method", "error": "error", "links": "links", "meta": "meta"}


def extract_stage(df: DataFrame, schema: T.StructType = OUTPUT_SCHEMA,
                  keep_cols: tuple[str, ...] = (), tally=None) -> DataFrame:
    """The one Spark stage that runs the kernels: ``df``'s ``(url, html)``
    rows through ``extract_document``, with no shuffle before it, emitting
    the columns of ``schema`` (``OUTPUT_SCHEMA``, ``LINKS_SCHEMA`` or
    ``META_SCHEMA``) followed by ``keep_cols`` carried through. Operators
    that need a document's links or head metadata project this stage's
    output instead of calling the kernel themselves.

    One kernel pass per Arrow batch builds each column that
    ``_KERNEL_COLS`` names straight from the kernel results (``links``/
    ``meta`` resolved first, see :func:`_resolve`); every other column
    (``url``, the lineage bucket) comes through from the input batch
    untouched. Payloads reach the kernels as zero-copy memoryviews into
    the Arrow buffer. With a :class:`BucketTally` accumulator ``tally``
    (the lineage runner's; ``keep_cols`` then holds ``bucket``), each batch
    adds its per-bucket counts to it."""
    schema = T.StructType(schema.fields + [df.schema[c] for c in keep_cols])
    built = [f for f in schema.fields if f.name in _KERNEL_COLS]
    names = [f.name for f in built]
    links, meta = "links" in schema.names, "meta" in schema.names

    def _extract_batches(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        types = [to_arrow_type(f.dataType) for f in built]
        for batch in batches:
            urls = batch.column("url").to_pylist() if links or meta else None
            cols = [[] for _ in built]
            sinks = [(c, _KERNEL_COLS[f.name]) for c, f in zip(cols, built)]
            for i, payload in enumerate(_iter_binary_views(batch.column("html"))):
                res = extract_document(payload)
                if urls is not None:
                    _resolve(urls[i], res, links, meta)
                for col, key in sinks:
                    col.append(res[key])
            if tally is not None:
                tally.add(_bucket_counts(batch.column("bucket").to_pylist(),
                                         cols[names.index("extracted_text")],
                                         cols[names.index("error")]))
            arrays = dict(zip(names, map(pa.array, cols, types)))
            yield pa.RecordBatch.from_arrays(
                [arrays[n] if n in arrays else batch.column(n) for n in schema.names],
                names=schema.names,
            )

    return arrow_stage(df.select("url", "html", *keep_cols), _extract_batches, schema)


def extract_corpus(
    corpus: DataFrame,
    partitions: int | None = None,
    salt: int = 8,
    keep_cols: tuple[str, ...] = (),
    partition_exprs: list | None = None,
    tally=None,
) -> DataFrame:
    """Run the extraction pipeline over a corpus DataFrame.

    Prunes to ``(url, html)`` (+ ``keep_cols``) before the Python stage so
    the parquet scan reads only the needed columns (ReadSchema check in
    tests), then salted repartition, then :func:`extract_stage`.

    ``partition_exprs`` overrides the default (host-hash, url-salt)
    repartition keys — the lineage runner passes (bucket, url-salt) so the
    extraction output lands already clustered for the bucket-partitioned
    sink and the per-host skew defusal is preserved at salt granularity,
    with no second full-output shuffle before the write. It also passes
    ``tally``, a :class:`BucketTally` accumulator that the kernel stage
    fills with per-bucket counts (``keep_cols`` then holds ``bucket``).
    """
    if partitions is None:
        partitions = corpus.sparkSession.sparkContext.defaultParallelism
    pruned = corpus.select("url", "html", *keep_cols)
    if partition_exprs is not None:
        pruned = pruned.repartition(partitions, *partition_exprs)
    else:
        pruned = salted_repartition(pruned, partitions, salt)
    return extract_stage(pruned, OUTPUT_SCHEMA, keep_cols, tally)
