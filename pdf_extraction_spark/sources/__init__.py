"""Source connectors for the extraction corpus (WARC, parquet directories)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..pipeline import local_df

_PATHS_SCHEMA = T.StructType([T.StructField("path", T.StringType())])


def paths_df(spark: SparkSession, paths: list[str], partitions: int | None = None) -> DataFrame:
    """One ``path`` row per input file, spread over ``partitions`` tasks
    (default: one per file, at most the default parallelism) — the input of
    each connector's executor-side parse."""
    n = max(1, partitions or min(len(paths), spark.sparkContext.defaultParallelism))
    return local_df(spark, [(p,) for p in paths], _PATHS_SCHEMA).repartition(n)
