"""Shared helpers for operator modules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


PAD_WORD = "pad"


def first_words(text: object, k: int) -> list[str]:
    """First ``k`` space-split words of ``text``, right-padded with
    ``PAD_WORD`` when the document is shorter than ``k`` words.

    The synthetic-fixture builders index into this list (``w[3]`` etc.);
    unpadded, a sub-``k``-word document raised IndexError inside the Arrow
    batch and killed the whole Spark job while the DuckDB oracles silently
    NULL-propagated (review finding). Every oracle that reads word ``i``
    mirrors this guard as ``coalesce(w[i], 'pad')`` so both engines build
    the identical fixture on any input."""
    return (str(text).split(" ") + [PAD_WORD] * k)[:k]


# Python's str.isspace() set, as an RE2 class: the HTML kernel normalizes
# attribute values with " ".join(v.split()) after entity decoding.
_SQL_WS = (r"[\t\n\x0b\f\r\x1c-\x1f \x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
           r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+")


def sql_fold_ws(expr: str) -> str:
    """DuckDB twin of the kernel's attribute-value fold: whitespace runs
    become one space and the edges are trimmed. Oracles that read a
    builder's words back out of an HTML attribute wrap them in this, so a
    word holding a tab parses the same on both engines."""
    return f"trim(regexp_replace({expr}, '{_SQL_WS}', ' ', 'g'))"
