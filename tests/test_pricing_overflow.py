"""``pricing_summary`` past the BIGINT range: three lineitems whose
revenue units (price cents x (100 - discount percent)) sum beyond 2^63.
DuckDB's ``sum(BIGINT)`` promotes to HUGEINT; the Spark side must sum in
DECIMAL(38,0) to give the same revenue instead of raising (ANSI) or
wrapping."""

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from pdf_extraction_spark.operators import relational


def test_pricing_summary_sums_past_bigint_like_duckdb(spark, tmp_path):
    n = 3
    pq.write_table(
        pa.table({
            "l_orderkey": pa.array(range(n), pa.int64()),
            "l_quantity": [1.0] * n,
            "l_extendedprice": [4e14] * n,
            "l_discount": [0.0] * n,
            "l_tax": [0.0] * n,
            "l_returnflag": ["A"] * n,
            "l_linestatus": ["F"] * n,
            "l_shipdate": pa.array([datetime.datetime(1995, 1, 1)] * n, pa.timestamp("us")),
        }),
        tmp_path / "lineitem.parquet",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{tmp_path}/lineitem.parquet')"
    )
    want = con.execute(relational.SQL_PRICING_SUMMARY).fetchall()
    got = [tuple(r) for r in relational.q_pricing_summary(spark, str(tmp_path)).collect()]
    assert got == want
    # 3 x 4e16 cents x 100 = 1.2e19 revenue units, past 2^63 - 1
    assert got[0][3] == 1.2e15
