"""tools/make_sf.py — the deterministic scale-up synthesizer behind the
sf1 validation (VERDICT r4 "next round" item 1). The replicas must keep
every cross-table key relationship (the uniform-stride design) and be a
pure function of the input."""

import importlib.util
import pathlib

import duckdb

spec = importlib.util.spec_from_file_location(
    "make_sf",
    pathlib.Path(__file__).resolve().parent.parent / "tools" / "make_sf.py",
)
make_sf = importlib.util.module_from_spec(spec)
spec.loader.exec_module(make_sf)

SRC = "/root/testdata/sf0.001"


def _counts(con, d):
    return {
        t: con.sql(f"SELECT count(*) FROM read_parquet('{d}/{t}.parquet')").fetchone()[0]
        for t in list(make_sf.KEY_COLS) + make_sf.DIM_TABLES
    }


def test_row_counts_scale_and_dims_stay(tmp_path):
    out = tmp_path / "sf2x"
    make_sf.synthesize(str(out), 2, SRC)
    con = duckdb.connect()
    src, got = _counts(con, SRC), _counts(con, out)
    for t in make_sf.KEY_COLS:
        assert got[t] == 2 * src[t], t
    for t in make_sf.DIM_TABLES:
        assert got[t] == src[t], t


def test_foreign_keys_hold_within_each_replica(tmp_path):
    out = tmp_path / "sf2x"
    make_sf.synthesize(str(out), 2, SRC)
    con = duckdb.connect()
    for child, ckey, parent, pkey in [
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ]:
        dangling = con.sql(
            f"SELECT count(*) FROM read_parquet('{out}/{child}.parquet') c "
            f"LEFT JOIN read_parquet('{out}/{parent}.parquet') p "
            f"ON c.{ckey} = p.{pkey} WHERE p.{pkey} IS NULL"
        ).fetchone()[0]
        assert dangling == 0, (child, ckey)


def test_replicas_duplicate_values_with_shifted_keys(tmp_path):
    out = tmp_path / "sf2x"
    make_sf.synthesize(str(out), 2, SRC)
    con = duckdb.connect()
    # every replica-1 document is the replica-0 document shifted by STRIDE,
    # with identical non-key attributes
    drift = con.sql(
        f"SELECT count(*) FROM read_parquet('{out}/documents.parquet') a "
        f"JOIN read_parquet('{out}/documents.parquet') b "
        f"ON b.doc_id = a.doc_id + {make_sf.STRIDE} "
        f"WHERE a.doc_id < {make_sf.STRIDE} AND "
        f"(a.text != b.text OR a.lang != b.lang OR a.source != b.source)"
    ).fetchone()[0]
    assert drift == 0


def test_synthesis_is_deterministic(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    make_sf.synthesize(str(a), 2, SRC)
    make_sf.synthesize(str(b), 2, SRC)
    con = duckdb.connect()
    for t in list(make_sf.KEY_COLS) + make_sf.DIM_TABLES:
        diff = con.sql(
            f"SELECT count(*) FROM ("
            f"(SELECT * FROM read_parquet('{a}/{t}.parquet') "
            f" EXCEPT SELECT * FROM read_parquet('{b}/{t}.parquet')) UNION ALL "
            f"(SELECT * FROM read_parquet('{b}/{t}.parquet') "
            f" EXCEPT SELECT * FROM read_parquet('{a}/{t}.parquet')))"
        ).fetchone()[0]
        assert diff == 0, t

