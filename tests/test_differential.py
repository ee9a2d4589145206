"""The local twin of the driver's correctness gate: every registered
query with an oracle must match DuckDB on the smoke-SF testdata."""

from __future__ import annotations

import pytest

from parquet_ingestor_spark.queries import REGISTRY, _ensure_loaded
from parquet_ingestor_spark.testing import (
    diff_summary,
    duck_canon,
    duck_connect,
    spark_canon,
)

_ensure_loaded()
_WITH_ORACLE = sorted(n for n, q in REGISTRY.items() if q.oracle)
_ROWS_ONLY = sorted(n for n, q in REGISTRY.items() if not q.oracle)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connect(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = REGISTRY[name]
    got = spark_canon(q.fn(spark, sf_dir))
    want = duck_canon(duck, q.oracle)
    assert got == want, f"{name} mismatch:\n{diff_summary(got, want)}"


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    df = REGISTRY[name].fn(spark, sf_dir)
    assert df.count() >= 0  # runs, stable schema
    assert df.columns


def _planted_half_cent_tables(src_dir: str, out_dir: str) -> None:
    """One order in an ASIA nation whose two lines discount to a
    revenue of exactly 2426.305 (1.45 * 0.90 + 2500.00 * 0.97): a half
    cent, which a DOUBLE sum puts at 242630.49999... after the * 100. Tables
    the two entries do not read are linked from ``src_dir``."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_ingestor_spark.catalog import TABLES

    day = dt.datetime(1996, 6, 1)
    rows = {
        "region": {"r_regionkey": [0], "r_name": ["ASIA"]},
        "nation": {"n_nationkey": [0], "n_name": ["NATION_0"], "n_regionkey": [0]},
        "customer": {
            "c_custkey": [1], "c_name": ["c1"], "c_nationkey": [0],
            "c_acctbal": [0.0], "c_mktsegment": ["BUILDING"],
        },
        "supplier": {
            "s_suppkey": [1], "s_name": ["s1"], "s_nationkey": [0],
            "s_acctbal": [0.0],
        },
        "orders": {
            "o_orderkey": [1], "o_custkey": [1], "o_orderstatus": ["O"],
            "o_totalprice": [2501.45], "o_orderdate": [day],
            "o_orderpriority": ["1-URGENT"],
        },
        "lineitem": {
            "l_orderkey": [1, 1], "l_partkey": [1, 2], "l_suppkey": [1, 1],
            "l_linenumber": [1, 2], "l_quantity": [1.0, 1.0],
            "l_extendedprice": [1.45, 2500.00], "l_discount": [0.10, 0.03],
            "l_tax": [0.0, 0.0], "l_returnflag": ["R", "R"],
            "l_linestatus": ["F", "F"], "l_shipdate": [day, day],
        },
    }
    os.makedirs(out_dir)
    for name in TABLES:
        src = f"{src_dir}/{name}.parquet"
        dst = f"{out_dir}/{name}.parquet"
        if name in rows:
            schema = pq.read_schema(src).remove_metadata()
            pq.write_table(pa.table(rows[name], schema=schema), dst)
        else:
            os.symlink(os.path.abspath(src), dst)


def test_half_cent_revenue_rounds_exactly(spark, sf_dir, tmp_path):
    """q10 and q15 sum the discounted price as exact DECIMAL: a planted
    half-cent total rounds half away from zero (242630.5 -> 242631) in
    both engines, instead of landing on float noise below the tie."""
    planted = str(tmp_path / "planted")
    _planted_half_cent_tables(sf_dir, planted)
    con = duck_connect(planted)
    try:
        for name, col in (
            ("q10_revenue_per_nation", "revenue_e2"),
            ("q15_pricing_summary", "sum_disc_price_e2"),
        ):
            q = REGISTRY[name]
            df = q.fn(spark, planted)
            assert [r[col] for r in df.collect()] == [242631], name
            got, want = spark_canon(df), duck_canon(con, q.oracle)
            assert got == want, f"{name} mismatch:\n{diff_summary(got, want)}"
    finally:
        con.close()
