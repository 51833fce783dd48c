"""Exact-decimal sums that land on a .xx5 tie must round the same in
Spark and in the DuckDB oracle.

Spark rounds a DOUBLE through its shortest decimal string (HALF_UP);
DuckDB rounds the binary value, which for 289100.845 lies just below
the tie. Without the ``+ EPS`` guard on both sides the engines differ
by 0.01 on these sums.
"""

from __future__ import annotations

import datetime as dt

import pytest

from teleco_etl_pipeline_spark.plans.registry import all_queries

# Two groups whose revenue is an exact tie: 578201.69 * (1 - 0.50) =
# 289100.845 and 1137195.65 * (1 - 0.50) = 568597.825.
TIES = {0: (578201.69, 289100.85), 1: (1137195.65, 568597.83)}


@pytest.fixture(scope="module")
def tie_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("ties")
    keys = sorted(TIES)
    ts = lambda s: pa.array([dt.datetime.fromisoformat(s)] * len(keys), pa.timestamp("us"))  # noqa: E731
    tables = {
        "region": pa.table({"r_regionkey": pa.array([2], pa.int32()), "r_name": ["ASIA"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(keys, pa.int32()),
            "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": pa.array([2] * len(keys), pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(keys, pa.int64()),
            "c_nationkey": pa.array(keys, pa.int32()),
            "c_mktsegment": ["BUILDING"] * len(keys),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(keys, pa.int64()),
            "s_nationkey": pa.array(keys, pa.int32()),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(keys, pa.int64()),
            "o_orderdate": ts("1996-06-01 00:00:00"),
            "o_orderpriority": ["1-URGENT"] * len(keys),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(keys, pa.int64()),
            "l_suppkey": pa.array(keys, pa.int64()),
            "l_quantity": [1.0] * len(keys),
            "l_extendedprice": [TIES[k][0] for k in keys],
            "l_discount": [0.5] * len(keys),
            "l_tax": [0.0] * len(keys),
            "l_returnflag": [("A", "N")[k] for k in keys],
            "l_linestatus": ["F"] * len(keys),
            "l_shipdate": ts("1998-06-01 00:00:00"),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, str(out / f"{name}.parquet"))
    return str(out)


def _oracle(sf_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for name in ("region", "nation", "customer", "supplier", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    finally:
        con.close()


@pytest.mark.parametrize(
    "name, col",
    [
        ("pricing_summary", "sum_disc_price"),
        ("pricing_summary", "sum_charge"),
        ("shipping_priority", "revenue"),
        ("local_supplier_volume", "revenue"),
    ],
)
def test_exact_tie_rounds_alike_in_both_engines(spark, tie_dir, name, col):
    q = all_queries()[name]
    df = q.build(spark, tie_dir)
    cols = df.columns
    got = sorted(tuple(r[c] for c in cols) for r in df.collect())
    ocols, orows = _oracle(tie_dir, q.oracle)
    want = sorted(tuple(r[ocols.index(c)] for c in cols) for r in orows)
    assert got == want
    assert sorted(r[cols.index(col)] for r in got) == [v for _, v in TIES.values()]
