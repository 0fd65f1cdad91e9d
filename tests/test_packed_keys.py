"""Packed-key guards: ``costing.column_within`` reads a column's range from
parquet footers (or one MIN/MAX job), and an operator that packs two keys
into one long takes its unpacked form when the range check fails."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
    oracle_sql,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.tpch import (
    tpch_q5,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.costing import (
    RANGE_CACHE,
    column_within,
)

Q5 = "tpch_q5_local_supplier_volume"


@pytest.mark.parametrize("values,within", [
    ([0, 31], True),
    ([0, 32], False),
    ([-1, 5], False),
    ([None], True),  # no value, nothing to collide
])
def test_column_within_bounds(spark, tmp_path, values, within):
    path = str(tmp_path / "k.parquet")
    pq.write_table(pa.table({"k": pa.array(values, pa.int64())}), path)
    on_disk = spark.read.parquet(path)  # footer statistics
    in_memory = spark.createDataFrame([(v,) for v in values], "k long")  # one job
    assert column_within(on_disk, "k", 0, 32) is within
    assert column_within(in_memory, "k", 0, 32) is within


def test_column_within_rereads_a_rewritten_file(spark, tmp_path):
    path = str(tmp_path / "k.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2], pa.int64())}), path)
    assert column_within(spark.read.parquet(path), "k", 0, 32) is True
    pq.write_table(pa.table({"k": pa.array([1, 2, 40], pa.int64())}), path)
    assert column_within(spark.read.parquet(path), "k", 0, 32) is False


def _q5_corpus(root) -> dict[str, str]:
    """Two ASIA nations keyed 1 and 33: 11 * 32 + 1 == 10 * 32 + 33, so the
    packed key takes line (order 11, nation-1 supplier) for order 10's
    (nation-33 customer) match, which the compound key does not."""
    ts = lambda m: dt.datetime(1996, m, 1)  # noqa: E731
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    tables = {
        "region": pa.table({"r_regionkey": pa.array([0, 2], i32),
                            "r_name": ["AFRICA", "ASIA"]}),
        "nation": pa.table({"n_nationkey": pa.array([1, 5, 33], i32),
                            "n_name": ["NATION_1", "NATION_5", "NATION_33"],
                            "n_regionkey": pa.array([2, 0, 2], i32)}),
        "supplier": pa.table({"s_suppkey": pa.array([1, 2], i64),
                              "s_nationkey": pa.array([1, 33], i32)}),
        "customer": pa.table({"c_custkey": pa.array([1, 2], i64),
                              "c_nationkey": pa.array([33, 1], i32)}),
        "orders": pa.table({"o_orderkey": pa.array([10, 11, 12], i64),
                            "o_custkey": pa.array([1, 1, 2], i64),
                            "o_orderdate": pa.array([ts(6), ts(7), ts(8)], pa.timestamp("us"))}),
        "lineitem": pa.table({"l_orderkey": pa.array([10, 11, 12], i64),
                              "l_suppkey": pa.array([2, 1, 1], i64),
                              "l_extendedprice": pa.array([100.0, 200.0, 50.0], f64),
                              "l_discount": pa.array([0.0, 0.0, 0.1], f64)}),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = str(root / f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths


def test_q5_mid_band_refuses_a_nation_key_past_the_pack(spark, tmp_path):
    """With a nation key >= 32 the mid band's packed semi-join would
    match rows the compound key does not; forced into the band the way
    test_plans forces it, q5 must take the compound-key form and return
    the oracle's rows."""
    paths = _q5_corpus(tmp_path)
    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    want = sorted((n, round(r, 4)) for n, r in con.execute(oracle_sql()[Q5]).fetchall())
    assert want == [("NATION_1", 45.0), ("NATION_33", 100.0)]

    tables = {name: spark.read.parquet(path) for name, path in paths.items()}
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # Below the 3-row slice's 48 counted bytes: the tight gate fails and
    # the slice is counted, which admits the mid band.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
    try:
        df = tpch_q5.raw(spark, tables)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        got = sorted((r.n_name, round(r.revenue, 4)) for r in df.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        RANGE_CACHE.clear()
    keys = [line for line in plan.splitlines() if " keys [" in line]
    assert not [k for k in keys if "* 32)" in k], keys  # no packed join key
    assert any(k.startswith("Left keys [2]: [l_orderkey#") for k in keys), keys
    assert got == want
