"""Write-side layout strategies: partition pruning and bucketed-join
exchange elimination, asserted on the physical plan — the two storage
decisions that dominate read cost at 100 TB."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources import (
    sinks,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
    register_views,
)


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def events_df(spark):
    return register_views(spark, SF_SMOKE)["events"]


def test_partitioned_write_prunes_on_read(spark, events_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("part") / "events_by_day")
    by_day = events_df.withColumn("day", F.to_date("ts"))
    sinks.write_partitioned(by_day, path, ["day"])
    # layout: one directory per day
    days = [d for d in os.listdir(path) if d.startswith("day=")]
    assert len(days) > 1

    back = sinks.read_partitioned(spark, path)
    one_day = sorted(d.split("=", 1)[1] for d in days)[0]
    q = back.where(F.col("day") == one_day)
    plan = _explain(q)
    # the date predicate must prune partitions at the scan, not filter rows
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:200], plan[:2000]
    assert q.count() == events_df.where(F.to_date("ts") == one_day).count()


def test_bucketed_tables_join_without_exchange(spark, events_df, tmp_path_factory):
    """Two tables bucketed on the join key must sort-merge join with zero
    Exchange nodes — the shuffle was paid at write time."""
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    # force the sort-merge path: at test scale both sides fit under the
    # broadcast threshold, which would hide the bucketing win being asserted
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    users = (
        events_df.groupBy("user_id").agg(F.count("*").alias("n_events"))
    )
    values = (
        events_df.groupBy("user_id").agg(F.sum("value").alias("total_value"))
    )
    sinks.write_bucketed(users, "bk_users", "user_id", n_buckets=4, sort_col="user_id")
    sinks.write_bucketed(values, "bk_values", "user_id", n_buckets=4, sort_col="user_id")
    try:
        j = spark.table("bk_users").join(spark.table("bk_values"), "user_id")
        plan = _explain(j)
        assert "SortMergeJoin" in plan, plan[:3000]
        assert "Exchange" not in plan, plan[:3000]
        assert j.count() == users.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_users")
        spark.sql("DROP TABLE IF EXISTS bk_values")
