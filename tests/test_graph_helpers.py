"""Unit gates for the round-7 PageRank hardening: the 2^31 key-pack
guard, the vectorized duplicate-key kernel, the AQE-off session clone,
and the memoized broadcast COUNT probe."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.graph import (
    _duplicated_keys_fn,
    _lift_into_aqe_off_session,
    _partkey_packable,
)


def test_packable_true_on_testdata(spark):
    """Footer-stats path: the driver corpus's partkeys are tiny."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    assert _partkey_packable(li) is True


def test_packable_false_past_2_31(spark):
    """A partkey domain at 100 TB cardinality (>= 2^31) must refuse the
    pack — the r06 silent-corruption hazard. In-memory frame, so this
    also exercises the Spark-side fallback (no parquet footers)."""
    big = spark.range(3).select(
        F.col("id").alias("l_orderkey"),
        (F.col("id") + (1 << 31)).alias("l_partkey"),
    )
    assert _partkey_packable(big) is False
    neg = spark.range(3).select(
        F.col("id").alias("l_orderkey"),
        (F.col("id") - 5).alias("l_partkey"),
    )
    assert _partkey_packable(neg) is False
    small = spark.range(3).select(
        F.col("id").alias("l_orderkey"), F.col("id").alias("l_partkey")
    )
    assert _partkey_packable(small) is True


def test_duplicated_keys_kernel():
    """Pure-kernel check: keys at or above the support threshold survive,
    across batch boundaries; empty input yields nothing."""
    fn = _duplicated_keys_fn(2)
    batches = [pd.DataFrame({"pk": [1, 2, 3]}), pd.DataFrame({"pk": [3, 2, 2]})]
    out = list(fn(iter(batches)))
    assert len(out) == 1
    assert sorted(out[0]["pk"]) == [2, 3]
    assert list(fn(iter([]))) == []
    fn3 = _duplicated_keys_fn(3)
    out3 = list(fn3(iter(batches)))
    assert sorted(out3[0]["pk"]) == [2]


def test_lift_isolates_aqe(spark):
    """The cloned session must run with AQE off while the parent keeps
    its setting — and the lifted frame must carry identical rows."""
    parent_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    src = spark.range(1000).select(
        F.col("id").alias("src"), (F.col("id") % 7).alias("dst")
    ).localCheckpoint()
    lifted = _lift_into_aqe_off_session(spark, src)
    clone = lifted.sparkSession
    assert clone.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.enabled") == parent_aqe
    assert clone.conf.get("spark.sql.shuffle.partitions") == spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    assert sorted(map(tuple, lifted.collect())) == sorted(
        map(tuple, src.collect())
    )
    # the clone's plans must not be adaptive
    plan = (
        lifted.groupBy("dst").count()._jdf.queryExecution().executedPlan()
    ).toString()
    assert "AdaptiveSparkPlan" not in plan


def test_counted_probe_memoizes(spark, monkeypatch):
    """The borderline COUNT probe must run once per (plan, estimate) —
    bench passes reconstruct the same slice and should hit the cache
    even though expression IDs differ between constructions."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans import (
        costing,
    )

    costing._PROBE_COUNT_CACHE.clear()
    calls = {"n": 0}
    orig_count = type(spark.range(1)).count

    def counting(self):
        calls["n"] += 1
        return orig_count(self)

    monkeypatch.setattr(type(spark.range(1)), "count", counting)
    for _ in range(3):
        df = spark.read.parquet(
            "/root/testdata/sf0.001/orders.parquet"
        ).where(F.col("o_totalprice") > 1000)
        plan = df._jdf.queryExecution().optimizedPlan()
        est = int(str(plan.stats().sizeInBytes()))
        n = costing.counted_probe(df, plan, est)
    assert calls["n"] == 1, "probe re-counted a cached plan"
    assert n == orig_count(
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet").where(
            F.col("o_totalprice") > 1000
        )
    )


def test_counted_probe_cache_is_bounded(spark, monkeypatch):
    """Past its cap the probe memo evicts the least recently used slice,
    which then counts again."""
    import os

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans import (
        costing,
    )
    from conftest import SF_SMOKE

    costing._PROBE_COUNT_CACHE.clear()
    monkeypatch.setattr(costing._PROBE_COUNT_CACHE, "max_entries", 2)
    calls = {"n": 0}
    orig_count = type(spark.range(1)).count

    def counting(self):
        calls["n"] += 1
        return orig_count(self)

    monkeypatch.setattr(type(spark.range(1)), "count", counting)
    orders = spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet"))

    def probe(floor):
        df = orders.where(F.col("o_totalprice") > floor)
        plan = df._jdf.queryExecution().optimizedPlan()
        return costing.counted_probe(df, plan, int(str(plan.stats().sizeInBytes())))

    first = probe(1000)
    probe(2000)
    probe(3000)
    assert calls["n"] == 3 and len(costing._PROBE_COUNT_CACHE) == 2
    assert probe(1000) == first
    assert calls["n"] == 4, "an evicted slice must be counted again"
    costing._PROBE_COUNT_CACHE.clear()


def test_packable_cache_is_bounded(spark, tmp_path, monkeypatch):
    """Past its cap the key-pack verdict memo evicts the least recently
    used corpus, whose footers are then read again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans import (
        costing,
    )

    costing.RANGE_CACHE.clear()
    monkeypatch.setattr(costing.RANGE_CACHE, "max_entries", 2)
    calls = {"n": 0}
    orig_file = pq.ParquetFile

    def counting(*args, **kwargs):
        calls["n"] += 1
        return orig_file(*args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    corpora = {}
    for i in range(3):
        path = str(tmp_path / f"lineitem{i}.parquet")
        pq.write_table(pa.table({"l_orderkey": [i], "l_partkey": [i]}), path)
        corpora[i] = spark.read.parquet(path)

    assert all(_partkey_packable(corpora[i]) for i in range(3))
    assert calls["n"] == 3 and len(costing.RANGE_CACHE) == 2
    assert _partkey_packable(corpora[0]) is True
    assert calls["n"] == 4, "an evicted corpus must be probed again"
    costing.RANGE_CACHE.clear()


def test_copurchase_pair_counts_matches_plain_rollup(spark):
    """The struct-explode pair rollup must match a plain distinct+self-join
    on the smoke corpus — built from lineitem directly AND from a shared
    order_baskets subtree, with and without the support floor."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators import (
        graph,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    expected = sorted(
        map(
            tuple,
            a.join(b, "ok")
            .where(F.col("part_a") < F.col("part_b"))
            .groupBy("part_a", "part_b")
            .agg(F.count("*").alias("n_ab"))
            .collect(),
        )
    )
    got = sorted(
        map(tuple, graph.copurchase_pair_counts(li).collect())
    )
    assert got == expected and len(got) > 0
    # Shared-baskets entry point: identical pairs from a caller-built
    # order_baskets frame (lineitem arg unused on this path).
    baskets = graph.order_baskets(li)
    shared = sorted(
        map(
            tuple,
            graph.copurchase_pair_counts(baskets=baskets).collect(),
        )
    )
    assert shared == expected
    # Support floor.
    floor = sorted(
        map(
            tuple,
            graph.copurchase_pair_counts(li, min_support=2).collect(),
        )
    )
    assert floor == [r for r in expected if r[2] >= 2]
    assert len(floor) < len(expected)
