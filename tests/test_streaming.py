"""Streaming/batch equivalence (SURVEY.md 7.2: test via Trigger.AvailableNow
batch-equivalence): the streaming plans must produce exactly the batch
operators' results when drained over the static events table."""

from __future__ import annotations

import pytest

from conftest import SF_SMOKE

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
    queries,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.streaming import (
    windows as sw,
)


@pytest.fixture(scope="module")
def events(spark):
    return sw.events_stream(spark, SF_SMOKE)


def _as_set(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_stream_is_streaming(events):
    assert events.isStreaming


def test_tumbling_counts_match_batch(spark, events):
    streamed = sw.run_available_now(sw.tumbling_counts(events), "t_tumbling")
    batch = queries()["events_tumbling_window"](spark, SF_SMOKE)
    cols = ["window_start", "event_type", "n"]
    assert _as_set(streamed, cols) == _as_set(batch, cols)


def test_sliding_counts_match_batch(spark, events):
    streamed = sw.run_available_now(sw.sliding_value_sums(events), "t_sliding")
    batch = queries()["events_sliding_window"](spark, SF_SMOKE)
    cols = ["window_start", "n"]
    assert _as_set(streamed, cols) == _as_set(batch, cols)


def test_session_window_matches_batch_sessionize(spark, events):
    """session_window(gap=30m) must carve the same sessions as the batch
    lag/cumsum sessionizer: same number of sessions per user and same
    per-session event counts + start timestamps."""
    streamed = sw.run_available_now(sw.session_counts(events), "t_sessions")
    batch = queries()["events_sessionize"](spark, SF_SMOKE)
    got = _as_set(streamed, ["user_id", "session_start", "n_events"])
    want = _as_set(batch, ["user_id", "session_start", "n_events"])
    assert got == want


def test_dedup_stream_passthrough(spark, events):
    """event_id is unique in the corpus, so watermarked dropDuplicates must
    be a passthrough (and must run as a streaming stateful op)."""
    streamed = sw.run_available_now(sw.dedup_stream(events), "t_dedup")
    n_stream = streamed.count()
    n_batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").count()
    assert n_stream == n_batch


def test_stateful_user_profile_matches_batch(spark, events):
    """applyInPandasWithState profile tracker: after draining the static
    corpus, each user's final emitted profile must equal the batch
    groupBy-aggregate (float sums compared with tolerance — pandas and SQL
    associate the additions differently)."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.streaming import (
        stateful as st,
    )
    from pyspark.sql import functions as F

    streamed = sw.run_available_now(
        st.user_profile_stream(events), "t_profiles", output_mode="update"
    )
    # update-mode memory sink may hold one row per key per batch; keep each
    # user's final row (max n_events)
    import pandas as pd

    got = (
        streamed.toPandas()
        .sort_values("n_events")
        .groupby("user_id", as_index=False)
        .last()
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )

    batch = (
        register_views(spark, SF_SMOKE)["events"]
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        )
        .toPandas()
    )
    merged = got.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == len(batch) == len(got)
    assert (merged.n_events_s == merged.n_events_b).all()
    assert (merged.n_purchases_s == merged.n_purchases_b).all()
    assert (merged.total_value_s - merged.total_value_b).abs().max() < 1e-6


def test_stream_stream_join_matches_batch(spark, events):
    """The watermarked view->purchase conversion join over the drained
    stream must equal the identical inequality join run as a batch plan."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )

    streamed = sw.run_available_now(
        sw.view_purchase_conversions(events), "t_conversions"
    )
    batch = sw.view_purchase_conversions(register_views(spark, SF_SMOKE)["events"])
    cols = ["v_user", "view_ts", "purchase_ts", "purchase_value"]
    got, want = _as_set(streamed, cols), _as_set(batch, cols)
    assert want, "batch conversions empty — vacuous"
    assert got == want


def test_foreach_batch_append_sink(spark, events, tmp_path_factory):
    """foreachBatch parquet sink: draining the filtered stream must land
    exactly the batch-filtered rows in the append directory."""
    path = str(tmp_path_factory.mktemp("fb") / "purchases")
    from pyspark.sql import functions as F

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )

    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "value"
    )
    sw.run_foreach_batch_append(purchases, path)
    landed = spark.read.parquet(path)
    want = (
        register_views(spark, SF_SMOKE)["events"]
        .where(F.col("event_type") == "purchase")
        .count()
    )
    assert landed.count() == want > 0


def test_incremental_rollup_matches_batch(spark, events, tmp_path_factory):
    """The streaming-maintained daily rollup table must equal the batch
    rollup of the full corpus, and re-draining (replay) must leave it
    unchanged (idempotent partition overwrite)."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.streaming import (
        rollup as ru,
    )

    path = str(tmp_path_factory.mktemp("ru") / "daily")
    ru.maintain_daily_rollup(events, path, query_name="ru1")
    want = {
        (str(r.day), r.event_type, r.n_events, round(r.total_value, 6))
        for r in ru.day_rollup(register_views(spark, SF_SMOKE)["events"]).collect()
    }
    got = {
        (str(r.day), r.event_type, r.n_events, round(r.total_value, 6))
        for r in ru.read_rollup(spark, path).collect()
    }
    assert got == want and len(got) > 0

    # replay: a second full drain must be a no-op on the table contents
    events2 = sw.events_stream(spark, SF_SMOKE)
    ru.maintain_daily_rollup(events2, path, query_name="ru2")
    got2 = {
        (str(r.day), r.event_type, r.n_events, round(r.total_value, 6))
        for r in ru.read_rollup(spark, path).collect()
    }
    assert got2 == want


def test_rollup_checkpointed_drain_and_conf_not_leaked(spark, tmp_path_factory):
    """With a checkpoint, a second drain over unchanged source processes no
    data (incremental, O(changed keys)); and the drain must not leave
    partitionOverwriteMode=dynamic set on the shared session conf."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.streaming import (
        rollup as ru,
    )

    base = tmp_path_factory.mktemp("ruc")
    path, ckpt = str(base / "daily"), str(base / "ckpt")
    stage = str(base / "landing")  # fixed source dir: offsets are per-path
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")

    ru.maintain_daily_rollup(
        sw.events_stream(spark, SF_SMOKE, stage_dir=stage),
        path, query_name="ru_ck1", checkpoint_path=ckpt,
    )
    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    assert after == before, "drain leaked partitionOverwriteMode into session conf"

    got1 = {
        (str(r.day), r.event_type, r.n_events, round(r.total_value, 6))
        for r in ru.read_rollup(spark, path).collect()
    }
    assert len(got1) > 0

    # same checkpoint, unchanged source: incremental drain sees zero new
    # offsets and the table is untouched
    ru.maintain_daily_rollup(
        sw.events_stream(spark, SF_SMOKE, stage_dir=stage),
        path, query_name="ru_ck2", checkpoint_path=ckpt,
    )
    got2 = {
        (str(r.day), r.event_type, r.n_events, round(r.total_value, 6))
        for r in ru.read_rollup(spark, path).collect()
    }
    assert got2 == got1


def test_dedup_watermark_multibatch_shuffled_order(spark, tmp_path_factory):
    """The VERDICT r04 multi-batch defense, proven instead of argued: the
    watermarked key-dedup drained one file per micro-batch, with the files
    replayed in a SHUFFLED order (rows hash-scattered across parts, so
    every micro-batch spans the corpus's whole time range and arrives
    'late' relative to earlier batches), must emit exactly the same key
    set as the registered single-batch drain — i.e. the 90-day watermark
    really does keep state live across out-of-order micro-batches (no
    late-key drops, no evicted-key re-emits)."""
    import os
    import random

    stage = str(tmp_path_factory.mktemp("dedup_parts"))
    raw = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    raw.repartition(8).write.mode("overwrite").parquet(stage)
    parts = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    assert len(parts) == 8
    # The file source processes oldest-mtime-first; stamping a shuffled
    # permutation of mtimes fixes the replay order to that shuffle.
    order = list(parts)
    random.Random(5).shuffle(order)
    base = 1_700_000_000
    for i, p in enumerate(order):
        os.utime(os.path.join(stage, p), (base + i, base + i))

    ev = sw.events_stream_from_dir(spark, SF_SMOKE, stage, max_files_per_trigger=1)
    q = (
        sw.dedup_keyed(ev)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup_multibatch")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    fed = [p for p in q.recentProgress if (p.get("numInputRows") or 0) > 0]
    assert len(fed) == 8, f"expected 8 one-file micro-batches, saw {len(fed)}"

    streamed = spark.sql("SELECT * FROM t_dedup_multibatch")
    cols = ["user_id", "event_type", "minute_ts"]
    got = _as_set(streamed.selectExpr(
        "user_id", "event_type", "CAST(minute_ts AS STRING) AS minute_ts"), cols)
    single = queries()["streaming_dedup_watermark"](spark, SF_SMOKE)
    want = _as_set(single.selectExpr(
        "user_id", "event_type", "CAST(minute_ts AS STRING) AS minute_ts"), cols)
    assert want, "single-batch key set empty — vacuous"
    assert got == want
    # and the multi-batch output itself contains no duplicate keys
    assert streamed.count() == len(got)


def test_cdc_upsert_state_is_batch_boundary_invariant(spark, tmp_path_factory):
    """The foreachBatch CDC merge must converge to the same table state no
    matter how the feed is batched or ordered: replay the corpus in a
    SHUFFLED 8-file order and compare against the registered 4-batch
    drain (which itself matched the SQL argmax oracle)."""
    import os
    import random

    from pyspark.sql import functions as F

    stage = str(tmp_path_factory.mktemp("cdc_upsert_parts"))
    raw = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    raw.repartition(8).write.mode("overwrite").parquet(stage)
    parts = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    order = list(parts)
    random.Random(11).shuffle(order)
    base = 1_700_000_000
    for i, p in enumerate(order):
        os.utime(os.path.join(stage, p), (base + i, base + i))

    ev = sw.events_stream_from_dir(spark, SF_SMOKE, stage, max_files_per_trigger=1)
    ver_root = str(tmp_path_factory.mktemp("cdc_upsert_state"))
    state = {"path": None}

    def _merge(batch_df, batch_id):
        latest = batch_df.groupBy("user_id").agg(
            F.max(F.struct("ts", "event_id", "event_type")).alias("s"),
            F.count("*").alias("n_events"),
        )
        if state["path"] is not None:
            cur = batch_df.sparkSession.read.parquet(state["path"])
            latest = (
                cur.alias("c")
                .join(latest.alias("b"), "user_id", "full_outer")
                .select(
                    "user_id",
                    F.when(
                        F.col("b.s").isNull() | (F.col("c.s") > F.col("b.s")),
                        F.col("c.s"),
                    ).otherwise(F.col("b.s")).alias("s"),
                    (
                        F.coalesce(F.col("c.n_events"), F.lit(0).cast("long"))
                        + F.coalesce(F.col("b.n_events"), F.lit(0).cast("long"))
                    ).alias("n_events"),
                )
            )
        out = os.path.join(ver_root, f"v{batch_id}")
        latest.write.mode("overwrite").parquet(out)
        state["path"] = out

    q = (
        ev.writeStream.foreachBatch(_merge)
        .queryName("t_cdc_upsert_multibatch")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    fed = [p for p in q.recentProgress if (p.get("numInputRows") or 0) > 0]
    assert len(fed) == 8, f"expected 8 one-file micro-batches, saw {len(fed)}"

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(state["path"])
        .select(
            "user_id",
            F.col("s.ts").cast("timestamp_ntz").alias("last_ts"),
            F.col("s.event_id").alias("last_event_id"),
            F.col("s.event_type").alias("last_event_type"),
            "n_events",
        )
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in queries()["streaming_cdc_upsert"](spark, SF_SMOKE).collect()
    )
    assert want, "registered drain returned nothing — vacuous"
    assert got == want


def test_cdc_upsert_bucketed_state_is_batch_boundary_invariant(
    spark, tmp_path_factory
):
    """Same invariance pin for the partitioned+bucketed steady-state
    path: replay the corpus as a SHUFFLED 8-file feed through the SHARED
    cdc_upsert_pruned_drain (the exact shipped drain — pruned merge +
    dynamic partition overwrite per batch), and compare the final state
    against the registered 4-batch drain."""
    import os
    import random

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.warehouse import (
        session_token,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.streaming_entries import (
        cdc_upsert_pruned_drain,
    )

    stage = str(tmp_path_factory.mktemp("cdc_upsert_bk_parts"))
    raw = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    raw.repartition(8).write.mode("overwrite").parquet(stage)
    parts = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    order = list(parts)
    random.Random(23).shuffle(order)
    base = 1_700_000_000
    for i, p in enumerate(order):
        os.utime(os.path.join(stage, p), (base + i, base + i))

    tbl = f"cdcsb_tshuf_{session_token()}"
    final = cdc_upsert_pruned_drain(spark, SF_SMOKE, stage, tbl, expect_batches=8)
    got = sorted(tuple(r) for r in final.collect())
    want = sorted(
        tuple(r)
        for r in queries()["streaming_cdc_upsert_bucketed"](spark, SF_SMOKE).collect()
    )
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    assert want, "registered drain returned nothing — vacuous"
    assert got == want


def test_streaming_dedup_pair_set_is_batch_boundary_invariant(
    spark, tmp_path_factory
):
    """The always-on near-dup ingest must find every unordered pair
    exactly once under ANY batching: replay the documents corpus as a
    SHUFFLED 8-file feed through the SHARED dedup_stream_drain (the exact
    shipped logic) and compare the accumulated pair set against the
    registered 4-batch drain (which itself matched the quadratic
    exact-Jaccard oracle)."""
    import os
    import random

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.streaming_entries import (
        dedup_stream_drain,
    )

    stage = str(tmp_path_factory.mktemp("dedup_stream_parts"))
    raw = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    raw.repartition(8).write.mode("overwrite").parquet(stage)
    parts = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    order = list(parts)
    random.Random(37).shuffle(order)
    base = 1_700_000_000
    for i, p in enumerate(order):
        os.utime(os.path.join(stage, p), (base + i, base + i))

    got = sorted(
        tuple(r)
        for r in dedup_stream_drain(
            spark, stage, raw.schema, "t_dedup_stream_shuffled"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in queries()["streaming_dedup_minhash"](spark, SF_SMOKE).collect()
    )
    assert want, "registered drain returned nothing — vacuous"
    assert got == want


def test_cdc_upsert_commit_crash_replay_is_exactly_once(spark):
    """Kill-between-two-partition-commits pin for the src_batch
    exactly-once guard (r10 verdict item 5): commit only the FIRST of a
    batch's touched partitions (exactly the on-disk state a crash inside
    the dynamic overwrite's per-partition rename loop leaves), then
    replay the SAME batch id end-to-end and prove (a) counts are not
    double-applied anywhere, and (b) the replay rewrote the
    already-committed partition with value-identical rows."""
    from pyspark.sql import functions as F

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.warehouse import (
        session_token,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.streaming_entries import (
        _batch_latest,
        _state_pb,
        create_profile_state,
        merge_upsert_pruned,
        overwrite_touched_partitions,
    )

    ev = spark.createDataFrame(
        [(i, f"2024-01-01 0{i % 10}:00:00", i, "view") for i in range(400)],
        "user_id long, ts_s string, event_id long, event_type string",
    ).select(
        "user_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    )
    tbl = f"cdcsb_crashgate_{session_token()}"
    create_profile_state(spark, tbl, _batch_latest(ev), batch_id=0)
    try:
        # Batch 1: a delta spanning MULTIPLE partitions (every third key,
        # plus one brand-new key per partition — the insert branch must
        # survive replay too).
        delta = ev.where(F.col("user_id") % 3 == 0).withColumn(
            "event_id", F.col("event_id") + 10_000
        ).unionAll(
            spark.createDataFrame(
                [(1000 + i, "2024-01-02 00:00:00", 90_000 + i, "view")
                 for i in range(8)],
                "user_id long, ts_s string, event_id long, event_type string",
            ).select(
                "user_id",
                F.col("ts_s").cast("timestamp").alias("ts"),
                "event_id",
                "event_type",
            )
        )
        latest = _batch_latest(delta)
        merged, touched = merge_upsert_pruned(spark, tbl, latest, batch_id=1)
        assert len(touched) >= 2, "need a multi-partition commit to crash"

        # CRASH: only the first touched partition's rename happened.
        overwrite_touched_partitions(
            spark, tbl, merged.where(F.col("pb") == touched[0])
        )
        spark.catalog.refreshTable(tbl)
        committed_before = {
            tuple(r)
            for r in spark.table(tbl)
            .where(F.col("pb") == touched[0])
            .collect()
        }
        assert committed_before, "crash partition committed nothing — vacuous"

        # REPLAY: the engine re-delivers the batch under the SAME id.
        merged2, touched2 = merge_upsert_pruned(spark, tbl, latest, batch_id=1)
        assert touched2 == touched
        overwrite_touched_partitions(spark, tbl, merged2)
        spark.catalog.refreshTable(tbl)

        # (b) the re-committed crash partition is value-identical
        committed_after = {
            tuple(r)
            for r in spark.table(tbl)
            .where(F.col("pb") == touched[0])
            .collect()
        }
        assert committed_after == committed_before

        # (a) every key's count reflects exactly ONE application of the
        # delta: updated keys 2, inserted keys 1, untouched keys 1.
        got = {r["user_id"]: r["n_events"] for r in spark.table(tbl).collect()}
        for uid in range(400):
            assert got[uid] == (2 if uid % 3 == 0 else 1), uid
        for uid in range(1000, 1008):
            assert got[uid] == 1, uid
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_versioned_commit_reader_isolation_and_replay(spark):
    """The r11 'optional hardening' gap, now closed (r12): the versioned
    ping-pong commit gives CONCURRENT READERS a consistent view across a
    multi-partition commit. Pin all three properties:

    (a) ISOLATION — a reader that resolved the pointer before a commit
        (even one crashed mid-way, after the data writes but before the
        flip) sees exactly the old version, never a partition mix;
    (b) REPLAY before flip — re-running the same batch id completes the
        commit with the values a single clean application produces;
    (c) REPLAY after flip — a re-delivered batch id over the flipped
        version rewrites value-identical state (the src_batch stamp)."""
    from pyspark.sql import functions as F

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators import (
        streaming_entries as se,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.warehouse import (
        session_token,
    )

    ev = spark.createDataFrame(
        [(i, f"2024-01-01 0{i % 10}:00:00", i, "view") for i in range(400)],
        "user_id long, ts_s string, event_id long, event_type string",
    ).select(
        "user_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id",
        "event_type",
    )
    tbl = f"cdcsb_isogate_{session_token()}"
    se.create_versioned_profile_state(spark, tbl, se._batch_latest(ev), 0)
    try:
        cur0 = se.snapshot_current(spark, tbl)
        assert cur0 is not None and cur0[2] == 0
        reader_v0 = spark.table(cur0[0])
        baseline = {tuple(r) for r in reader_v0.collect()}
        assert baseline

        delta = ev.where(F.col("user_id") % 3 == 0).withColumn(
            "event_id", F.col("event_id") + 10_000
        )
        latest = se._batch_latest(delta)
        merged, touched = se.merge_upsert_pruned(spark, cur0[0], latest, 1)
        assert len(touched) >= 2

        # Crash AFTER the next side is fully built, BEFORE the flip.
        real_flip = se._flip_pointer
        def boom(*a, **k):
            raise RuntimeError("crash before pointer flip")
        se._flip_pointer = boom
        try:
            import pytest as _pytest
            with _pytest.raises(RuntimeError):
                se.versioned_commit(spark, tbl, merged, touched, 1)
        finally:
            se._flip_pointer = real_flip

        # (a) pointer unmoved; the old reader AND a fresh resolve both
        # see the exact pre-commit version — no partition mix.
        assert se.snapshot_current(spark, tbl)[:3] == cur0[:3]
        assert {tuple(r) for r in reader_v0.collect()} == baseline
        fresh = spark.table(se.snapshot_current(spark, tbl)[0])
        assert {tuple(r) for r in fresh.collect()} == baseline

        # (b) the engine replays batch 1 (same id) end-to-end.
        merged2, touched2 = se.merge_upsert_pruned(spark, cur0[0], latest, 1)
        assert touched2 == touched
        se.versioned_commit(spark, tbl, merged2, touched2, 1)
        cur1 = se.snapshot_current(spark, tbl)
        assert cur1[2] == 1 and cur1[1] != cur0[1]
        spark.catalog.refreshTable(cur1[0])
        after = {
            (r["user_id"], r["n_events"])
            for r in spark.table(cur1[0]).collect()
        }
        want = {(i, 2 if i % 3 == 0 else 1) for i in range(400)}
        assert after == want

        # (c) re-delivered batch 1 over the FLIPPED version: the stamp
        # passes committed rows through verbatim — values unchanged.
        merged3, touched3 = se.merge_upsert_pruned(spark, cur1[0], latest, 1)
        se.versioned_commit(spark, tbl, merged3, touched3, 1)
        cur2 = se.snapshot_current(spark, tbl)
        assert cur2[2] == 2
        spark.catalog.refreshTable(cur2[0])
        after2 = {
            (r["user_id"], r["n_events"])
            for r in spark.table(cur2[0]).collect()
        }
        assert after2 == want
    finally:
        for s in (0, 1):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}_s{s}")
