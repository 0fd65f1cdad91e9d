"""Change-data-capture operators: MERGE/upsert application and SCD-2
history building (north-star expansion — the incremental-maintenance
primitives a continuously-refreshed 100 TB corpus needs; the reference's
Django ORM mutates rows in place and has no batch-change surface).

Both operators derive their change feeds DETERMINISTICALLY from the test
tables (the same re-injection idiom dedup_exact and text_pii_scrub use),
so the DuckDB oracles replay identical inputs and the hash compare is
exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numerics import sql_stable_sum, stable_sum
from ..plans.costing import fits_broadcast_counted
from ..sources.catalog import input_digest
from ..sources.warehouse import (
    cached_layout,
    ensure_bucketed_table,
    prepare_table_location,
    session_token,
)
from .registry import query

#: Bucket count for the incremental CDC family's durable tables. 16 was
#: the r05 value; the r13 knob A/B (tools/nbuckets_ab.py, min-of-3,
#: merged values asserted identical) measured 32 better at BOTH scales —
#: sf30 merge+write 3.45 -> 3.05 s, sf60 9.11 -> 6.34 s (base write
#: 6.18 -> 4.81 s) — because 16 one-file-per-bucket writer tasks starve
#: a 32-core host; 64 ties 32 at sf60 (6.04) but loses at sf30 (4.01).
#: The knob's rule: match the write-slot parallelism of the deployment
#: (here local[32]); per-bucket FILE SIZE then scales with corpus size,
#: which is what a 100 TB deployment re-tunes it for (thousands).
_CDC_N_BUCKETS = 32

#: The synthetic change feed, shared by the Spark plan and the oracle:
#: one update, one delete, and one insert slice of orders. Insert keys
#: are offset by MAX(o_orderkey) — disjoint from live keys AT ANY SCALE
#: (a fixed 1e9 literal collides once orderkeys pass 1e9, TPC-H sf ~167;
#: r08 review finding) — and the offset is a broadcast scalar on both
#: engines.
_CHANGES_SQL = """
        kmx AS (SELECT MAX(o_orderkey) AS kmx FROM orders),
        changes AS (
            SELECT o_orderkey AS key, 'U' AS op,
                   o_totalprice + 100.0 AS price, 'U' AS status
            FROM orders WHERE o_orderkey % 10 = 3
            UNION ALL
            SELECT o_orderkey AS key, 'D' AS op,
                   CAST(NULL AS DOUBLE) AS price, CAST(NULL AS VARCHAR) AS status
            FROM orders WHERE o_orderkey % 10 = 7
            UNION ALL
            SELECT o_orderkey + kmx.kmx AS key, 'I' AS op,
                   o_totalprice AS price, 'N' AS status
            FROM orders CROSS JOIN kmx WHERE o_orderkey % 10 = 1
        )
"""


@query(
    "cdc_merge_apply",
    oracle=f"""
        WITH snapshot AS (
            SELECT o_orderkey AS key, o_totalprice AS price,
                   o_orderstatus AS status
            FROM orders
        ),
        {_CHANGES_SQL},
        merged AS (
            SELECT COALESCE(c.key, s.key) AS key,
                   CASE WHEN c.op IN ('U', 'I') THEN c.price
                        ELSE s.price END AS price,
                   CASE WHEN c.op IN ('U', 'I') THEN c.status
                        ELSE s.status END AS status
            FROM snapshot s FULL OUTER JOIN changes c ON s.key = c.key
            WHERE c.op IS NULL OR c.op <> 'D'
        )
        SELECT status, COUNT(*) AS n_orders,
               {sql_stable_sum('price')} AS total_price
        FROM merged GROUP BY status
    """,
    covers="expansion: MERGE/upsert application (CDC apply via full-outer "
    "join — insert + update + delete in one keyed pass; COLD-START / "
    "full-rewrite path — steady state routes to cdc_merge_incremental "
    "or cdc_merge_pruned)",
)
def cdc_merge_apply(spark, t):
    """Apply a change feed (inserts, updates, deletes) onto a snapshot in
    one keyed pass — relational MERGE semantics, the batch form of what a
    lakehouse MERGE INTO executes (connectors.py documents the delta/
    iceberg jar limit; this is the engine-level shape those formats
    optimize with file skipping).

    ROUTING (r07 verdict item 4): this one-shot form re-shuffles BOTH
    sides at corpus grain and is the COLD-START / full-rewrite path only
    — first materialization of a target, or a feed so large the whole
    table moves anyway. Steady-state merges route to
    :func:`cdc_merge_incremental` (bucketed target, zero-exchange
    snapshot side) or :func:`cdc_merge_pruned` (partitioned target,
    only touched partitions join).

    The snapshot full-outer-joins the change feed on the key: matched 'U'
    rows take the change's values, matched 'D' rows are dropped,
    unmatched change rows ('I') insert, unmatched snapshot rows carry
    over. Output is the post-merge per-status rollup, which pins every
    branch (counts move between statuses, deletes shrink them, inserts
    create status 'N').

    Scale shape: ONE shuffle of each side on the merge key — the same
    cost as any keyed join at 100 TB; no collect, no per-row dispatch.
    (A full-outer equi-join cannot broadcast in Spark — BroadcastHashJoin
    does not support full outer — so both sides always exchange
    regardless of feed size; a lakehouse MERGE INTO beats this shape not
    by broadcasting but by file-skipping to the touched partitions,
    which is what the delta/iceberg connectors would add. The r07 A/B,
    tools/cdc_ab.py, measured the obvious alternative — decompose into a
    broadcast left-outer plus a key-only anti for inserts — and REJECTED
    it: this entry's feed scales with the corpus, so at sf10 the split
    is 7.8 s vs 1.8 s for this form; a genuinely-small feed is the
    cdc_merge_incremental bucketed target's job.)

    Phase split (r10 verdict item 4, mirroring the incremental sibling):
    the synthetic change feed is DEMO SCAFFOLDING — in production it
    arrives already materialized — so it is checkpointed here and its
    build time recorded as ``feed_build_s``; the cell's remaining wall
    time is the MERGE itself (snapshot scan + full-outer + rollup),
    which is what the at-scale curve should grade."""
    import time

    from .registry import record_phase_split

    o = t["orders"]
    snapshot = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    t0 = time.perf_counter()
    batch1 = _changes_batch1(o).localCheckpoint()
    record_phase_split(
        "cdc_merge_apply", feed_build_s=time.perf_counter() - t0
    )
    merged = _merge_batch(snapshot, batch1)
    return merged.groupBy("status").agg(
        F.count("*").alias("n_orders"),
        stable_sum("price").alias("total_price"),
    )


#: Second synthetic change batch for the incremental target: exercises
#: update-then-delete (keys updated in batch 1, deleted here), fresh
#: updates, and insert-then-update (half of batch 1's inserted keys).
_CHANGES2_SQL = """
        changes2 AS (
            SELECT o_orderkey AS key, 'U' AS op,
                   o_totalprice + 50.0 AS price, 'V' AS status
            FROM orders WHERE o_orderkey % 10 = 5
            UNION ALL
            SELECT o_orderkey AS key, 'D' AS op,
                   CAST(NULL AS DOUBLE) AS price, CAST(NULL AS VARCHAR) AS status
            FROM orders WHERE o_orderkey % 10 = 3
            UNION ALL
            SELECT o_orderkey + kmx.kmx AS key, 'U' AS op,
                   o_totalprice * 2 AS price, 'M' AS status
            FROM orders CROSS JOIN kmx WHERE o_orderkey % 20 = 1
        )
"""


@query(
    "cdc_merge_incremental",
    oracle=f"""
        WITH snapshot AS (
            SELECT o_orderkey AS key, o_totalprice AS price,
                   o_orderstatus AS status
            FROM orders
        ),
        {_CHANGES_SQL},
        merged1 AS (
            SELECT COALESCE(c.key, s.key) AS key,
                   CASE WHEN c.op IN ('U', 'I') THEN c.price
                        ELSE s.price END AS price,
                   CASE WHEN c.op IN ('U', 'I') THEN c.status
                        ELSE s.status END AS status
            FROM snapshot s FULL OUTER JOIN changes c ON s.key = c.key
            WHERE c.op IS NULL OR c.op <> 'D'
        ),
        {_CHANGES2_SQL},
        merged2 AS (
            SELECT COALESCE(c.key, s.key) AS key,
                   CASE WHEN c.op IN ('U', 'I') THEN c.price
                        ELSE s.price END AS price,
                   CASE WHEN c.op IN ('U', 'I') THEN c.status
                        ELSE s.status END AS status
            FROM merged1 s FULL OUTER JOIN changes2 c ON s.key = c.key
            WHERE c.op IS NULL OR c.op <> 'D'
        )
        SELECT status, COUNT(*) AS n_orders,
               {sql_stable_sum('price')} AS total_price
        FROM merged2 GROUP BY status
    """,
    covers="expansion: incremental CDC apply against a transactional "
    "bucketed table target (sequential batches as amortized upserts — "
    "the snapshot side never re-shuffles)",
)
def cdc_merge_incremental(spark, t):
    """Two sequential CDC batches applied against a BUCKETED table target
    — the amortized-upsert layout a lakehouse MERGE INTO converges to
    (r05 brief task 6).

    :func:`cdc_merge_apply` shows the single-pass merge; its 100 TB
    deficit is that EVERY batch re-shuffles the whole snapshot, because
    the merge output lands unpartitioned. Here the snapshot is persisted
    once as a table bucketed on the merge key (16 buckets, sorted — the
    bucketed_join_revenue machinery), and each batch's full-outer merge
    reads it with ZERO exchange on the snapshot side: only the change
    feed (small by definition) shuffles, into the bucket scheme. The
    merge result is written straight back bucketed — its SMJ output is
    already hash(key)-partitioned to the bucket count, so the write
    splits no files — and the next batch repeats against the new
    version. Batch cost becomes O(|delta| shuffle + snapshot rewrite),
    never O(|snapshot| shuffle); with a partitioned table the rewrite
    narrows further to touched partitions (the delta/iceberg file-
    skipping point connectors.py documents).

    The two batches pin every upsert composition: update-then-delete
    (keys %10=3), insert-then-update (half of batch 1's inserts),
    delete-then-nothing, plus fresh updates — the final per-status
    rollup moves counts through every branch. Output equals replaying
    both merges over the raw snapshot (the oracle does exactly that).
    """
    import time

    from .registry import record_phase_split

    o = t["orders"]
    snapshot = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    # The change feeds are DEMO SCAFFOLDING — in production they arrive
    # from upstream already materialized. Checkpointing them here (a)
    # matches that semantics (the merges below read a materialized feed,
    # not a live derivation re-scanning orders inside each merge job) and
    # (b) lets the wall-clock split feed-build from the merges, so the
    # at-scale curve grades the MERGE (r09 verdict item 4). The split is
    # recorded per phase and emitted by bench.py as phase_split_s.
    t0 = time.perf_counter()
    batch1 = _changes_batch1(o).localCheckpoint()
    batch2 = _changes_batch2(o).localCheckpoint()
    feed_s = time.perf_counter() - t0

    digest = input_digest(o)
    tok = session_token()
    base_tbl = f"cdc_base_{digest}_{tok}"
    inc_tbl = f"cdc_inc_{digest}_{tok}"
    # The base-table write is once per corpus per session (amortized
    # layout cost, same contract as bucketed_join_revenue); each call
    # then pays exactly the two incremental merges + the v1 rewrite.
    t0 = time.perf_counter()
    ensure_bucketed_table(
        spark, base_tbl, snapshot, "key", digest, n_buckets=_CDC_N_BUCKETS
    )
    base_layout_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    v1 = _merge_batch(spark.table(base_tbl), batch1)
    from ..sources.sinks import write_bucketed

    # Same warehouse hygiene as the base table (review r07): clear a
    # recycled-token leftover and age-prune cdc_inc_* dirs from exited
    # processes, which otherwise accumulated without bound.
    prepare_table_location(spark, inc_tbl, "cdc_inc_")
    # v1's full-outer SMJ output is already hash(key)-partitioned to the
    # bucket count (the base table's spec), so the writer skips the
    # one-file-per-bucket repartition — no redundant exchange.
    write_bucketed(
        v1, inc_tbl, "key", n_buckets=_CDC_N_BUCKETS, sort_col="key",
        pre_partitioned=True, verify_layout=False,
    )
    merge1_s = time.perf_counter() - t0
    record_phase_split(
        "cdc_merge_incremental",
        feed_build_s=feed_s,
        base_layout_s=base_layout_s,
        merge1_write_s=merge1_s,
    )
    # Layout guard runs AFTER the timer stops (ADVICE r13: the DESCRIBE +
    # listdir was inflating the published merge1 window) — same check,
    # just outside the measurement.
    from ..sources.sinks import verify_bucket_layout

    verify_bucket_layout(
        spark, inc_tbl, _CDC_N_BUCKETS, pre_partitioned=True
    )
    v2 = _merge_batch(spark.table(inc_tbl), batch2)
    return v2.groupBy("status").agg(
        F.count("*").alias("n_orders"),
        stable_sum("price").alias("total_price"),
    )


@query(
    "cdc_merge_pruned",
    oracle=f"""
        WITH touched AS (
            SELECT o_orderkey AS key, o_totalprice AS price,
                   o_orderstatus AS status
            FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997
        ),
        mx AS (SELECT MAX(key) AS mx FROM touched),
        feed AS (
            SELECT key, 'U' AS op, price + 100.0 AS price, 'U' AS status
            FROM touched WHERE key % 10 = 3
            UNION ALL
            SELECT key, 'D' AS op,
                   CAST(NULL AS DOUBLE) AS price, CAST(NULL AS VARCHAR) AS status
            FROM touched WHERE key % 10 = 7
            UNION ALL
            SELECT key + mx.mx AS key, 'I' AS op, price, 'N' AS status
            FROM touched CROSS JOIN mx WHERE key % 10 = 1
        ),
        merged AS (
            SELECT COALESCE(c.key, s.key) AS key,
                   CASE WHEN c.op IN ('U', 'I') THEN c.price
                        ELSE s.price END AS price,
                   CASE WHEN c.op IN ('U', 'I') THEN c.status
                        ELSE s.status END AS status
            FROM touched s FULL OUTER JOIN feed c ON s.key = c.key
            WHERE c.op IS NULL OR c.op <> 'D'
        )
        SELECT status, COUNT(*) AS n_orders,
               {sql_stable_sum('price')} AS total_price
        FROM merged GROUP BY status
    """,
    covers="expansion: PARTITION-PRUNED MERGE — the steady-state 100 TB "
    "upsert for a partitioned target: only partitions containing feed "
    "keys are read/joined/exchanged (every scan PartitionFilters-gated), "
    "untouched partitions are untouched files, never opened",
)
def cdc_merge_pruned(spark, t):
    """MERGE against a PARTITIONED snapshot where the change feed is
    localized (here: late-arriving changes to 1997 orders — the common
    production shape, deltas touch recent partitions): the snapshot is
    laid out once per corpus partitioned by order year
    (sources/sinks.py::write_partitioned via the shared digest-keyed
    layout cache), and EVERY scan in the merge — the touched slice AND
    the feed derivation — reads only the 1997 partition through a
    PartitionFilters-gated scan (plan-gated in tests/test_plans.py).
    Untouched years are untouched FILES: a real partitioned MERGE
    replaces the touched partition's files and leaves the rest of the
    table physically identical, so the post-merge state of other years
    needs no recompute and no verification pass — reading them back
    would re-add the full-snapshot scan this layout exists to avoid
    (the r08 first cut did exactly that and measured 6.9x DuckDB at
    sf10; this form is the one the claim is about).

    This is the file-skipping shape a lakehouse MERGE INTO executes
    (connectors.py documents the delta/iceberg jar limit): batch cost is
    O(|touched partitions| + |delta|), not O(|snapshot|). Routing across
    the three CDC forms:

    - :func:`cdc_merge_pruned` — steady state for a PARTITIONED target
      with localized feeds (this entry);
    - :func:`cdc_merge_incremental` — steady state for a BUCKETED target
      when feeds scatter across the key space (zero-exchange snapshot
      side, only the delta shuffles);
    - :func:`cdc_merge_apply` — cold start / full-rewrite only (both
      sides exchange at corpus grain every batch).

    Output is the post-merge per-status rollup of the touched partition
    (counts move between statuses, deletes shrink them, inserts create
    status 'N' — every merge branch pinned); the oracle replays the
    same merge from raw orders."""
    from ..sources.catalog import read_parquet
    from ..sources.sinks import write_partitioned

    o = t["orders"]
    snap = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.year("o_orderdate").alias("o_year"),
    )
    digest = input_digest(o)
    path = cached_layout(
        "/tmp/cdc_orders_by_year_cache",
        digest,
        "orders_by_year",
        lambda p: write_partitioned(snap, p, ["o_year"]),
    )
    snap_t = read_parquet(spark, path)

    # Both the touched slice and the feed derive from the SAME pruned
    # partition read (in production the feed arrives externally; deriving
    # it from the 1997 partition keeps the oracle exact while every scan
    # stays pruned). The three op slices are disjoint on key % 10, so the
    # feed is ONE conditional projection over one pruned scan, not a
    # 3-branch union (the union form re-scanned the partition three
    # times: 1.48 -> 1.08 s at sf10).
    touched_p = snap_t.where(F.col("o_year") == 1997).select(
        "key", "price", "status"
    )
    # Synthetic insert keys are offset by the touched partition's MAX key
    # (a broadcast scalar), not a fixed 1e9 literal: at TPC-H sf ~167+
    # orderkeys pass 1e9 and a fixed offset would COLLIDE with live keys
    # — the broadcast branch would then emit duplicate rows where the
    # full-outer branch merges them (r08 review finding). mx + key > mx
    # >= every touched key, at any scale.
    mx = touched_p.agg(F.max("key").alias("mx"))
    k = F.col("key") % 10
    feed = touched_p.where(k.isin(1, 3, 7)).crossJoin(F.broadcast(mx)).select(
        F.when(k == 1, F.col("key") + F.col("mx"))
        .otherwise(F.col("key"))
        .alias("key"),
        F.when(k == 3, F.lit("U"))
        .when(k == 7, F.lit("D"))
        .otherwise(F.lit("I"))
        .alias("op"),
        F.when(k == 3, F.col("price") + 100.0)
        .when(k == 1, F.col("price"))
        .alias("price"),
        F.when(k == 3, F.lit("U")).when(k == 1, F.lit("N")).alias("status"),
    )

    # Cost-chosen merge form (the q3/q5/join_star dual-form discipline):
    # when the feed fits the broadcast budget, the merge decomposes into a
    # broadcast LEFT OUTER (updates/deletes probe the touched scan with
    # ZERO exchange on the snapshot side — full-outer can never broadcast
    # in Spark) plus a join-free union of the inserts, whose keys are
    # disjoint from the snapshot by construction; the only exchange left
    # in the plan is the 5-row status rollup (sf10: 0.73 -> 0.67 s — the
    # residual is the serial 660k-row broadcast build + two pruned scans,
    # the q4/q8 audited floor family).
    # A feed past the broadcast budget (at 100 TB a touched partition's
    # delta can be tens of GB) takes the full-outer shuffle merge, whose
    # exchange is still bounded by the touched partition, never the
    # snapshot. This decomposition was measured and REJECTED for
    # cdc_merge_apply (tools/cdc_ab.py) because THAT feed scales with the
    # whole corpus; here both sides are partition-bounded, which is the
    # point of the layout.
    if fits_broadcast_counted(spark, feed):
        nonins = feed.where(F.col("op") != "I").select(
            F.col("key").alias("f_key"),
            "op",
            F.col("price").alias("f_price"),
            F.col("status").alias("f_status"),
        )
        base = (
            touched_p.join(
                F.broadcast(nonins), F.col("key") == F.col("f_key"), "left_outer"
            )
            .where(F.col("op").isNull() | (F.col("op") != "D"))
            .select(
                "key",
                F.when(F.col("op") == "U", F.col("f_price"))
                .otherwise(F.col("price"))
                .alias("price"),
                F.when(F.col("op") == "U", F.col("f_status"))
                .otherwise(F.col("status"))
                .alias("status"),
            )
        )
        ins = feed.where(F.col("op") == "I").select("key", "price", "status")
        merged = base.unionByName(ins)
    else:
        merged = _merge_batch(touched_p, feed)
    return merged.groupBy("status").agg(
        F.count("*").alias("n_orders"),
        stable_sum("price").alias("total_price"),
    )


def _key_max(o):
    """Broadcast scalar MAX(o_orderkey): the synthetic-insert key offset
    (any-scale disjointness — see _CHANGES_SQL)."""
    return o.agg(F.max("o_orderkey").alias("kmx"))


def _changes_batch1(o):
    """The :data:`_CHANGES_SQL` feed as a DataFrame (shared with
    :func:`cdc_merge_apply`).

    Single-scan CASE form (r15, guide §2.3 "do fewer passes"): the
    pre-r15 three-branch union scanned orders once per branch, so the
    feed's localCheckpoint in :func:`cdc_merge_incremental`'s TIMED
    feed_build phase paid ~4 orders scans (3 branches + the kmx scalar).
    The branch predicates are disjoint key residues, so one filtered
    scan with CASE projections produces the identical row multiset
    (asserted by xxhash64 checksum + count in tools/cdc_feed_ab_r15.py
    at sf30 and by sorted-rows tests at small SF) from ONE scan + kmx.
    """
    m = F.col("o_orderkey") % 10
    return (
        o.where(m.isin(1, 3, 7))
        .crossJoin(F.broadcast(_key_max(o)))
        .select(
            F.when(m == 1, F.col("o_orderkey") + F.col("kmx"))
            .otherwise(F.col("o_orderkey"))
            .alias("key"),
            F.when(m == 3, "U").when(m == 7, "D").otherwise("I").alias("op"),
            F.when(m == 3, F.col("o_totalprice") + 100.0)
            .when(m == 1, F.col("o_totalprice"))
            .otherwise(F.lit(None).cast("double"))
            .alias("price"),
            F.when(m == 3, "U")
            .when(m == 1, "N")
            .otherwise(F.lit(None).cast("string"))
            .alias("status"),
        )
    )


def _changes_batch2(o):
    """Batch 2 of :func:`cdc_merge_incremental`'s feed — update-then-
    delete (%10=3 now deletes), fresh updates (%10=5), insert-then-update
    (%20=1 re-keyed past kmx). Same single-scan CASE form (and the same
    multiset-identity evidence) as :func:`_changes_batch1`."""
    k = F.col("o_orderkey")
    m = k % 10
    ins = k % 20 == 1
    return (
        o.where((m == 5) | (m == 3) | ins)
        .crossJoin(F.broadcast(_key_max(o)))
        .select(
            F.when(ins, k + F.col("kmx")).otherwise(k).alias("key"),
            F.when(m == 3, "D").otherwise("U").alias("op"),
            F.when(m == 5, F.col("o_totalprice") + 50.0)
            .when(ins, F.col("o_totalprice") * 2)
            .otherwise(F.lit(None).cast("double"))
            .alias("price"),
            F.when(m == 5, "V")
            .when(ins, "M")
            .otherwise(F.lit(None).cast("string"))
            .alias("status"),
        )
    )


def _merge_batch(snapshot, changes):
    """One MERGE pass: upserts take the change's values, deletes drop,
    unmatched snapshot rows carry over. Returns (key, price, status)."""
    s, c = snapshot.alias("s"), changes.alias("c")
    return (
        s.join(c, F.col("s.key") == F.col("c.key"), "full_outer")
        .where(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            F.coalesce(F.col("c.key"), F.col("s.key")).alias("key"),
            F.when(F.col("c.op").isin("U", "I"), F.col("c.price"))
            .otherwise(F.col("s.price"))
            .alias("price"),
            F.when(F.col("c.op").isin("U", "I"), F.col("c.status"))
            .otherwise(F.col("s.status"))
            .alias("status"),
        )
    )


@query(
    "cdc_scd2_intervals",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   CASE WHEN event_type IS DISTINCT FROM
                             LAG(event_type) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                        THEN 1 ELSE 0 END AS chg
            FROM events
        ),
        runs AS (
            SELECT user_id, event_type, ts,
                   SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS run_id
            FROM ordered
        ),
        intervals AS (
            SELECT user_id, event_type, CAST(run_id AS BIGINT) AS run_id,
                   MIN(ts) AS valid_from, COUNT(*) AS n_events
            FROM runs GROUP BY user_id, event_type, run_id
        )
        SELECT user_id, event_type, run_id, valid_from,
               LEAD(valid_from) OVER (PARTITION BY user_id
                                      ORDER BY valid_from, run_id)
                   AS valid_to,
               n_events
        FROM intervals
    """,
    covers="expansion: SCD-2 history build (run-length collapse of a "
    "change stream into validity intervals, current row open-ended)",
)
def cdc_scd2_intervals(spark, t):
    """Slowly-changing-dimension type-2 history from a change stream:
    consecutive equal states per user collapse into one row with
    ``[valid_from, valid_to)`` validity (the current state's ``valid_to``
    is NULL). The lag-flag / running-sum / lead chain is the standard
    distributed run-length encoding — one shuffle on user_id serves every
    window and the rollup, so at 100 TB this is a single partition-and-
    sort of the feed, no iteration. Plan body in :func:`scd2_intervals`
    so the NULL-state differential test (tests/test_text_numeric_fuzz.py)
    can drive it on synthetic input."""
    return scd2_intervals(t["events"])


def scd2_intervals(events):
    """See :func:`cdc_scd2_intervals`."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("event_type").over(w)
    # eqNullSafe mirrors the oracle's IS DISTINCT FROM exactly: with a
    # plain != the flag is NULL (skipped by SUM) whenever either side is
    # NULL, silently merging a NULL state into the preceding run — a
    # latent divergence the first corpus with NULL event_types would
    # surface as a driver hash mismatch.
    chg = (~F.col("event_type").eqNullSafe(prev)).cast("long")
    runs = (
        events.select("user_id", "event_type", "ts", "event_id")
        .withColumn("run_id", F.sum(chg).over(wrun))
    )
    intervals = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"), F.count("*").alias("n_events")
    )
    w_lead = Window.partitionBy("user_id").orderBy("valid_from", "run_id")
    return intervals.select(
        "user_id",
        "event_type",
        "run_id",
        "valid_from",
        F.lead("valid_from").over(w_lead).alias("valid_to"),
        "n_events",
    )
