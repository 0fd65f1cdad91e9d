"""Physical-plan quality gates — the 100 TB posture, asserted.

These tests read `.explain("formatted")` output and fail if a scale
regression sneaks in: a filter that stops reaching the parquet scan, a
dimension join that stops broadcasting, a projection that drags unused
columns, or a Python UDF appearing in a JVM-only path. At 600 k rows none
of these would be *visibly* slow — which is exactly why they are asserted
on the plan rather than timed.
"""

from __future__ import annotations

import pytest

from conftest import SF_ORACLE

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
    queries,
)


def plan_of(spark, name: str) -> str:
    df = queries()[name](spark, SF_ORACLE)
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_scan(spark):
    plan = plan_of(spark, "filter_between")
    assert "PushedFilters:" in plan
    # the BETWEEN bounds must appear as pushed >= / <= predicates
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThanOrEqual(o_totalprice,40000" in pushed, pushed
    assert "LessThanOrEqual(o_totalprice,80000" in pushed, pushed


def test_date_filter_pushdown(spark):
    plan = plan_of(spark, "tpch_q6_forecast_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0], plan[:2000]


def test_column_pruning(spark):
    """topk_global touches 2 of orders' 6 columns; the scan must read only
    those."""
    plan = plan_of(spark, "topk_global")
    schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert schema_lines, plan[:2000]
    rs = schema_lines[0]
    assert "o_orderkey" in rs and "o_totalprice" in rs
    assert "o_orderdate" not in rs and "o_orderpriority" not in rs, rs


def test_star_join_broadcasts_dimensions(spark):
    """nation and region must join via BroadcastHashJoin — a shuffle of the
    fact side for a 25-row dimension is the canonical 100 TB mistake."""
    plan = plan_of(spark, "join_star_flagship")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, "join_semi")
    assert "LeftSemi" in plan, plan[:2000]


def test_aggregation_is_partial_then_final(spark):
    """Group-count must have a map-side partial aggregate before the
    shuffle (two HashAggregate nodes around an Exchange)."""
    plan = plan_of(spark, "filter_not_null_group_count")
    assert plan.count("HashAggregate") >= 2, plan[:2000]
    assert "Exchange" in plan


def test_no_python_udf_in_relational_paths(spark):
    """Every relational/tpch/text/dedup/similarity plan must stay JVM-side;
    the only sanctioned Python stage is the multimodal decode (mapInPandas,
    Arrow-batched)."""
    for name in [
        "tpch_q1_pricing_summary",
        "join_star_flagship",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "similarity_bruteforce_topk",
        "text_quality_score",
        "text_lang_id",
    ]:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} has a row-wise Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} has a pandas UDF"
        assert "MapInPandas" not in plan, f"{name} unexpectedly uses mapInPandas"


def test_minhash_lsh_single_scan(spark):
    """Round-5 shingle-reuse gate: the whole LSH pipeline (signatures,
    banding self-join, exact array-intersect verify) reads the documents
    parquet exactly ONCE — the r04 plan re-derived hashed shingles for the
    verify stage (second scan), the r04 verdict's one actionable plan
    finding. Shared subtrees must collapse to ReusedExchange.

    The gate pins the at-scale shuffle form: threshold off (at toy SF the
    planner broadcasts the shared relations as separate inlined branches,
    which re-lists the scan per broadcast subtree — a small-data plan
    shape, not data movement) and AQE off (under AQE the static ReuseExchange
    rule is deferred to runtime stage reuse, so the pre-execution plan
    prints unshared subtrees; the static planner is where the sharing is
    provable)."""
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(spark, "dedup_minhash_lsh")
        tree = plan.split("\n\n")[0]
        assert tree.count("Scan parquet") == 1, tree
        assert "ReusedExchange" in tree, tree
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_multimodal_decode_is_arrow_batched(spark):
    plan = plan_of(spark, "multimodal_decode_pnm_dispatch")
    assert "MapInPandas" in plan, plan[:1500]


def test_whole_stage_codegen_covers_q1(spark):
    """AQE's formatted plan hides codegen spans pre-execution; the codegen
    explain mode lists the generated subtrees — Q1's scan+partial-agg must
    be one of them."""
    df = queries()["tpch_q1_pricing_summary"](spark, SF_ORACLE)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in plan, plan[:1500]


def test_q4_two_forms(spark):
    """Q4 is cost-chosen. Small SF: the qualifying-orders window broadcasts
    into the pruned lineitem scan (no shuffle join); in both forms the
    hand-derived +90d lower bound must reach the lineitem scan as a pushed
    filter. Threshold off: the EXISTS is answered by a per-orderkey
    MAX(l_shipdate) rollup (map-side partial combine — one row per order,
    not every lineitem)."""
    plan_small = plan_of(spark, "tpch_q4_order_priority")
    assert "BroadcastHashJoin" in plan_small, plan_small[:2000]
    assert "SortMergeJoin" not in plan_small, plan_small[:2000]
    assert "GreaterThan(l_shipdate,1997-04-01" in plan_small, plan_small[:2000]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_big = plan_of(spark, "tpch_q4_order_priority")
        assert "partial_max" in plan_big, plan_big[:2000]
        assert "GreaterThan(l_shipdate,1997-04-01" in plan_big, plan_big[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q3_two_forms(spark):
    """Q3 is cost-chosen. Small SF: the BUILDING-semi-joined orders window
    broadcasts into the filtered lineitem scan and only survivors are
    aggregated (no shuffle join). Threshold off: revenue pre-aggregates per
    orderkey BELOW the join (partial_sum before the exchange). The top-10
    stays TakeOrderedAndProject in both."""
    plan_small = plan_of(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan_small, plan_small[:2000]
    assert "SortMergeJoin" not in plan_small, plan_small[:2000]
    assert "TakeOrderedAndProject" in plan_small, plan_small[:2000]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_big = plan_of(spark, "tpch_q3_shipping_priority")
        assert "partial_sum" in plan_big, plan_big[:2000]
        assert "TakeOrderedAndProject" in plan_big, plan_big[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q5_two_forms(spark):
    """Q5 is cost-chosen (round 5). Small SF: the qualifying ASIA-orders
    slice broadcasts INTO the lineitem scan — ZERO shuffle joins; the only
    exchange is the 5-group final aggregate. Threshold off: revenue
    pre-aggregates per (orderkey, nationkey) BELOW the compound join
    (partial_sum before the exchange), whose hash partitioning the join
    then reuses — no second exchange on the fact path."""
    plan_small = plan_of(spark, "tpch_q5_local_supplier_volume")
    tree = plan_small.split("\n\n")[0]
    assert "SortMergeJoin" not in tree and "ShuffledHashJoin" not in tree, tree
    assert "LeftSemi" in plan_small, plan_small[:2500]  # ASIA customer prefilter
    assert plan_small.count("BroadcastHashJoin") >= 4, plan_small[:2500]
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_big = plan_of(spark, "tpch_q5_local_supplier_volume")
        tree_big = plan_big.split("\n\n")[0]
        assert "partial_sum" in plan_big, plan_big[:2500]
        # Exchange-reuse proof: the compound SortMergeJoin's fact child is
        # Sort directly over the pre-agg's final HashAggregate — no
        # Exchange between them, because the join reuses the aggregate's
        # hash(l_orderkey, s_nationkey) partitioning.
        import re

        m = re.search(
            r"SortMergeJoin Inner \(\d+\)\n"
            r"[^\n]*:- Sort \(\d+\)\n"
            r"[^\n]*\+- HashAggregate \(\d+\)\n",
            tree_big,
        )
        assert m, tree_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q5_mid_band_suppfirst(spark):
    """Q5's r13 mid band (supplier-first broadcast, tpch.py) only activates
    between the tight orders-first gate and the suppfirst row cap —
    unreachable at test scale under default confs, so this test FORCES the
    band through the real decision logic (r13 verdict task 4): a tiny but
    positive broadcast threshold makes the tight estimate gate fail and
    the counted probe's n*16 <= thr check fail, while the row cap of the
    4g test session (6.7M rows) admits the mid band. Asserts the
    branch-defining plan shape (the
    join directly over lineitem is a BroadcastHashJoin on l_suppkey — the
    ASIA-supplier probe cuts the fact FIRST; the big orders slice arrives
    as the SECOND broadcast, a PACKED-LONG LEFT SEMI keyed
    orderkey*32+nationkey — the r15 LongHashedRelation form; no exchange
    ever partitions on l_orderkey) and value-equality with the shuffle
    form."""
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
    try:
        df_mid = queries()["tpch_q5_local_supplier_volume"](spark, SF_ORACLE)
        plan = df_mid._sc._jvm.PythonSQLUtils.explainString(
            df_mid._jdf.queryExecution(), "formatted"
        )
        # Branch proof 1: a BroadcastHashJoin block keyed l_suppkey =
        # s_suppkey (the supplier probe hits the fact first). The tight
        # band's first fact join is keyed l_orderkey instead.
        blocks = re.split(r"\n(?=\(\d+\) )", plan)
        bhj = [b for b in blocks if b.startswith("(") and "BroadcastHashJoin" in b.splitlines()[0]]
        supp_first = [
            b for b in bhj
            if re.search(r"Left keys \[1\]: \[l_suppkey", b)
            and re.search(r"Right keys \[1\]: \[s_suppkey", b)
        ]
        assert supp_first, plan[:3000]
        # Branch proof 2: the orders slice arrives as the SECOND
        # broadcast — a LEFT SEMI BroadcastHashJoin on the packed single
        # long key ((l_orderkey * 32) + s_nationkey) == ock (r15: the
        # packed key builds a LongHashedRelation instead of the generic
        # compound-key UnsafeHashedRelation — sf30 A/B 6.93 -> 3.71 s).
        # Unique to the mid band: the tight band keys the fact join on
        # l_orderkey alone, the shuffle band joins the compound pair
        # without a broadcast.
        packed_semi = [
            b for b in bhj
            if "Join type: LeftSemi" in b
            and "l_orderkey" in b and "s_nationkey" in b
            and re.search(r"Left keys \[1\]:", b)
            and "ock" in b
        ]
        assert packed_semi, plan[:3000]
        # Branch proof 3: no fact-grain exchange — nothing repartitions
        # on l_orderkey anywhere in the mid-band plan (the shuffle form's
        # pre-aggregate plants exactly that exchange).
        assert "hashpartitioning(l_orderkey" not in plan, plan[:3000]
        got = sorted(
            (r.n_name, round(r.revenue, 4)) for r in df_mid.collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # Shuffle form for the value cross-check: thr <= 0 skips every probe.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df_shuf = queries()["tpch_q5_local_supplier_volume"](spark, SF_ORACLE)
        want = sorted(
            (r.n_name, round(r.revenue, 4)) for r in df_shuf.collect()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == want, (got, want)


def test_q22_not_exists_is_anti_join_with_broadcast_scalar(spark):
    plan = plan_of(spark, "tpch_q22_global_sales_opportunity")
    assert "LeftAnti" in plan, plan[:2000]
    # the global-average threshold arrives by broadcast, not shuffle
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q7_broadcasts_both_nation_roles(spark):
    """nation joins twice (supplier role, customer role); both must
    broadcast — shuffling a fact side against a 25-row table is the
    canonical scale mistake."""
    plan = plan_of(spark, "tpch_q7_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 4, plan[:3000]


def test_q19_disjunction_partially_pushes_down(spark):
    """Catalyst must extract per-side conjuncts from the 3-band disjunction
    (quantity range union to lineitem, brand/size union to part)."""
    plan = plan_of(spark, "tpch_q19_discounted_revenue")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l for l in pushed), pushed
    assert any("p_brand" in l for l in pushed), pushed


def test_q18_having_prefilter_take_ordered(spark):
    plan = plan_of(spark, "tpch_q18_large_volume_customers")
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_gap_fill_produces_zero_days(spark):
    """The spine join must actually fill gaps (a filter choice that leaves
    no gaps would make the operator's whole point vacuous)."""
    df = queries()["timeseries_gap_fill"](spark, SF_ORACLE)
    rows = df.collect()
    assert len(rows) == 30
    assert any(r.n == 0 for r in rows), "no gap days — filter too broad"


def test_nl_star_path_broadcasts_dimensions(spark):
    """The NL-emitted SQL goes through spark.sql over the registered views;
    Catalyst must still broadcast nation/region exactly as the hand-built
    DataFrame plans do."""
    plan = plan_of(spark, "nl_revenue_by_region")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]


def test_partitioned_read_prunes_partitions(spark):
    """The date predicate over the day-partitioned layout must become a
    PartitionFilter on the scan (directory pruning), not a data filter —
    at 100 TB this is the difference between reading 3 days and 3 years."""
    plan = plan_of(spark, "partition_pruned_daily_read")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, plan
    assert "day" in pf[0], pf[0]
    # the predicate must NOT degrade into a post-scan Filter on day
    assert "2024-01-10" in pf[0] or "19732" in pf[0], pf[0]


def test_cdc_merge_pruned_joins_only_touched_partition(spark):
    """EVERY scan in the partition-pruned MERGE (touched slice + feed
    derivation) must read the snapshot through a PartitionFilters-gated
    scan pinned to the touched partition (o_year = 1997) — no scan of
    the layout may be unpruned, so the whole merge is
    O(|touched| + |delta|), never O(|snapshot|)."""
    plan = plan_of(spark, "cdc_merge_pruned")
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf, plan[:3000]
    assert all("= 1997" in l for l in pf), pf
    # and the raw orders table must not appear at all (the feed derives
    # from the pruned partition, not a second full-corpus scan)
    locs = [l for l in plan.splitlines() if "Location" in l]
    assert locs and all("orders_by_year" in l for l in locs), locs


def test_q18_joins_are_all_broadcast(spark):
    """Q18's only exchange should be the lineitem rollup: the tiny HAVING
    survivor set broadcasts into orders, and that result broadcasts into
    customer — no sort-merge join anywhere."""
    plan = plan_of(spark, "tpch_q18_large_volume_customers")
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_q13_never_touches_customer_rows(spark):
    """Q13's zero-order customers come from a scalar COUNT(customer) minus
    the ROLLUP grand total — the plan must not join or shuffle the customer
    table (its scan reads no data columns) and must keep exactly one
    custkey exchange over the pre-aggregated orders."""
    plan = plan_of(spark, "tpch_q13_customer_distribution")
    tree = plan.split("\n\n")[0]
    assert tree.count("SortMergeJoin") + tree.count("ShuffledHashJoin") == 0, tree
    assert "Expand" in plan or "expand" in plan, plan[:2000]  # rollup grouping sets
    # customer participates only as COUNT(*): its scan must read zero columns
    sl = [l for l in plan.splitlines() if "ReadSchema" in l and "struct<>" in l]
    assert sl, plan[:3000]


def test_parse_byte_conf_handles_spark_size_forms(spark):
    """ADVICE r03: the threshold conf may render as '10485760b' or be set
    as '50MB'; int() alone silently fell back to a hardcoded 10MB and the
    cost-based plan choice ignored the session's real threshold."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.costing import (
        fits_broadcast,
        parse_byte_conf,
    )

    assert parse_byte_conf("10485760") == 10 * 1024 * 1024
    assert parse_byte_conf("10485760b") == 10 * 1024 * 1024
    assert parse_byte_conf("50MB") == 50 * 1024 * 1024
    assert parse_byte_conf("1g") == 1 << 30
    assert parse_byte_conf("2k") == 2048
    assert parse_byte_conf("-1") == -1
    with pytest.raises(ValueError):
        parse_byte_conf("lots")
    # A human-readable session threshold must now actually steer the
    # broadcast decision rather than silently falling back.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    t = __import__(
        "ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog",
        fromlist=["register_views"],
    ).register_views(spark, SF_ORACLE)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "512MB")
        assert fits_broadcast(spark, t["orders"])
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
        assert not fits_broadcast(spark, t["orders"])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_q5_suppfirst_cap_reads_bare_driver_memory_as_mib():
    """Spark reads a bare ``spark.driver.memory`` as MiB, so "4096" is the
    same heap as "4g" and must give the same q5 mid-band row cap."""
    from types import SimpleNamespace

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.tpch import (
        _q5_suppfirst_row_cap,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.costing import (
        parse_byte_conf,
    )

    def cap(mem):
        conf = SimpleNamespace(get=lambda key, default=None: mem)
        return _q5_suppfirst_row_cap(SimpleNamespace(conf=conf))

    assert parse_byte_conf("4096", 1 << 20) == parse_byte_conf("4g") == 4 << 30
    assert cap("4096") == cap("4g") == cap("4096m") > 1_000_000


def test_fits_broadcast_counted_probes_the_borderline(spark):
    """The counted gate: static-fit passes outright; within the 8x probe
    band one COUNT decides from rows x defaultSize; beyond the band the
    fallback is taken without probing; a disabled threshold is never
    broadcastable."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.costing import (
        fits_broadcast_counted,
    )

    t = __import__(
        "ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog",
        fromlist=["register_views"],
    ).register_views(spark, SF_ORACLE)
    df = t["orders"].select("o_orderkey")
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    rows = df.count()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(est + 1))
        assert fits_broadcast_counted(spark, df)  # static fit, no probe
        # borderline (thr = est-1 puts the estimate just past the static
        # check but inside the 8x band): the COUNT probe must decide, and
        # its decision is rows x 8 bytes against the threshold.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(est - 1))
        assert fits_broadcast_counted(spark, df) == (rows * 8 <= est - 1)
        # far past the band: no probe, straight to the fallback plan
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(max(est // 16, 1))
        )
        assert not fits_broadcast_counted(spark, df)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        assert not fits_broadcast_counted(spark, df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_join_star_adapts_to_broadcast_threshold(spark):
    """join_star picks its plan from Catalyst's orders-size estimate: the
    plain broadcast tree while orders fits the threshold, the staged
    rollup pushdown (micro-unit partials, visible as rev_micro) when it
    does not."""
    plan_small = plan_of(spark, "join_star_flagship")
    assert "rev_micro" not in plan_small, "expected broadcast form at sf0.01"
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_big = plan_of(spark, "join_star_flagship")
        assert "rev_micro" in plan_big, "expected staged rollup form"
        # threshold off fails the customer gate too -> the full staged
        # form re-aggregates per custkey before the shuffle join
        assert "o_custkey]" in plan_big or "o_custkey#" in plan_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # Middle form (round 5): orders too big, customer still broadcastable
    # -> per-orderkey rollup + all-broadcast dims, NO custkey re-aggregate.
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )

    t = register_views(spark, SF_ORACLE)
    def est(df):
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )

    cs_est = est(t["customer"].select("c_custkey", "c_mktsegment", "c_nationkey"))
    o_est = est(t["orders"].select("o_orderkey", "o_custkey"))
    assert cs_est < o_est, "corpus shape assumption broken"
    spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", str((cs_est + o_est) // 2)
    )
    try:
        plan_mid = plan_of(spark, "join_star_flagship")
        assert "rev_micro" in plan_mid, "expected per-order rollup"
        import re

        assert not re.search(r"HashAggregate\(keys=\[o_custkey", plan_mid), (
            "middle form must not re-aggregate per custkey"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_decontaminate_broadcasts_eval_shingles(spark):
    """The eval-set shingle relation must reach the corpus side as a
    broadcast — a sort-merge join here would shuffle the full corpus
    shingle set against a benchmark-sized probe (the anti-scale shape)."""
    plan = plan_of(spark, "text_decontaminate")
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_stratified_quota_windows_by_stratum(spark):
    """The quota rank must partition by the stratum key (lang), never run
    a single-partition global window."""
    plan = plan_of(spark, "sampling_stratified_quota")
    assert "hashpartitioning(lang" in plan, plan[:2000]
    assert "SinglePartition" not in plan, plan[:2000]


def test_bucketed_join_pays_no_join_exchange(spark):
    """The bucketed fact-dim join must be a SortMergeJoin with NO exchange
    below it — the shuffle was paid once at write time (both scans read
    all buckets as pre-partitioned input); the only exchange in the
    whole plan is the final tiny segment rollup ABOVE the join."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.scale import (
        _BJR_N_BUCKETS,
    )

    plan = plan_of(spark, "bucketed_join_revenue")
    # the indented tree is everything before the first "(1) ..." detail
    tree = plan.split("\n(1)", 1)[0].splitlines()
    join_depth = None
    below_join = []
    for line in tree:
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        if "SortMergeJoin" in node:
            join_depth = depth
            continue
        if join_depth is not None and depth > join_depth:
            below_join.append(node)
    assert join_depth is not None, plan[:3000]
    assert below_join and not any("Exchange" in n for n in below_join), tree
    assert sum("Exchange" in l for l in tree) == 1, tree
    assert plan.count(
        f"SelectedBucketsCount: {_BJR_N_BUCKETS} out of {_BJR_N_BUCKETS}"
    ) == 2, plan[:3000]


def test_broadcast_gate_row_cap(spark):
    """Round-5 gate hardening: byte-fitness alone must not approve a
    broadcast whose BUILD ROWS exceed the cap (the driver constructs the
    hash relation single-threaded — Q22's 3M-key/24MB anti build side was
    1.6x slower broadcast than shuffled). A 2M-row single-long relation
    fits every byte threshold here but must be rejected on rows; a small
    relation passes."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.costing import (
        BCAST_BUILD_ROW_CAP,
        fits_broadcast_counted,
    )

    big = spark.range(BCAST_BUILD_ROW_CAP + 500_000)  # 16 MB of longs
    small = spark.range(1_000)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    for thr in ("10485760", str(64 * 1024 * 1024)):
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
        try:
            assert not fits_broadcast_counted(spark, big), (
                f"2M-row build approved at thr={thr}"
            )
            assert fits_broadcast_counted(spark, small)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_streaming_cdc_bucketed_batch_plan_no_snapshot_exchange_and_pruned_io(spark):
    """The steady-state streaming upsert's PER-BATCH merge (r09 verdict
    item 1) must (a) read its partitioned+bucketed state with ZERO
    exchange on the snapshot side AND a PartitionFilters prune to the
    delta's touched pb set, and (b) REWRITE only the touched partitions
    — an untouched partition's files survive the commit byte-for-byte.
    Gated through the shared merge_upsert_pruned /
    overwrite_touched_partitions helpers — the exact code each
    foreachBatch executes — against a real state table and a delta
    localized to ONE pb partition."""
    import os
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.warehouse import (
        session_token,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.streaming_entries import (
        N_STATE_BUCKETS,
        N_STATE_PARTS,
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
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "event_id", "event_type"
    )
    tbl = f"cdcsb_plangate_{session_token()}"
    create_profile_state(spark, tbl, _batch_latest(ev))
    try:
        # A delta localized to one partition: keys whose pb == target.
        target = 2
        delta_ev = ev.where(_state_pb(F.col("user_id")) == target).withColumn(
            "event_id", F.col("event_id") + 10_000
        )
        merged, touched = merge_upsert_pruned(
            spark, tbl, _batch_latest(delta_ev), batch_id=1
        )
        assert touched == [target]

        plan = merged._sc._jvm.PythonSQLUtils.explainString(
            merged._jdf.queryExecution(), "formatted"
        )
        # bucketed read survives the partition filter...
        assert (
            f"SelectedBucketsCount: {N_STATE_BUCKETS} out of {N_STATE_BUCKETS}"
            in plan
        ), plan[:3000]
        # ...and the scan is pruned to the touched pb set
        assert "PartitionFilters" in plan and "pb" in plan, plan[:3000]
        tree = plan.split("\n(1)", 1)[0].splitlines()
        join_depth = None
        subtree = []
        for line in tree:
            node = line.lstrip(" :+-")
            depth = len(line) - len(node)
            if "SortMergeJoin" in node and "FullOuter" in node:
                join_depth = depth
                continue
            if join_depth is not None and depth > join_depth:
                subtree.append(node)
        assert join_depth is not None, plan[:3000]
        scan_i = next(
            (i for i, n in enumerate(subtree) if "Scan" in n and "cdcsb_" in n),
            None,
        )
        assert scan_i is not None, f"no bucketed state scan in: {subtree}"
        assert not any("Exchange" in n for n in subtree[:scan_i]), subtree

        # IO gate: untouched partitions are untouched FILES.
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        loc = os.path.join(warehouse, tbl.lower())

        def files():
            out = {}
            for pb in range(N_STATE_PARTS):
                d = os.path.join(loc, f"pb={pb}")
                out[pb] = {
                    f: os.path.getmtime(os.path.join(d, f))
                    for f in os.listdir(d)
                    if not f.startswith(".")
                }
            return out

        before = files()
        overwrite_touched_partitions(spark, tbl, merged)
        after = files()
        for pb in range(N_STATE_PARTS):
            if pb == target:
                assert before[pb] != after[pb], "touched partition not rewritten"
            else:
                assert before[pb] == after[pb], (
                    f"untouched partition pb={pb} was rewritten"
                )

        # And the merge applied: counts doubled for the touched keys only.
        spark.catalog.refreshTable(tbl)
        got = {
            r["user_id"]: r["n_events"] for r in spark.table(tbl).collect()
        }
        for r in ev.select(
            "user_id", _state_pb(F.col("user_id")).alias("pb")
        ).collect():
            assert got[r["user_id"]] == (2 if r["pb"] == target else 1)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_cdc_incremental_snapshot_side_no_exchange(spark):
    """The incremental CDC merge must read its bucketed snapshot with ZERO
    exchange on the snapshot side: the returned (second-batch) merge's
    full-outer SortMergeJoin has one bucketed-scan child with no Exchange
    between join and scan, while the small change feed is the only side
    that shuffles — the amortized-upsert property the operator exists to
    demonstrate."""
    plan = plan_of(spark, "cdc_merge_incremental")
    assert "SelectedBucketsCount: 32 out of 32" in plan, plan[:3000]
    tree = plan.split("\n(1)", 1)[0].splitlines()
    join_depth = None
    subtree = []
    for line in tree:
        node = line.lstrip(" :+-")
        depth = len(line) - len(node)
        if "SortMergeJoin" in node and "FullOuter" in node:
            join_depth = depth
            continue
        if join_depth is not None and depth > join_depth:
            subtree.append(node)
    assert join_depth is not None, plan[:3000]
    # snapshot side = everything between the join and its bucketed scan
    # (the explain tree prints the first child fully before the second)
    scan_i = next(
        (i for i, n in enumerate(subtree) if "Scan" in n and "cdc_inc" in n),
        None,
    )
    assert scan_i is not None, f"no bucketed cdc_inc scan in: {subtree}"
    assert not any("Exchange" in n for n in subtree[:scan_i]), subtree
    # and the change-feed side (after the scan) is where the one shuffle is
    assert any("Exchange" in n for n in subtree[scan_i + 1:]), subtree


def test_cdc_incremental_pre_partitioned_write_one_file_per_bucket(spark):
    """pre_partitioned=True trusts that v1's full-outer SMJ output already
    carries the hash(key) bucket layout — a property Catalyst reports as
    Unknown partitioning, so nothing in the PLAN guards it. This test
    guards the FILES: after the merge's durable write, the cdc_inc_*
    table must hold at most one data file per bucket, or the
    one-file-per-bucket layout has silently regressed to the 512-file
    shape the r12 A/B measured as 2.7x slower to write (ADVICE r12)."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.changes import (
        _CDC_N_BUCKETS,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.sinks import (
        _count_bucket_files,
    )

    # Building the query writes the inc table as a side effect.
    df = queries()["cdc_merge_incremental"](spark, SF_ORACLE)
    df.collect()
    inc_tables = [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("cdc_inc_")
    ]
    assert inc_tables, "cdc_inc_* table not registered"
    for t in inc_tables:
        n = _count_bucket_files(spark, t)
        assert 0 < n <= _CDC_N_BUCKETS, (
            f"{t}: {n} data files for {_CDC_N_BUCKETS} buckets — "
            "pre_partitioned layout assumption broke"
        )


def test_versioned_side_table_merge_keeps_zero_exchange_and_link_io(spark):
    """The r12 versioned commit must not cost the plan properties the
    unversioned gate above pins: a merge read from a DDL-registered SIDE
    table (versioned_commit's scan side) still has (a) the bucketed scan
    with zero snapshot-side exchange and the pb PartitionFilters prune,
    and (b) commit I/O where untouched partitions are HARDLINKS into the
    next side (same inode — zero data bytes moved) while the current
    side's files are byte-untouched."""
    import os

    from pyspark.sql import functions as F

    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.warehouse import (
        session_token,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators import (
        streaming_entries as se,
    )

    ev = spark.createDataFrame(
        [(i, f"2024-01-01 0{i % 10}:00:00", i, "view") for i in range(400)],
        "user_id long, ts_s string, event_id long, event_type string",
    ).select(
        "user_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "event_id", "event_type",
    )
    tbl = f"cdcsb_vplangate_{session_token()}"
    se.create_versioned_profile_state(spark, tbl, se._batch_latest(ev), 0)
    try:
        cur_name, cur_side, _ = se.snapshot_current(spark, tbl)
        target = 2
        delta_ev = ev.where(se._state_pb(F.col("user_id")) == target).withColumn(
            "event_id", F.col("event_id") + 10_000
        )
        merged, touched = se.merge_upsert_pruned(
            spark, cur_name, se._batch_latest(delta_ev), batch_id=1
        )
        assert touched == [target]
        plan = merged._sc._jvm.PythonSQLUtils.explainString(
            merged._jdf.queryExecution(), "formatted"
        )
        assert (
            f"SelectedBucketsCount: {se.N_STATE_BUCKETS} out of"
            f" {se.N_STATE_BUCKETS}" in plan
        ), plan[:3000]
        assert "PartitionFilters" in plan and "pb" in plan, plan[:3000]
        tree = plan.split("\n(1)", 1)[0].splitlines()
        join_depth, subtree = None, []
        for line in tree:
            node = line.lstrip(" :+-")
            depth = len(line) - len(node)
            if "SortMergeJoin" in node and "FullOuter" in node:
                join_depth = depth
                continue
            if join_depth is not None and depth > join_depth:
                subtree.append(node)
        assert join_depth is not None, plan[:3000]
        scan_i = next(
            (i for i, n in enumerate(subtree) if "Scan" in n and "cdcsb_" in n),
            None,
        )
        assert scan_i is not None, f"no bucketed state scan in: {subtree}"
        assert not any("Exchange" in n for n in subtree[:scan_i]), subtree

        root = se._snapshot_root(spark, tbl)
        loc_cur = os.path.join(root, f"side{cur_side}")

        def snap(loc):
            out = {}
            for pb in range(se.N_STATE_PARTS):
                d = os.path.join(loc, f"pb={pb}")
                out[pb] = {
                    f: os.stat(os.path.join(d, f)).st_ino
                    for f in os.listdir(d)
                    if not f.startswith(".")
                }
            return out

        cur_before = snap(loc_cur)
        se.versioned_commit(spark, tbl, merged, touched, 1)
        # current side byte-untouched (same files, same inodes)
        assert snap(loc_cur) == cur_before
        _, new_side, version = se.snapshot_current(spark, tbl)
        assert version == 1 and new_side != cur_side
        nxt = snap(os.path.join(root, f"side{new_side}"))
        for pb in range(se.N_STATE_PARTS):
            if pb == target:
                assert nxt[pb] and not (
                    set(nxt[pb].values()) & set(cur_before[pb].values())
                ), "touched partition must be fresh files"
            else:
                assert nxt[pb] == cur_before[pb], (
                    f"untouched pb={pb} must be hardlinks (same inodes)"
                )
    finally:
        for s in (0, 1):
            spark.sql(f"DROP TABLE IF EXISTS {tbl}_s{s}")
