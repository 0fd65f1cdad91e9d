"""TPC-H-shaped analytical queries over the test star schema — the headline
benchmark set (bench.py runs these at sf0.1).

These exercise the operator combinations that dominate real OLAP work:
wide-group aggregation with many measures (Q1), selective fact filter with
join + top-k (Q3-ish), multi-way star join with two fact-side shuffles
(Q5-ish), and a pure scan-filter-reduce (Q6-ish). Column names are adapted
to the driver's simplified schema (TESTDATA.md / FIXTURES.md section 3).

Scale posture: every query here is a declarative plan — Catalyst pushes the
date/price predicates into the parquet scans, AQE sizes the shuffles, and
the only broadcast hints are on true dimension tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numerics import (
    micro_units,
    sql_stable_avg,
    sql_stable_sum,
    stable_avg,
    stable_sum,
)
from ..plans.costing import (
    BCAST_BUILD_ROW_CAP,
    PROBE_SLACK,
    broadcast_threshold,
    column_within,
    counted_probe,
    fits_broadcast_counted,
    parse_byte_conf,
    plan_size_estimate,
)
from .registry import query


@query(
    "tpch_q1_pricing_summary",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_stable_sum('l_quantity')} AS sum_qty,
               {sql_stable_sum('l_extendedprice')} AS sum_base_price,
               {sql_stable_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {sql_stable_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {sql_stable_avg('l_quantity')} AS avg_qty,
               {sql_stable_avg('l_extendedprice')} AS avg_price,
               {sql_stable_avg('l_discount')} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    covers="TPC-H Q1 shape: wide multi-measure aggregation (A1-A5 generalized)",
)
def tpch_q1(spark, t):
    """Pricing summary report: 2 group keys, 8 measures, one scan.

    Partial aggregation reduces each of N input partitions to <=6 group rows
    before the shuffle — the canonical map-side-combine win.
    """
    l = t["lineitem"].where(
        F.col("l_shipdate") <= F.lit("2001-09-02 00:00:00").cast("timestamp_ntz")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            stable_sum("l_quantity").alias("sum_qty"),
            stable_sum("l_extendedprice").alias("sum_base_price"),
            stable_sum(disc_price).alias("sum_disc_price"),
            stable_sum(charge).alias("sum_charge"),
            stable_avg("l_quantity").alias("avg_qty"),
            stable_avg("l_extendedprice").alias("avg_price"),
            stable_avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "tpch_q3_shipping_priority",
    oracle=f"""
        SELECT l.l_orderkey,
               {sql_stable_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               CAST(o.o_orderdate AS DATE) AS o_orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate
        ORDER BY revenue DESC, l.l_orderkey
        LIMIT 10
    """,
    covers="TPC-H Q3 shape: selective join + grouped top-k",
)
def tpch_q3(spark, t):
    """Unshipped-orders revenue top-10, cost-chosen between two forms.

    Both forms cut each fact side with its pushed-down filter first. The
    key observation is that only ~1/(segments x date window) of orders
    qualifies (BUILDING semi-join x orderdate window), so the qualifying
    (o_orderkey, o_orderdate) slice is small long before lineitem enters:

    - **Broadcast form** (while the qualifying-orders slice fits the
      broadcast threshold — checked via :func:`fits_broadcast_counted`,
      which falls back to one cheap COUNT because the static estimator
      cannot see through the date filter): broadcast the BUILDING custkeys
      into orders (left-semi), broadcast that slice into the filtered
      lineitem scan, and aggregate ONLY the surviving lineitems, grouped
      straight on (o_orderkey, o_orderdate). No exchange ever carries a
      lineitem-grain or an all-orders-grain row — measured 2.38 s -> 1.53 s
      at sf10 (the old form pre-aggregated all 40 M filtered lineitems into
      ~10 M orderkey groups and threw 80% away at the join).
    - **Shuffle form** (past the threshold, the 100 TB shape): the prior
      plan — pre-aggregate lineitem per orderkey (map-side partial
      combine), then shuffle-join against customer x orders.

    Final top-k is TakeOrderedAndProject in both forms.

    r09 rejection audit (tools/q3q5_ab.py, sf10 interleaved min-of-3):
    shipped 1.186 s vs pre-agg-first 1.603 s vs forced shuffle 1.918 s,
    pruned-scan floor 0.325 s, DuckDB 0.326 s — the residue is the
    single-threaded 1.3 M-row broadcast build + probe/aggregate, already
    LongHashedRelation-keyed; the form stands.
    """
    c = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    o = t["orders"].where(
        F.col("o_orderdate") < F.lit("1997-03-15 00:00:00").cast("timestamp_ntz")
    )
    l = t["lineitem"].where(
        F.col("l_shipdate") > F.lit("1997-03-15 00:00:00").cast("timestamp_ntz")
    )
    revenue = stable_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    qual = o.join(
        F.broadcast(c.select("c_custkey")),
        o.o_custkey == F.col("c_custkey"),
        "left_semi",
    ).select("o_orderkey", "o_orderdate")
    if fits_broadcast_counted(spark, qual):
        return (
            l.join(F.broadcast(qual), l.l_orderkey == qual.o_orderkey)
            .groupBy("o_orderkey", "o_orderdate")
            .agg(revenue.alias("revenue"))
            .select(
                F.col("o_orderkey").alias("l_orderkey"),
                "revenue",
                F.col("o_orderdate").cast("date").alias("o_orderdate"),
            )
            .orderBy(F.desc("revenue"), "l_orderkey")
            .limit(10)
        )
    lagg = l.groupBy("l_orderkey").agg(revenue.alias("revenue"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(lagg, F.col("l_orderkey") == o.o_orderkey)
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
        SELECT n.n_name,
               {sql_stable_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n.n_name
    """,
    covers="TPC-H Q5 shape: six-way join with compound join condition",
)
def tpch_q5(spark, t):
    """Local-supplier volume, two cost-chosen forms (round-5 rewrite; the
    r04 plan was the one-form shuffle join at 6.2x the oracle at sf10).

    Shared spine: the region restriction reaches the fact scans through
    broadcast slices (ASIA nations -> ASIA suppliers -> ASIA customers),
    and every revenue term is encoded to micro-units AT THE SCAN so no
    later stage touches doubles. The final 5-row nation-name join is a
    broadcast at the very end — no shuffle ever carries a string.

    Broadcast form (when the qualifying ASIA-orders slice fits the
    threshold — `_q5_orders_slice_fits`): the (orderkey -> customer
    nation) slice broadcasts INTO the lineitem scan, which is probed
    orders-first (cuts 60 M rows to ~3.4 M before the supplier probe —
    probing suppliers first keeps 20% instead of 5.7%), then the ASIA
    supplier table with the compound nation equality riding as the join
    filter. ZERO exchanges carry fact rows; the only shuffle is the
    5-group final aggregate. Measured at sf10 (min-of-3, idle):
    2.96 s -> 1.51 s, ~4.0x the DuckDB oracle cell.

    Shuffle form (the 100 TB shape, taken without probing when the
    orders window is estimated hopelessly large): lineitem pre-aggregates
    per (l_orderkey, s_nationkey) — the partial combine runs map-side and
    the exchange it plants is hash(l_orderkey, s_nationkey), exactly the
    compound join's required distribution, so the join REUSES it and the
    fact relation is exchanged once, as narrow longs.

    r09 rejection audit (tools/q3q5_ab.py, sf10 interleaved min-of-3):
    shipped 1.281 s vs supplier-probe-first 2.111 s (keeps 20% vs the
    orders probe's 5.7% — the r05 ordering re-confirmed on the current
    split layout) vs forced shuffle 2.606 s, pruned-scan floor 0.332 s,
    DuckDB 0.345 s; the form stands."""
    c, o, l = t["customer"], t["orders"], t["lineitem"]
    s, n, r = t["supplier"], t["nation"], t["region"]
    # Tiny dim chain: ASIA nations (keys + names), then the ASIA supplier slice.
    asia_n = n.join(
        F.broadcast(r.where(F.col("r_name") == "ASIA")), n.n_regionkey == r.r_regionkey
    ).select("n_nationkey", "n_name")
    s_asia = s.join(
        F.broadcast(asia_n), s.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey")
    o_win = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    c_slice = c.join(
        F.broadcast(asia_n.select("n_nationkey")),
        c.c_nationkey == F.col("n_nationkey"),
        "left_semi",
    ).select("c_custkey", "c_nationkey")
    if fits_broadcast_counted(spark, c_slice):
        oc = o_win.join(
            F.broadcast(c_slice), o_win.o_custkey == c_slice.c_custkey
        ).select("o_orderkey", "c_nationkey")
    else:  # 1/|regions| of customer outgrew the threshold: shuffle on custkey
        oc = o_win.join(c_slice, o_win.o_custkey == c_slice.c_custkey).select(
            "o_orderkey", "c_nationkey"
        )
    lx = l.select(
        "l_orderkey",
        "l_suppkey",
        micro_units(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev_micro"
        ),
    )
    suppfirst_cap = _q5_suppfirst_row_cap(spark)
    fits, n_slice = _q5_orders_slice_probe(spark, o_win, oc, suppfirst_cap)
    if fits:
        j = lx.join(F.broadcast(oc), lx.l_orderkey == oc.o_orderkey)
        j = j.join(
            F.broadcast(s_asia),
            (j.l_suppkey == s_asia.s_suppkey)
            & (F.col("c_nationkey") == s_asia.s_nationkey),
        )
    elif n_slice is not None and n_slice <= suppfirst_cap and _q5_key_packable(n, o, l):
        # Mid band (r13, sf30 audit): the slice outgrew the tight
        # orders-first gate, but a SUPPLIER-FIRST broadcast still beats
        # the shuffle form — the tiny ASIA-supplier probe cuts lineitem
        # to ~20% BEFORE the big slice's hash relation is probed, so the
        # expensive table sees 0.2|L| probes instead of |L|, and the
        # fact-grain exchange the shuffle form pays is avoided entirely
        # at the price of one counted multi-M-row build. sf30 interleaved
        # min-of-3 (tools/q3q5_ab.py): suppfirst 7.69 s vs shipped-
        # shuffle 10.08 s vs forced-shuffle 10.64 s; at sf10 the tight
        # gate still holds and orders-first still wins (1.28 vs 2.11 —
        # the r09 ordering stands inside its band).
        #
        # The oc probe is a PACKED-LONG LEFT SEMI join (r15, §3.1): the
        # compound key (l_orderkey, s_nationkey) == (o_orderkey,
        # c_nationkey) builds a generic UnsafeHashedRelation; packing
        # both into ONE long — orderkey * 32 + nationkey, injective
        # while _q5_key_packable holds (a corpus that breaks it takes
        # the compound-key shuffle form below) — lets Spark build a
        # LongHashedRelation (dense long-keyed, its fastest
        # build+probe), and since no oc column
        # survives the join (oc is unique per orderkey, so inner ==
        # semi in multiplicity, and the rollup groups on the supplier
        # side's s_nationkey) the probe is a payload-free semi.
        # sf30 interleaved min-of-3 (tools/q5_ab_r15.py): packed semi
        # 3.71 s vs compound inner 6.93 s (-46%), packed inner 3.85 s,
        # forced shuffle 10.21 s; suppfloor 1.37 s, DuckDB 1.89 s —
        # the compound-key relation WAS the band's dominant cost.
        j = lx.join(F.broadcast(s_asia), lx.l_suppkey == s_asia.s_suppkey)
        oc_packed = oc.select(
            (F.col("o_orderkey") * 32 + F.col("c_nationkey")).alias("ock")
        )
        j = j.join(
            F.broadcast(oc_packed),
            (j.l_orderkey * 32 + F.col("s_nationkey")) == oc_packed.ock,
            "left_semi",
        )
    else:
        pre = (
            lx.join(F.broadcast(s_asia), lx.l_suppkey == s_asia.s_suppkey)
            .groupBy("l_orderkey", "s_nationkey")
            .agg(F.sum("rev_micro").alias("rev_micro"))
        )
        j = pre.join(
            oc,
            (pre.l_orderkey == oc.o_orderkey)
            & (pre.s_nationkey == oc.c_nationkey),
        )
    per_nation = j.groupBy("s_nationkey").agg(
        F.sum("rev_micro").alias("rev_micro_total")
    )
    return per_nation.join(
        F.broadcast(asia_n), F.col("s_nationkey") == asia_n.n_nationkey
    ).select("n_name", (F.col("rev_micro_total") / F.lit(1e6)).alias("revenue"))


def _q5_key_packable(n, o, l) -> bool:
    """Whether the mid band's packed key ``orderkey * 32 + nationkey`` is
    injective: every nation key in [0, 32) (both packed nation keys are
    ASIA nation keys) and every order key in [0, 2^58), so the product
    cannot overflow. Footer statistics, memoized per corpus."""
    return (
        column_within(n, "n_nationkey", 0, 32)
        and column_within(o, "o_orderkey", 0, 1 << 58)
        and column_within(l, "l_orderkey", 0, 1 << 58)
    )


#: Ceiling on Q5's mid-band supplier-first broadcast of the qualifying
#: orders slice. This deliberately exceeds BCAST_BUILD_ROW_CAP: here the
#: multi-M-row single-threaded build buys out the FACT-GRAIN EXCHANGE of
#: the shuffle form (33M pre-aggregated rows at sf30), a far bigger
#: prize than the dim exchange the general cap was calibrated against
#: (Q22's anti build). Measured: 2.8M-row build wins by 24% at sf30.
#: 12M rows (~190 MB hash relation) keeps ~2x headroom over the sf60
#: slice; the ceiling is single-node-measured — on a many-executor
#: cluster the broadcast fan-out cost grows with cluster size, so a
#: deployment at that scale re-tunes (env below) or relies on the
#: shuffle branch.
_Q5_SUPPFIRST_ROW_CAP = 12_000_000

#: Bytes of DRIVER memory per broadcast-build row the mid band budgets:
#: 16 B of packed payload (two longs) x ~40 for the JVM hash-relation
#: object overhead plus safety headroom, so the relation stays a low
#: single-digit percent of the driver heap. 8g driver -> 13.4M rows
#: (the 12M ceiling binds, the repo default); 2g -> 3.3M; 1g -> 1.6M.
_Q5_SUPPFIRST_BYTES_PER_ROW = 640


def _q5_suppfirst_row_cap(spark) -> int:
    """Effective mid-band row cap (ADVICE r13): derived from the driver
    heap so a small-driver deployment never trades the safe shuffle path
    for a driver-OOM broadcast."""
    # Spark reads a bare spark.driver.memory as MiB.
    mem = parse_byte_conf(spark.conf.get("spark.driver.memory", "1g"), 1 << 20)
    return min(_Q5_SUPPFIRST_ROW_CAP, mem // _Q5_SUPPFIRST_BYTES_PER_ROW)


def _q5_orders_slice_probe(
    spark, o_win, oc, suppfirst_cap: int
) -> tuple[bool, int | None]:
    """Broadcast-fitness probe for Q5's qualifying ASIA-orders slice:
    returns ``(fits_tight_gate, counted_rows_or_None)`` so the caller can
    cost the mid-band supplier-first form off the same counted probe
    (None = the probe was never paid: the estimate was conclusive).

    `fits_broadcast_counted` cannot be used directly on ``oc``: Spark's
    simple estimator sizes an inner JOIN as the product of its children
    (measured 3.0e14 'bytes' for a 14 MB slice at sf10), which always
    lands beyond the probe band. The slack guard here therefore reads the
    ORDERS window estimate (scan size propagated through the filter — the
    honest pre-join upper bound) widened by the 1/|regions| customer cut,
    and the borderline decade is settled by counting the actual slice,
    exactly like `fits_broadcast_counted`'s probe. At bench scale the
    date-window estimate sits inside the band and the count decides; at
    100 TB the orders estimate alone is terabytes, so the scalable
    shuffle form is taken without paying any probe."""
    thr = broadcast_threshold(spark)
    if thr <= 0:
        return False, None
    est = plan_size_estimate(o_win)
    if est <= thr:
        return True, None
    n_regions = 5  # the corpus's region count; the ASIA cut keeps ~1/5
    # The probe band is widened past the tight gate's by the suppfirst
    # cap's row budget (16 B/row, two long columns) so the mid-band
    # decision is also count-settled rather than estimate-guessed. The
    # row-budget term carries NO PROBE_SLACK (ADVICE r13): the 16 B/row
    # budget already understates the ~19 B/row footer rate, so the term
    # has built-in slack — with the x8 factor the band reached ~7.7 GB
    # of o_win estimate and the counted probe (a real orders x customer
    # count job) ran for slices that could never pass the cap, pure
    # overhead before falling to the shuffle branch.
    band_cap = max(
        PROBE_SLACK * n_regions * thr,
        n_regions * suppfirst_cap * 16,
    )
    if est > band_cap:
        return False, None
    oc_plan = oc._jdf.queryExecution().optimizedPlan()
    n = counted_probe(oc, oc_plan, est)
    return n <= BCAST_BUILD_ROW_CAP and n * 16 <= thr, n


@query(
    "tpch_q6_forecast_revenue",
    oracle=f"""
        SELECT {sql_stable_sum('l_extendedprice * l_discount')} AS revenue,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    covers="TPC-H Q6 shape: scan-filter-reduce (pure pushdown path)",
)
def tpch_q6(spark, t):
    """Forecast revenue change: no shuffle at all — filters push into the
    parquet scan and the global aggregate is a single-stage reduce."""
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(
        stable_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count("*").alias("n"),
    )


@query(
    "grouping_rollup",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    covers="2.4 expansion (ROLLUP grouping sets)",
)
def grouping_rollup(spark, t):
    """Hierarchical subtotals via ROLLUP (absent from the reference; stock
    Spark `rollup`)."""
    return (
        t["orders"]
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@query(
    "pivot_status_by_priority",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
               COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        FROM orders GROUP BY o_orderpriority
    """,
    covers="2.4 expansion (pivot = conditional aggregation)",
)
def pivot_status_by_priority(spark, t):
    """Pivot order counts by status. Expressed as conditional aggregation
    (identical semantics to `.pivot()` but with a stable column set)."""
    o = t["orders"]
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("f_cnt"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("o_cnt"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("p_cnt"),
    )


@query(
    "grouping_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    covers="2.4 expansion (CUBE grouping sets — all subtotal combinations)",
)
def grouping_cube(spark, t):
    """All 2^2 subtotal combinations via CUBE. One pass: Spark expands the
    grouping sets map-side, so the fact table is still read once."""
    return (
        t["orders"]
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@query(
    "grouping_sets_explicit",
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                    AS BIGINT) AS gid,
               COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    covers="2.4 expansion (explicit GROUPING SETS + grouping_id — the "
    "non-hierarchical subtotal form ROLLUP/CUBE cannot express)",
)
def grouping_sets_explicit(spark, t):
    """Hand-picked subtotal sets — per status, per priority, and the grand
    total, WITHOUT the cross combinations CUBE would add — plus the
    grouping_id that tells result consumers which set each row belongs to
    (the only way to distinguish a real NULL key from a subtotal NULL).
    Single pass over orders; Spark expands the sets map-side like
    ROLLUP/CUBE, so the fact scan is still read once."""
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                    AS BIGINT) AS gid,
               COUNT(*) AS n
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """,
        orders=t["orders"],
    )
