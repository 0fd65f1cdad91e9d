"""Extended TPC-H-shaped query set, adapted to the driver's simplified star
schema (TESTDATA.md; no partsupp / commitdate / shipmode / phone columns —
each adaptation keeps the *plan shape* the original query exists to
exercise: EXISTS semi-joins, two-sided nation joins, market-share
conditional aggregation, HAVING over a fact rollup, correlated per-group
averages, disjunctive multi-range predicates, scalar-subquery anti-joins).

Together with operators/tpch.py (Q1/Q3/Q5/Q6) this gives 15 TPC-H-class
plans, covering every join strategy Spark has: broadcast-hash (dims),
shuffle-hash/sort-merge (fact-fact), left-semi, left-anti, and the
scalar-subquery broadcast.

Scale posture: filters precede joins so pushdown reaches the parquet scan;
dimension sides are broadcast; every aggregation is partial-aggregatable
(no distinct-on-fact); every LIMIT is backed by a total order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.numerics import sql_stable_sum, stable_sum
from ..plans.costing import fits_broadcast_counted
from .registry import query


def _year(col):
    # DuckDB EXTRACT(YEAR ...) is BIGINT; match it so schemas hash-compare.
    return F.year(col).cast("long")


@query(
    "tpch_q4_order_priority",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
          )
        GROUP BY o_orderpriority
    """,
    covers="TPC-H Q4 shape: EXISTS -> left-semi join + grouped count",
)
def tpch_q4(spark, t):
    """Priority distribution of slow-shipping orders (adapted: ship lag >90d
    stands in for the missing commit/receipt dates), cost-chosen.

    Common to both forms: a derived fact Catalyst cannot infer across the
    non-equi condition is applied by hand — ``o_orderdate >= 1997-01-01``
    implies matching lineitems have ``l_shipdate > 1997-04-01`` (the +90d
    lower bound), which prunes most of the lineitem scan.

    - **Broadcast form** (while the six-month orders window fits the
      broadcast threshold; :func:`fits_broadcast_counted` settles the
      borderline with one COUNT because the static estimator ignores the
      date filter): broadcast (o_orderkey, o_orderdate, o_orderpriority)
      into the pruned lineitem scan with the non-equi lag predicate in the
      join condition, then collapse survivors per orderkey — the only
      exchanges carry qualifying-order-grain rows. Measured 2.61 s ->
      1.78 s at sf10. Round-7 squeeze audit (tools/q4_ab.py, sf10
      min-of-3 same-session): this form 1.44 s vs the r05-suggested
      per-orderkey MAX(l_shipdate) pre-aggregation 2.03 s (the rollup
      hashes ~12 M near-unique orderkeys to collapse ~4 rows each),
      countDistinct single-phase 1.46 s, semi-join-on-orders 2.56 s —
      all four collect identical rows; this form stands. The residual
      gap to DuckDB (0.29 s) is the single-threaded broadcast hash
      build of the ~1.5 M-order window plus the scan floor, not plan
      shape.
    - **Rollup form** (past the threshold, the 100 TB shape): evaluate the
      EXISTS against a per-orderkey MAX(l_shipdate) rollup —
      ``EXISTS(l_shipdate > bound)`` is exactly ``MAX(l_shipdate) >
      bound`` — so the orderkey shuffle carries one 16-byte row per order
      instead of every matching lineitem; the rollup is 1 row per
      orderkey, so the inner join cannot duplicate orders.
    """
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    l = t["lineitem"].where(
        F.col("l_shipdate") > F.lit("1997-04-01 00:00:00").cast("timestamp_ntz")
    )
    op = o.select("o_orderkey", "o_orderdate", "o_orderpriority")
    if fits_broadcast_counted(spark, op):
        # Survivor collapse via countDistinct, not the r07 two-phase
        # (o_orderkey, prio) rollup: identical rows, statistical tie at
        # sf10 (1.46 vs 1.44 s), and 29% faster at sf30 (4.52 vs 6.38 s
        # — r13 refresh of tools/q4_ab.py on the post-layout code; the
        # two-phase form's near-unique (orderkey, prio) exchange is what
        # ages at scale, the same lesson as pagerank's support rollup).
        return (
            l.join(
                F.broadcast(op),
                (l.l_orderkey == op.o_orderkey)
                & (l.l_shipdate > op.o_orderdate + F.expr("INTERVAL 90 DAYS")),
            )
            .groupBy("o_orderpriority")
            .agg(F.countDistinct("o_orderkey").alias("order_count"))
        )
    lmax = l.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("max_shipdate"))
    return (
        o.join(
            lmax,
            (lmax.l_orderkey == o.o_orderkey)
            & (lmax.max_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "tpch_q7_volume_shipping",
    oracle=f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
               {sql_stable_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n1.n_name, n2.n_name, CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT)
    """,
    covers="TPC-H Q7 shape: bilateral trade volume, two dimension roles for one table",
)
def tpch_q7(spark, t):
    """Shipping volume between two nations by direction and year. The nation
    table joins twice under different roles (supplier side, customer side) —
    both broadcast; the disjunctive nation-pair predicate lands after both.
    """
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    s, o, c = t["supplier"], t["orders"], t["customer"]
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", _year(F.col("l_shipdate")).alias("l_year"))
        .agg(
            stable_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
        WITH all_nations AS (
            SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
                   CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS volume,
                   n1.n_name AS supp_nation
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
            JOIN region r ON n2.n_regionkey = r.r_regionkey
            JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
            WHERE r.r_name = 'AMERICA'
              AND p.p_type = 'PROMO'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        )
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
               / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        FROM all_nations
        GROUP BY o_year
    """,
    covers="TPC-H Q8 shape: market share via conditional share-of-total aggregation",
)
def tpch_q8(spark, t):
    """Market share of one supplier nation within a region/part-type market.
    Eight-way star join; the share is a ratio of two exact decimal sums so
    both engines derive bit-identical doubles.

    Every dimension broadcast carries only the columns the join needs
    (PROMO partkeys, (suppkey, nationkey), nation roles). Cost-chosen fact
    side: the qualifying orders slice — two-year window semi-joined to
    AMERICA customers — is ~1/15 of orders, so while it passes
    :func:`fits_broadcast_counted` it broadcasts into the PROMO lineitem
    slice and the whole query runs broadcast-only with the 2-row aggregate
    as its single exchange (measured 2.25 s -> 1.40 s at sf10); past the
    threshold the orderkey/custkey shuffle joins take over (the 100 TB
    shape).

    r08 audit (tools/q8_ab.py, sf10 interleaved min-of-3): the Q13
    pre-aggregate-before-exchange recipe was tried and REJECTED — rolling
    the PROMO slice to (orderkey, supp_nation) grain is 1.7x slower
    because the slice is ~1 row/key already, and an explicit pre-exchange
    rollup is plan-identical to what codegen's partial agg does. The
    residual ~2.3x vs DuckDB is the serial qual-slice broadcast build +
    scan floor (q4's audited floor family; q3/q5 share it).
    """
    l, p, s, o, c = t["lineitem"], t["part"], t["supplier"], t["orders"], t["customer"]
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = t["region"].where(F.col("r_name") == "AMERICA")
    o = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    p = p.where(F.col("p_type") == "PROMO")
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")

    def share(base):
        return base.groupBy("o_year").agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(zero)
                ).cast("double")
                / F.sum("volume").cast("double")
            ).alias("mkt_share")
        )

    am_nk = n2.join(
        F.broadcast(r), F.col("n2_region") == F.col("r_regionkey")
    ).select("n2_key")
    c_am = c.join(
        F.broadcast(am_nk), c.c_nationkey == F.col("n2_key"), "left_semi"
    ).select("c_custkey")
    qual = o.join(
        F.broadcast(c_am), o.o_custkey == F.col("c_custkey"), "left_semi"
    ).select("o_orderkey", "o_orderdate")
    if fits_broadcast_counted(spark, qual):
        # Explicit rollup to (o_year, supp_nation) grain BEFORE the share
        # aggregate (r13 refresh of tools/q8_ab.py at sf30: 4.54 vs the
        # r08 form's 5.49 s, identical rows; at sf10 the two were within
        # 7%). The r08 audit assumed codegen's partial agg made this
        # rewrite plan-identical — at scale it is not: the share form's
        # per-fact-row decimal WHEN-conditional is costlier than a plain
        # decimal sum keyed by (year, nation), and after the rollup the
        # conditional runs over <=14 rows instead of the PROMO slice.
        base = (
            l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
            .join(
                F.broadcast(s.select("s_suppkey", "s_nationkey")),
                l.l_suppkey == F.col("s_suppkey"),
            )
            .join(F.broadcast(qual), l.l_orderkey == qual.o_orderkey)
            .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
            .groupBy(
                _year(F.col("o_orderdate")).alias("o_year"), F.col("supp_nation")
            )
            .agg(F.sum(volume).alias("volume"))
            .select("o_year", "volume", "supp_nation")
        )
        return share(base)
    base = (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            l.l_suppkey == F.col("s_suppkey"),
        )
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .select(
            _year(F.col("o_orderdate")).alias("o_year"),
            volume.alias("volume"),
            F.col("supp_nation"),
        )
    )
    return share(base)


@query(
    "tpch_q10_returned_items",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               {sql_stable_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               c.c_acctbal, n.n_name
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT 20
    """,
    covers="TPC-H Q10 shape: lost-revenue ranking (join + group + top-k)",
)
def tpch_q10(spark, t):
    """Top 20 customers by revenue of returned items in a half-year window."""
    c, n = t["customer"], t["nation"]
    o = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    l = t["lineitem"].where(F.col("l_returnflag") == "R")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            stable_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                AND o.o_orderpriority <> '1-URGENT'
            GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """,
    covers="TPC-H Q13 shape: outer join with join-time predicate, two-level aggregation",
)
def tpch_q13(spark, t):
    """Distribution of customers by non-urgent order count. Customers with
    only urgent orders must still appear with count 0 — the reference LEFT
    JOIN exists solely to restore them. This plan never joins customer at
    all: orders pre-aggregate to (custkey, count) — the map-side partial
    combine means the custkey shuffle carries one row per customer instead
    of every order (~10x at TPC-H fan-out) — and the second-level
    aggregation runs as ROLLUP(c_count), whose grand-total row is exactly
    |customers with >=1 qualifying order|. The zero bucket is then
    COUNT(customer) - grand_total, computed from a scalar customer count
    broadcast-crossed into the ~50-row rollup. One orders scan, one custkey
    exchange, no 1.5M-row customer join: measured 1.6s -> 0.7s at sf10
    (the join form rescanned orders or shuffled customer depending on
    threshold). F.grouping() marks the total row unambiguously.
    """
    c, o = t["customer"], t["orders"]
    oc = (
        o.where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("c_count"))
    )
    r = oc.rollup("c_count").agg(
        F.count("*").alias("custdist"), F.grouping("c_count").alias("_g")
    )
    n_total = c.agg(F.count("*").alias("n_total"))
    return (
        r.crossJoin(F.broadcast(n_total))
        .select(
            F.coalesce(F.col("c_count"), F.lit(0)).cast("long").alias("c_count"),
            F.when(F.col("_g") == 1, F.col("n_total") - F.col("custdist"))
            .otherwise(F.col("custdist"))
            .alias("custdist"),
        )
        .where(F.col("custdist") > 0)
    )


@query(
    "tpch_q14_promo_revenue",
    oracle=f"""
        SELECT 100.0 * ({sql_stable_sum(
            "CASE WHEN p.p_type = 'PROMO'"
            " THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")})
               / ({sql_stable_sum('l.l_extendedprice * (1 - l.l_discount)')}) AS promo_revenue
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
    covers="TPC-H Q14 shape: share-of-total scalar (conditional / total aggregation)",
)
def tpch_q14(spark, t):
    """Percentage of one month's revenue from PROMO parts."""
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    p = t["part"]
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0) * stable_sum(promo) / stable_sum(disc)
            ).alias("promo_revenue")
        )
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {sql_stable_sum('l_extendedprice * (1 - l_discount)')} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s
        JOIN revenue r ON s.s_suppkey = r.supplier_no
        WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    covers="TPC-H Q15 shape: derived-relation reuse + scalar-subquery max filter",
)
def tpch_q15(spark, t):
    """Supplier(s) with the maximum quarterly revenue. The revenue relation
    is used twice (rank filter + join); exact decimal revenue makes the MAX
    comparison engine-stable. At scale, prefer this two-pass max over a
    global orderBy: the second pass is a broadcast of one scalar.
    """
    l = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        stable_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    s = t["supplier"]
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
        WITH avg_qty AS (
            SELECT l_partkey, {sql_stable_sum('l_quantity')} / COUNT(l_quantity) AS aq
            FROM lineitem GROUP BY l_partkey
        )
        SELECT {sql_stable_sum('l.l_extendedprice')} / 7.0 AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN avg_qty a ON a.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#12'
          AND l.l_quantity < 0.5 * a.aq
    """,
    covers="TPC-H Q17 shape: correlated per-group average (self-agg join)",
)
def tpch_q17(spark, t):
    """Revenue lost to small-quantity orders of one brand. The correlated
    AVG-per-part subquery becomes an aggregate-then-join: one extra shuffle
    over (partkey, avg) instead of a per-row subquery execution.
    """
    l = t["lineitem"]
    p = t["part"].where(F.col("p_brand") == "Brand#12")
    avg_qty = l.groupBy(F.col("l_partkey").alias("ak")).agg(
        (F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double") / F.count("l_quantity")).alias("aq")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(avg_qty, l.l_partkey == F.col("ak"))
        .where(F.col("l_quantity") < 0.5 * F.col("aq"))
        .agg((stable_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


@query(
    "tpch_q18_large_volume_customers",
    oracle=f"""
        WITH big AS (
            SELECT l_orderkey, {sql_stable_sum('l_quantity')} AS total_qty
            FROM lineitem
            GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 250
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_totalprice,
               big.total_qty
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN big ON big.l_orderkey = o.o_orderkey
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """,
    covers="TPC-H Q18 shape: HAVING on fact rollup -> semi-filter on parent",
)
def tpch_q18(spark, t):
    """Customers with orders totalling >250 units. One lineitem rollup
    serves both the HAVING filter and the output measure (the textbook Q18
    plan re-joins lineitem and re-aggregates — pointless work). Join order
    is driven by the HAVING filter's selectivity (~1 order in 10^3 passes
    250 units): the tiny rollup BROADCASTS into orders first, shrinking
    orders to the handful of qualifying rows, and THAT result broadcasts
    into customer — so neither orders nor customer ever shuffles. The only
    exchange in the whole plan is the lineitem rollup. (The naive
    customer-join-orders-first order pays two fact-fact shuffles for rows
    that are about to be discarded.)
    """
    c, o, l = t["customer"], t["orders"], t["lineitem"]
    big = (
        l.groupBy("l_orderkey")
        .agg(stable_sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 250)
        .withColumnRenamed("l_orderkey", "big_key")
    )
    o_big = o.join(F.broadcast(big), o.o_orderkey == F.col("big_key"))
    return (
        c.join(F.broadcast(o_big), c.c_custkey == o_big.o_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "tpch_q19_discounted_revenue",
    oracle=f"""
        SELECT {sql_stable_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               COUNT(*) AS n
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
               AND l.l_quantity BETWEEN 20 AND 30)
    """,
    covers="TPC-H Q19 shape: disjunctive multi-range join predicate",
)
def tpch_q19(spark, t):
    """Revenue under three brand/size/quantity bands. The disjunction spans
    both join sides, so it evaluates post-join; the per-side prefilters
    (brand IN, quantity range-union) are still pushed to the scans.
    """
    l, p = t["lineitem"], t["part"]
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .where(band)
        .agg(
            stable_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n"),
        )
    )


@query(
    "tpch_q22_global_sales_opportunity",
    oracle=f"""
        SELECT n.n_name,
               COUNT(*) AS numcust,
               {sql_stable_sum('c.c_acctbal')} AS totacctbal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > (
                SELECT {sql_stable_sum('c2.c_acctbal')} / COUNT(c2.c_acctbal)
                FROM customer c2 WHERE c2.c_acctbal > 0.0
              )
          AND NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT'
              )
        GROUP BY n.n_name
    """,
    covers="TPC-H Q22 shape: scalar subquery threshold + NOT EXISTS anti-join",
)
def tpch_q22(spark, t):
    """Wealthy customers with no urgent orders, by nation (adapted: nation
    replaces the missing phone country code, and the anti-join is against
    urgent orders because this corpus gives every customer at least one
    order). Scalar average broadcasts as a 1-row frame; NOT EXISTS is a
    left-anti join on the filtered orders key set — broadcast while the
    urgent custkey column passes :func:`fits_broadcast_counted` (the anti
    build side tolerates duplicate keys, so no pre-distinct shuffle),
    shuffled past it. Round 5: the gate gained a build-ROW cap because
    this query exposed byte-fitness as insufficient — at sf10 the 3 M
    urgent keys fit in 24 MB but the driver's single-threaded hash build
    made the broadcast form 1.40 s vs 0.89 s with a shuffled-hash anti
    (hint-pinned so AQE cannot convert it back); the cap flips this query
    to the shuffle form at that scale while sf0.1 (30 k keys) keeps the
    broadcast (0.30 s vs 0.39 s).
    """
    c, n = t["customer"], t["nation"]
    o = t["orders"].where(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            (F.sum(F.col("c_acctbal").cast("decimal(18,6)")).cast("double") / F.count("c_acctbal")).alias("ab")
        )
    )
    okeys = o.select("o_custkey")
    if fits_broadcast_counted(spark, okeys):
        okeys = F.broadcast(okeys)
    else:
        # Pin the gate's decision: without the hint AQE sees the <64 MB
        # shuffle stats and converts the anti back to broadcast at
        # runtime — paying the shuffle write AND the multi-million-row
        # driver hash build the row cap exists to avoid (measured sf10:
        # 1.51 s converted vs 0.89 s pinned). shuffle_hash, not
        # shuffle_merge: the anti probe needs no sort on either side,
        # and the per-partition build is ~94 k keys (0.89 vs 1.15 s).
        okeys = okeys.hint("shuffle_hash")
    return (
        c.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(okeys, c.c_custkey == F.col("o_custkey"), "anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            stable_sum("c_acctbal").alias("totacctbal"),
        )
    )


@query(
    "tpch_q21_suppliers_kept_waiting",
    oracle="""
        WITH late AS (
            SELECT DISTINCT l.l_orderkey, l.l_suppkey
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        ),
        all_sup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        SELECT s.s_name, COUNT(*) AS numwait
        FROM late l1
        JOIN supplier s ON l1.l_suppkey = s.s_suppkey
        WHERE EXISTS (
            SELECT 1 FROM all_sup l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
        )
        AND NOT EXISTS (
            SELECT 1 FROM late l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        )
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 20
    """,
    covers="TPC-H Q21 shape: EXISTS + NOT EXISTS against the same fact relation",
)
def tpch_q21(spark, t):
    """Suppliers who were the sole late shipper on a finished multi-supplier
    order (adapted: ship lag >60d replaces the missing receipt/commit
    dates). The two correlated subqueries become one semi and one anti
    join against derived key sets — three passes over lineitem keys, zero
    row duplication, every join partial-aggregated down to distinct
    (orderkey, suppkey) pairs first.
    """
    o = t["orders"].where(F.col("o_orderstatus") == "F")
    l = t["lineitem"]
    late = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_sup = l.select("l_orderkey", "l_suppkey").distinct()
    l1 = late
    # EXISTS: another supplier contributed to the same order
    other = all_sup.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_sup")
    )
    has_other = l1.join(
        other,
        (F.col("l_orderkey") == F.col("o_key")) & (F.col("l_suppkey") != F.col("o_sup")),
        "semi",
    )
    # NOT EXISTS: no other supplier on that order was late
    other_late = late.select(
        F.col("l_orderkey").alias("ol_key"), F.col("l_suppkey").alias("ol_sup")
    )
    sole_late = has_other.join(
        other_late,
        (F.col("l_orderkey") == F.col("ol_key"))
        & (F.col("l_suppkey") != F.col("ol_sup")),
        "anti",
    )
    s = t["supplier"]
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "basket_part_pairs",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        )
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_orders
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_orders DESC, part_a, part_b
        LIMIT 20
    """,
    covers="pipeline: market-basket co-occurrence mining (bounded in-order "
    "pair expansion, top-k support)",
)
def basket_part_pairs(spark, t):
    """Top-20 part pairs by co-order support — the frequent-itemset
    primitive (the candidate-pair half of A-Priori at k=2).

    Scale shape: the pair expansion is quadratic only WITHIN an order —
    TPC-H orders hold <= 7 items, so each order emits <= 21 pairs and the
    blow-up is a bounded constant, never corpus-quadratic (the same
    bounded-group trick the LSH band join uses). One orderkey shuffle for
    the basket build (:func:`..graph.order_baskets`), one bounded struct-
    pair explode + rollup (:func:`..graph.copurchase_pair_counts` — form
    chosen by the tools/basket_ab.py A/B), and a TakeOrdered top-k — no
    full sort and no fact-scale self-join.
    """
    from .graph import copurchase_pair_counts

    return (
        copurchase_pair_counts(t["lineitem"])
        .select("part_a", "part_b", F.col("n_ab").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "basket_lift_rules",
    oracle="""
        WITH items AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        sup AS (SELECT l_partkey, COUNT(*) AS n FROM items GROUP BY l_partkey),
        total AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
        pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   COUNT(*) AS n_ab
            FROM items a JOIN items b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
        )
        SELECT p.part_a, p.part_b, p.n_ab,
               CAST(p.n_ab AS DOUBLE) / sa.n AS confidence_a_to_b,
               CAST(p.n_ab * t.n_orders AS DOUBLE) / (sa.n * sb.n) AS lift
        FROM pairs p
        JOIN sup sa ON p.part_a = sa.l_partkey
        JOIN sup sb ON p.part_b = sb.l_partkey
        CROSS JOIN total t
        WHERE p.n_ab >= 2
        ORDER BY lift DESC, part_a, part_b
        LIMIT 20
    """,
    covers="pipeline: association-rule mining (confidence + lift over the "
    "co-order pairs — the scoring half of A-Priori at k=2)",
)
def basket_lift_rules(spark, t):
    """Top-20 association rules by lift (support floor 2): completes
    basket_part_pairs into actual rules — confidence P(b|a) and lift
    P(ab)/(P(a)P(b)), the measures a recommender thresholds on.

    Exactness: confidence and lift are single IEEE divisions of exact
    integer products (n_ab * n_orders <= ~1e10 and sup_a * sup_b <=
    ~2.3e12, both far under 2^53, so the doubles are exact before the one
    division — bit-identical across engines). Scale shape: ONE lineitem
    exchange total — pair counts, per-part support, and the order total
    all derive from the same :func:`..graph.order_baskets` subtree
    (collect_set dedups (order, part), so exploding the sets IS the
    distinct-items relation), and Catalyst reuses that one order-grain
    shuffle across the three consumers instead of the three separate
    lineitem shuffles the shipped distinct+self-join form paid
    (tools/basket_ab.py, sf10 interleaved min-of-3: 17.1 s shipped ->
    15.5 s shared-baskets, 2.3 s -> 1.2 s at sf0.1; the packed-key
    vectorized rollup and plain packed/struct explodes without subtree
    sharing all measured between them). The pair explode is bounded
    per order (<= 21 pairs); the per-part support dimension broadcasts
    into the tiny support>=2 pair relation (at a part cardinality past
    the broadcast budget the hint comes off and this becomes a shuffle
    join keyed on the pruned pairs — still far below fact scale); the
    order total arrives as a broadcast scalar; top-20 is
    TakeOrderedAndProject.

    r14: a pagerank-style eager basket checkpoint (which would have
    given this cell a free phase_split_s) was A/B'd and REJECTED —
    +19% at sf30 (66.0 -> 78.8 s, tools/basket_ckpt_ab_r14.py, top-20
    asserted identical): materializing the fact-grain basket arrays
    costs more than the ReusedExchange reads it replaces. The cell's
    cost decomposition lives in the r14 spine audit instead
    (BASELINE.md round 14 item 4)."""
    from .graph import copurchase_pair_counts, order_baskets

    baskets = order_baskets(t["lineitem"])
    items = baskets.select(
        "l_orderkey", F.explode("parts").alias("l_partkey")
    )
    sup = items.groupBy("l_partkey").agg(F.count("*").alias("n"))
    total = baskets.agg(F.count("*").alias("n_orders"))
    pairs = copurchase_pair_counts(min_support=2, baskets=baskets)
    sa = sup.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na"))
    sb = sup.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(total))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("na")).alias("confidence_a_to_b"),
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("na") * F.col("nb"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(20)
    )
