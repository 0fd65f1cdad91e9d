"""Relational operator inventory (SURVEY.md section 2), re-expressed as
idiomatic DataFrame plans over the star-schema test tables.

Every reference operator row (scan/project/filter/aggregate/sort/limit from
``core/ai_query_generator.py:178-281`` and the admin/introspection SQL) is
mapped onto its structural twin per FIXTURES.md section 4 — ``department`` ->
``c_mktsegment``/``o_orderpriority``, ``salary`` thresholds -> ``c_acctbal``/
``o_totalprice``, date branches -> ``o_orderdate``, name sort+limit ->
``c_name`` — then extended with the multi-table surface the reference lacks
(joins, windows, set ops) per the north star.

Scale notes, applied throughout:
- filters/projections are plain Catalyst expressions -> parquet pushdown and
  column pruning happen for free (verified in tests/test_plans.py);
- small dimensions (region/nation/supplier) are explicitly broadcast in
  multi-way joins, so the big fact tables never shuffle for them;
- every LIMIT rides on a total order (unique tie-break) -> deterministic
  top-k via TakeOrderedAndProject, no global sort of the full table;
- float sums use the exact decimal reduction from functions/numerics.
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
from ..plans.costing import fits_broadcast, fits_broadcast_counted
from .registry import query

# ---------------------------------------------------------------------------
# Scans / projections (S1, S3, P1-P4, O1, O4)
# ---------------------------------------------------------------------------


@query(
    "scan_project_limit",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer ORDER BY c_name LIMIT 100
    """,
    covers="S1 S3 P2 O1 O4 (list branch core/ai_query_generator.py:230)",
)
def scan_project_limit(spark, t):
    """Projected scan with presentation ordering and a limit — the
    reference's 'list all employees' branch (ORDER BY name LIMIT 100)."""
    return (
        t["customer"]
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_name")  # c_name is unique -> deterministic top-100
        .limit(100)
    )


@query(
    "project_all",
    oracle="SELECT * FROM region",
    covers="P1 (SELECT * branch core/ai_query_generator.py:209-210)",
)
def project_all(spark, t):
    """SELECT * — the 'details/information/everything' branch."""
    return t["region"].select("*")


@query(
    "project_computed_alias",
    oracle="""
        SELECT doc_id,
               COALESCE(lang, 'und') AS lang_c,
               ROUND(n_chars / 100.0, 2) AS hchars
        FROM documents
    """,
    covers="P3 P4 X6 X10 (aliased computed cols, COALESCE core/ai_query_generator.py:258)",
)
def project_computed_alias(spark, t):
    """Aliased computed projection with null-coalescing."""
    return t["documents"].select(
        "doc_id",
        F.coalesce("lang", F.lit("und")).alias("lang_c"),
        F.round(F.col("n_chars") / 100.0, 2).alias("hchars"),
    )


# ---------------------------------------------------------------------------
# Filters (F1-F8)
# ---------------------------------------------------------------------------


@query(
    "filter_threshold_topk",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer WHERE c_acctbal > 5000
        ORDER BY c_acctbal DESC, c_custkey LIMIT 50
    """,
    covers="F1 O2 O5 (salary>threshold branch core/ai_query_generator.py:240-246)",
)
def filter_threshold_topk(spark, t):
    """Numeric threshold filter + ORDER BY DESC LIMIT — the 'salary greater
    than X' branch. Executes as TakeOrderedAndProject (no full sort)."""
    return (
        t["customer"]
        .select("c_custkey", "c_name", "c_acctbal")
        .where(F.col("c_acctbal") > 5000)
        .orderBy(F.desc("c_acctbal"), "c_custkey")
        .limit(50)
    )


@query(
    "filter_between",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_totalprice BETWEEN 40000 AND 80000
    """,
    covers="F2 (BETWEEN, example corpus core/views.py:80)",
)
def filter_between(spark, t):
    """Range filter — 'earning between 40000 and 80000'."""
    return (
        t["orders"]
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .where(F.col("o_totalprice").between(40000, 80000))
    )


@query(
    "filter_ilike_lower",
    oracle="""
        SELECT p_partkey, p_name, p_type
        FROM part WHERE LOWER(p_type) LIKE '%promo%'
    """,
    covers="F3 X1 X2 (LOWER+LIKE branch core/ai_query_generator.py:222,237)",
)
def filter_ilike_lower(spark, t):
    """Case-insensitive substring match, exactly the LOWER()+LIKE form the
    reference emits for department matching."""
    return (
        t["part"]
        .select("p_partkey", "p_name", "p_type")
        .where(F.lower(F.col("p_type")).like("%promo%"))
    )


@query(
    "filter_ilike_operator",
    oracle="SELECT s_suppkey, s_name FROM supplier WHERE s_name ILIKE '%supplier#000000%'",
    covers="F8 X2 (ILIKE path, prompt rule core/ai_query_generator.py:106,122; gmail example core/views.py:83)",
)
def filter_ilike_operator(spark, t):
    """The ILIKE spelling (prompt-sanctioned alternative to LOWER+LIKE)."""
    return (
        t["supplier"]
        .select("s_suppkey", "s_name")
        .where(F.col("s_name").ilike("%supplier#000000%"))
    )


@query(
    "filter_not_null_group_count",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS count
        FROM orders WHERE o_orderpriority IS NOT NULL
        GROUP BY o_orderpriority
    """,
    covers="F4 A3 (NULL-guarded group-count core/ai_query_generator.py:224)",
)
def filter_not_null_group_count(spark, t):
    """IS NOT NULL guard + GROUP BY + COUNT — the 'count per department'
    branch. Partial (map-side) aggregation makes this a tiny shuffle even on
    a 100 TB fact table: 5 groups in, 5 rows out per partition."""
    return (
        t["orders"]
        .where(F.col("o_orderpriority").isNotNull())
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("count"))
    )


@query(
    "filter_date_range",
    oracle="""
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate
        FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
    covers="F5 X3 X4 (relative-date branch core/ai_query_generator.py:254-259, pinned literal per SURVEY 7.2)",
)
def filter_date_range(spark, t):
    """Date lower-bound filter ('recent hires'). The reference uses
    CURRENT_DATE - INTERVAL '1 year'; tests pin a literal anchor so results
    are date-stable (SURVEY.md 7.2). Pushed down to the parquet scan."""
    return (
        t["orders"]
        .where(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"))
    )


@query(
    "filter_year_extract",
    oracle="""
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE EXTRACT(YEAR FROM o_orderdate) = 1997 AND o_totalprice > 400000
    """,
    covers="F6 X5 (calendar-year branch core/ai_query_generator.py:260-266)",
)
def filter_year_extract(spark, t):
    """EXTRACT(YEAR) equality — the 'this year' branch shape."""
    return (
        t["orders"]
        .where((F.year("o_orderdate") == 1997) & (F.col("o_totalprice") > 400000))
        .select("o_orderkey", "o_totalprice")
    )


@query(
    "filter_disjunction",
    oracle="""
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM orders
        WHERE (o_orderpriority = '1-URGENT' OR o_totalprice > 450000)
          AND o_orderstatus = 'F'
    """,
    covers="F7 (OR across predicates core/ai_query_generator.py:256-257,263-264)",
)
def filter_disjunction(spark, t):
    """Disjunctive predicate under a conjunction."""
    return (
        t["orders"]
        .where(
            ((F.col("o_orderpriority") == "1-URGENT") | (F.col("o_totalprice") > 450000))
            & (F.col("o_orderstatus") == "F")
        )
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A6 + expansion)
# ---------------------------------------------------------------------------


@query(
    "agg_count_star",
    oracle="SELECT COUNT(*) AS total_rows FROM lineitem",
    covers="A1 (scalar count core/ai_query_generator.py:226)",
)
def agg_count_star(spark, t):
    """Global COUNT(*) — 'how many employees'."""
    return t["lineitem"].agg(F.count("*").alias("total_rows"))


@query(
    "agg_filtered_count",
    oracle="""
        SELECT COUNT(*) AS count
        FROM customer WHERE LOWER(c_mktsegment) LIKE '%build%'
    """,
    covers="A2 (filtered count branch core/ai_query_generator.py:219-222)",
)
def agg_filtered_count(spark, t):
    """COUNT with a case-insensitive predicate — 'how many in IT'."""
    return (
        t["customer"]
        .where(F.lower(F.col("c_mktsegment")).like("%build%"))
        .agg(F.count("*").alias("count"))
    )


@query(
    "agg_min_max_avg",
    oracle=f"""
        SELECT MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
               {sql_stable_avg('c_acctbal')} AS avg_bal,
               COUNT(c_acctbal) AS n
        FROM customer WHERE c_acctbal IS NOT NULL
    """,
    covers="A4 (min/max/avg stats inspect_table.py:141-145)",
)
def agg_min_max_avg(spark, t):
    """Salary-stats shape: MIN/MAX/AVG with NULL guard. AVG uses the exact
    decimal-sum reduction so the value is order-independent."""
    return (
        t["customer"]
        .where(F.col("c_acctbal").isNotNull())
        .agg(
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            stable_avg("c_acctbal").alias("avg_bal"),
            F.count("c_acctbal").alias("n"),
        )
    )


@query(
    "agg_group_avg",
    oracle=f"""
        SELECT c_mktsegment, {sql_stable_avg('c_acctbal')} AS avg_acctbal,
               COUNT(*) AS n
        FROM customer GROUP BY c_mktsegment
    """,
    covers="A5 (group-by average, example corpus core/views.py:82)",
)
def agg_group_avg(spark, t):
    """'Average salary by department' shape."""
    return (
        t["customer"]
        .groupBy("c_mktsegment")
        .agg(stable_avg("c_acctbal").alias("avg_acctbal"), F.count("*").alias("n"))
    )


@query(
    "agg_distinct",
    oracle="SELECT DISTINCT o_orderstatus FROM orders",
    covers="A6 (DISTINCT department core/ai_query_generator.py:63)",
)
def agg_distinct(spark, t):
    """DISTINCT on a low-cardinality column — partial-agg shuffle of a
    handful of values regardless of fact-table size."""
    return t["orders"].select("o_orderstatus").distinct()


@query(
    "agg_count_distinct",
    oracle="""
        SELECT o_orderstatus,
               COUNT(DISTINCT o_orderpriority) AS n_priorities,
               COUNT(DISTINCT o_custkey) AS n_customers
        FROM orders GROUP BY o_orderstatus
    """,
    covers="expansion 2.4 (COUNT DISTINCT; validator-admitted, never emitted by reference)",
)
def agg_count_distinct(spark, t):
    """Exact distinct aggregation (Spark expands to a two-phase plan)."""
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_orderpriority").alias("n_priorities"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


@query(
    "case_when_bucketing",
    oracle="""
        SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                    WHEN o_totalprice < 150000 THEN 'mid'
                    ELSE 'high' END AS bucket,
               COUNT(*) AS n
        FROM orders GROUP BY 1
    """,
    covers="expansion (CASE bucketing; generalizes threshold branches)",
)
def case_when_bucketing(spark, t):
    """Derived categorical bucketing + count."""
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
        .alias("bucket")
    )
    return t["orders"].groupBy(bucket).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (O1-O5)
# ---------------------------------------------------------------------------


@query(
    "sort_multi_col_limit",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    covers="O1 O2 O3 O4 (mixed-direction sort + limit core/ai_query_generator.py:224,246,258)",
)
def sort_multi_col_limit(spark, t):
    """Mixed asc/desc multi-column sort with limit -> TakeOrderedAndProject."""
    return (
        t["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderstatus", F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "topk_global",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    covers="O5 ('highest paid' = sort+limit core/views.py:75, core/ai_query_generator.py:246)",
)
def topk_global(spark, t):
    """Global top-k — per-partition top-k then merge on the driver; never a
    full sort."""
    return (
        t["orders"]
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY 2.3 — reference has none; north-star multi-table surface)
# ---------------------------------------------------------------------------


@query(
    "join_inner_filtered",
    oracle="""
        SELECT o.o_orderkey, c.c_name, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING' AND o.o_totalprice > 400000
    """,
    covers="2.3 joins (inner equi-join; latent manager self-join generalized)",
)
def join_inner_filtered(spark, t):
    """Inner equi-join with selective filters on both sides. Both filters
    reach the parquet scans before the join; AQE picks broadcast vs
    sort-merge from runtime sizes."""
    o = t["orders"].where(F.col("o_totalprice") > 400000)
    c = t["customer"].where(F.col("c_mktsegment") == "BUILDING")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "c_name", "o_totalprice"
    )


@query(
    "join_left_agg",
    oracle="""
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    """,
    covers="2.3 joins (left outer + aggregate)",
)
def join_left_agg(spark, t):
    """Left join preserving customers with zero orders (COUNT of a nullable
    key -> 0 for the unmatched)."""
    c = t["customer"]
    o = t["orders"]
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """,
    covers="2.3 joins (left-semi = EXISTS)",
)
def join_semi(spark, t):
    """Semi join: customers having at least one big order. Semi joins ship
    only the join key of the probe side — the cheapest existence test at
    scale."""
    big = t["orders"].where(F.col("o_totalprice") > 450000)
    return (
        t["customer"]
        .join(big, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@query(
    "join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
    covers="2.3 joins (left-anti = NOT EXISTS)",
)
def join_anti(spark, t):
    """Anti join: customers who never placed a big order. (The unfiltered
    variant — customers with no orders at all — is empty at every test SF,
    which would make the oracle check vacuous.)"""
    big = t["orders"].where(F.col("o_totalprice") > 400000)
    return (
        t["customer"]
        .join(big, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "join_star_flagship",
    oracle=f"""
        SELECT r.r_name, c.c_mktsegment,
               {sql_stable_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, c.c_mktsegment
    """,
    covers="2.3 joins (multi-way star, broadcast dims) — the flagship entry() query",
)
def join_star_flagship(spark, t):
    """Revenue by region x market segment over the full star schema.

    Two plans, chosen by whether orders fits the session broadcast
    threshold (checked with Catalyst's own size estimate — a driver-side
    cost-based decision, no data read):

    - **orders broadcastable** (small/mid sf): plain join tree; Catalyst
      broadcasts orders and customer into the single lineitem scan stage,
      so nothing big ever shuffles. Forcing a pre-aggregation here would
      ADD a full lineitem exchange where none exists (measured 2.4 s vs
      5.3 s at sf1).
    - **orders too big, customer still broadcastable** (sf10-class; the
      round-5 middle form): lineitem rolls up per orderkey — the rollup's
      hash(l_orderkey) exchange is REUSED by the orders join — then
      customer/nation/region all arrive by broadcast and the order-grain
      relation collapses straight to the 25 (region, segment) groups
      map-side. Exactly one fact-grain-ish exchange in the whole plan;
      measured at sf10: 3.48 -> 2.74 s over the staged form below.
    - **customer too big too** (the 100 TB shape): the revenue
      aggregation is staged along the key hierarchy — per-orderkey
      rollup, re-aggregated per custkey before the shuffle join with
      customer — so each exchange carries rollup-grain rows, never
      lineitem-grain. Micro-unit long partials re-aggregate exactly
      (associative); one double conversion at the end is bit-identical
      to a direct stable_sum.

    Nation and region are broadcast in all forms (O(10^2) rows at any
    scale).
    """
    l, o, c = t["lineitem"], t["orders"], t["customer"]
    n, r = t["nation"], t["region"]
    if fits_broadcast(spark, o.select("o_orderkey", "o_custkey")):
        return (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name", "c_mktsegment")
            .agg(
                stable_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).alias("revenue"),
                F.count("*").alias("n_items"),
            )
        )
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(
            micro_units(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("rev_micro"),
        F.count("*").alias("n_items"),
    )
    cs = c.select("c_custkey", "c_mktsegment", "c_nationkey")
    if fits_broadcast_counted(spark, cs):
        return (
            per_order.join(
                o.select("o_orderkey", "o_custkey"),
                per_order.l_orderkey == F.col("o_orderkey"),
            )
            .join(F.broadcast(cs), F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("r_name", "c_mktsegment")
            .agg(
                (F.sum("rev_micro") / F.lit(1e6)).alias("revenue"),
                F.sum("n_items").alias("n_items"),
            )
        )
    per_cust = (
        per_order.join(
            o.select("o_orderkey", "o_custkey"),
            per_order.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("rev_micro").alias("rev_micro"), F.sum("n_items").alias("n_items"))
    )
    return (
        per_cust.join(
            c.select("c_custkey", "c_mktsegment", "c_nationkey"),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "c_mktsegment")
        .agg(
            (F.sum("rev_micro") / F.lit(1e6)).alias("revenue"),
            F.sum("n_items").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY 2.5 — expansion)
# ---------------------------------------------------------------------------


@query(
    "window_rank_per_group",
    oracle="""
        SELECT * FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    covers="2.5 windows (top-k per group: row_number over partition)",
)
def window_rank_per_group(spark, t):
    """Top-3 orders per customer — the 'top earners per department' class.
    One hash-partition shuffle on the window key; no global sort."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )
    return (
        t["orders"]
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 3)
    )


@query(
    "window_running_sum",
    oracle="""
        SELECT s_nationkey, s_suppkey, s_acctbal,
               CAST(SUM(CAST(s_acctbal AS DECIMAL(18,6)))
                    OVER (PARTITION BY s_nationkey
                          ORDER BY s_suppkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_bal
        FROM supplier
    """,
    covers="2.5 windows (running aggregate with frame spec)",
)
def window_running_sum(spark, t):
    """Running total per partition with an explicit rows frame. The decimal
    cast keeps the running values engine-exact (window sums may be computed
    by segment trees whose association differs between engines)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("s_nationkey")
        .orderBy("s_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t["supplier"].select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.sum(F.col("s_acctbal").cast("decimal(18,6)")).over(w).cast("double").alias("running_bal"),
    )


@query(
    "window_lag_delta",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(o_orderdate AS DATE) AS o_orderdate,
               DATE_DIFF('day',
                         CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                                     ORDER BY o_orderdate, o_orderkey) AS DATE),
                         CAST(o_orderdate AS DATE)) AS days_since_prev
        FROM orders
    """,
    covers="2.5 windows (lag/lead navigation)",
)
def window_lag_delta(spark, t):
    """Days between consecutive orders per customer (lag navigation)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    prev = F.lag(F.col("o_orderdate")).over(w).cast("date")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        d.alias("o_orderdate"),
        F.datediff(d, prev).cast("long").alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY 2.7 — expansion)
# ---------------------------------------------------------------------------


@query(
    "set_union",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey FROM supplier
    """,
    covers="2.7 set ops (UNION distinct)",
)
def set_union(spark, t):
    """UNION (distinct) of nation keys appearing on either side."""
    c = t["customer"].select(F.col("c_nationkey").alias("nationkey"))
    s = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "set_intersect",
    oracle="""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier
    """,
    covers="2.7 set ops (INTERSECT)",
)
def set_intersect(spark, t):
    c = t["customer"].select(F.col("c_nationkey").alias("nationkey"))
    s = t["supplier"].select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@query(
    "set_except",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_totalprice > 450000
    """,
    covers="2.7 set ops (EXCEPT)",
)
def set_except(spark, t):
    """EXCEPT: customers minus those with a 450k+ order (non-empty at every
    test SF, unlike nationkey differences)."""
    c = t["customer"].select(F.col("c_custkey").alias("custkey"))
    o = (
        t["orders"]
        .where(F.col("o_totalprice") > 450000)
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.subtract(o)


# ---------------------------------------------------------------------------
# Scalar function surface (SURVEY 2.8)
# ---------------------------------------------------------------------------


@query(
    "scalar_functions",
    oracle="""
        SELECT n_nationkey,
               LOWER(n_name) AS lname,
               UPPER(n_name) AS uname,
               LENGTH(n_name) AS name_len,
               SUBSTR(n_name, 1, 6) AS prefix,
               CONCAT_WS('-', n_name, CAST(n_nationkey AS VARCHAR)) AS tag,
               COALESCE(NULL, n_name) AS coalesced,
               ROUND(n_nationkey / 7.0, 2) AS septile
        FROM nation
    """,
    covers="X1 X6 X10 X11 + concat/substr/length (admin full-name concat core/admin.py:193-199)",
)
def scalar_functions(spark, t):
    """String/number scalar-function surface in one projection."""
    n = t["nation"]
    return n.select(
        "n_nationkey",
        F.lower("n_name").alias("lname"),
        F.upper("n_name").alias("uname"),
        F.length("n_name").cast("long").alias("name_len"),
        F.substring("n_name", 1, 6).alias("prefix"),
        F.concat_ws("-", F.col("n_name"), F.col("n_nationkey").cast("string")).alias("tag"),
        F.coalesce(F.lit(None), F.col("n_name")).alias("coalesced"),
        F.round(F.col("n_nationkey") / 7.0, 2).alias("septile"),
    )


@query(
    "date_functions",
    oracle="""
        SELECT o_orderkey,
               CAST(o_orderdate AS DATE) AS d,
               EXTRACT(YEAR FROM o_orderdate) AS yr,
               EXTRACT(MONTH FROM o_orderdate) AS mth,
               EXTRACT(DAY FROM o_orderdate) AS dom,
               CAST(o_orderdate + INTERVAL 12 MONTH AS DATE) AS plus_year,
               DATE_DIFF('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch0
        FROM orders
        WHERE o_orderkey <= 100
    """,
    covers="X3 X4 X5 X9 X12 (date arithmetic core/ai_query_generator.py:256-266, years-of-service core/models.py:46-56)",
)
def date_functions(spark, t):
    """Date extraction and interval arithmetic (add_months = the pinned
    INTERVAL '1 year' semantics per SURVEY 7.2)."""
    o = t["orders"].where(F.col("o_orderkey") <= 100)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mth"),
        F.dayofmonth("o_orderdate").cast("long").alias("dom"),
        F.add_months(d, 12).alias("plus_year"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_epoch0"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregates (exact, engine-stable) and approximate variants
# ---------------------------------------------------------------------------


@query(
    "agg_variance_stddev",
    oracle="""
        WITH s AS (
            SELECT c_mktsegment,
                   COUNT(c_acctbal) AS n,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(24,6))) AS DOUBLE) AS sxx
            FROM customer GROUP BY c_mktsegment
        )
        SELECT c_mktsegment, n,
               (sxx - sx * sx / n) / (n - 1) AS var_samp,
               SQRT((sxx - sx * sx / n) / (n - 1)) AS stddev_samp
        FROM s
    """,
    covers="2.4 expansion (variance/stddev from exact moment sums - "
           "built-in stddev_samp partial-merge order makes cross-engine bits differ)",
)
def agg_variance_stddev(spark, t):
    """Sample variance/stddev per group, computed from exact decimal moment
    sums so the result is order-independent (the built-in one-pass
    estimators give different last bits under different partial-merge
    orders - same reason stable_sum exists)."""
    x = F.col("c_acctbal")
    sx = F.sum(x.cast("decimal(18,6)")).cast("double")
    sxx = F.sum((x * x).cast("decimal(24,6)")).cast("double")
    n = F.count(x)
    base = t["customer"].groupBy("c_mktsegment").agg(
        n.alias("n"), sx.alias("sx"), sxx.alias("sxx")
    )
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    return base.select(
        "c_mktsegment", "n", var.alias("var_samp"), F.sqrt(var).alias("stddev_samp")
    )


@query(
    "agg_percentiles",
    oracle="""
        SELECT l_returnflag,
               QUANTILE_CONT(l_quantity, 0.25) AS p25,
               QUANTILE_CONT(l_quantity, 0.5) AS median,
               QUANTILE_CONT(l_quantity, 0.75) AS p75,
               QUANTILE_CONT(l_extendedprice, 0.9) AS price_p90
        FROM lineitem GROUP BY l_returnflag
    """,
    covers="2.4 expansion (exact interpolated percentiles; verified identical "
           "interpolation vs DuckDB quantile_cont)",
)
def agg_percentiles(spark, t):
    """Exact percentiles per group. Note: `percentile` sorts per group -
    fine for bounded groups; at 100 TB switch to percentile_approx (see
    agg_approx_sketches) whose t-digest state merges associatively."""
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.5)").alias("median"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("price_p90"),
        )
    )


@query(
    "agg_approx_sketches",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_orderkey) AS exact_orders,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               TRUE AS orders_within_5pct,
               TRUE AS parts_within_5pct,
               TRUE AS median_within_2pct
        FROM lineitem GROUP BY l_returnflag
    """,
    covers="2.4 expansion (approx_count_distinct / percentile_approx - the 100 TB path)",
)
def agg_approx_sketches(spark, t):
    """Sketch-based aggregates - the only sane distinct-count/quantile at
    100 TB (fixed-size mergeable state, no sort, no exact shuffle).

    Raw sketch outputs are engine-specific, so the gate row is made
    hash-checkable by self-verification: the same single groupBy computes the
    sketch AND the exact value, and the projection emits the exact counts plus
    boolean error-bound verdicts (HLL rsd=0.01 checked at 5%, t-digest
    accuracy=10000 checked at 2%). The DuckDB oracle emits the identical exact
    counts with literal TRUE verdicts - the value hash matches iff the sketch
    error bounds actually hold. At 100 TB you would drop the exact twins and
    keep only the sketch columns; the mergeable-state plan shape is identical.
    """
    agg = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
            F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_median_price"),
            F.count_distinct("l_orderkey").alias("exact_orders"),
            F.count_distinct("l_partkey").alias("exact_parts"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("exact_median_price"),
        )
    )

    def within(approx, exact, tol):
        return (F.abs(F.col(approx) - F.col(exact)) <= tol * F.abs(F.col(exact)))

    return agg.select(
        "l_returnflag",
        "exact_orders",
        "exact_parts",
        within("approx_orders", "exact_orders", 0.05).alias("orders_within_5pct"),
        within("approx_parts", "exact_parts", 0.05).alias("parts_within_5pct"),
        within("approx_median_price", "exact_median_price", 0.02).alias("median_within_2pct"),
    )


# ---------------------------------------------------------------------------
# String / conditional function surface (expansion of 2.8)
# ---------------------------------------------------------------------------


@query(
    "string_functions",
    oracle="""
        SELECT p_partkey,
               REGEXP_EXTRACT(p_name, '([a-z]+)$', 1) AS last_word,
               LPAD(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
               TRIM('  ' || p_brand || '  ') AS trimmed,
               REVERSE(p_brand) AS rev_brand,
               REPLACE(p_type, 'PROMO', 'PROMOTIONAL') AS retyped,
               LEFT(p_name, 5) AS name5,
               CAST(STRPOS(p_name, ' ') AS INT) AS first_space,
               REPEAT(p_brand, 2) AS brand2
        FROM part
    """,
    covers="2.8 expansion (regexp_extract, pad/trim/reverse/replace/left/strpos/repeat)",
)
def string_functions(spark, t):
    """Wider string-function surface in one projection."""
    p = t["part"]
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)$", 1).alias("last_word"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("trimmed"),
        F.reverse("p_brand").alias("rev_brand"),
        F.replace(F.col("p_type"), F.lit("PROMO"), F.lit("PROMOTIONAL")).alias("retyped"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.instr("p_name", " ").alias("first_space"),
        F.repeat("p_brand", 2).alias("brand2"),
    )


@query(
    "conditional_null_functions",
    oracle="""
        SELECT o_orderkey,
               NULLIF(o_orderstatus, 'O') AS status_or_null,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
               CASE WHEN o_totalprice IS NULL THEN -1.0 ELSE o_totalprice END AS price_nn,
               IF(o_orderpriority = '1-URGENT', 1, 0) AS is_urgent
        FROM orders WHERE o_orderkey <= 1000
    """,
    covers="2.8 expansion (NULLIF/COALESCE/IF conditional surface; F4 generalized)",
)
def conditional_null_functions(spark, t):
    o = t["orders"].where(F.col("o_orderkey") <= 1000)
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_label"),
        F.when(F.col("o_totalprice").isNull(), -1.0)
        .otherwise(F.col("o_totalprice"))
        .alias("price_nn"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("is_urgent"),
    )


@query(
    "join_full_outer",
    oracle="""
        SELECT COALESCE(c.c_nationkey, s.s_nationkey) AS nationkey,
               COUNT(DISTINCT c.c_custkey) AS n_customers,
               COUNT(DISTINCT s.s_suppkey) AS n_suppliers
        FROM (SELECT c_custkey, c_nationkey FROM customer WHERE c_nationkey < 10) c
        FULL OUTER JOIN (SELECT s_suppkey, s_nationkey FROM supplier) s
          ON c.c_nationkey = s.s_nationkey
        GROUP BY COALESCE(c.c_nationkey, s.s_nationkey)
    """,
    covers="2.3 expansion (full outer join)",
)
def join_full_outer(spark, t):
    c = t["customer"].where(F.col("c_nationkey") < 10).select("c_custkey", "c_nationkey")
    s = t["supplier"].select("s_suppkey", "s_nationkey")
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full_outer")
        .groupBy(F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"))
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
    )


@query(
    "array_functions_embeddings",
    oracle="""
        SELECT vec_id,
               CAST(LEN(embedding) AS INT) AS dim,
               LIST_MIN(embedding) AS min_v,
               LIST_MAX(embedding) AS max_v,
               embedding[1] AS first_v,
               LIST_SUM(LIST_TRANSFORM(embedding::DOUBLE[],
                                       x -> CASE WHEN x >= 0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END))
                   AS n_nonneg
        FROM embeddings WHERE vec_id < 100
    """,
    covers="2.8 expansion (array functions over vector columns: size/min/max/element/fold)",
)
def array_functions_embeddings(spark, t):
    """Array-function surface over the embedding vectors."""
    e = t["embeddings"].where(F.col("vec_id") < 100)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_min("embedding").alias("min_v"),
        F.array_max("embedding").alias("max_v"),
        F.element_at("embedding", 1).alias("first_v"),
        F.expr(
            "aggregate(transform(cast(embedding as array<double>),"
            " x -> case when x >= 0 then cast(1.0 as double) else cast(0.0 as double) end),"
            " cast(0 as double), (a, x) -> a + x)"
        ).alias("n_nonneg"),
    )


@query(
    "window_ntile_percent_rank",
    oracle="""
        SELECT c_custkey,
               CAST(NTILE(4) OVER w AS INT) AS quartile,
               PERCENT_RANK() OVER w AS pct_rank,
               CUME_DIST() OVER w AS cume
        FROM customer
        WINDOW w AS (ORDER BY c_acctbal DESC, c_custkey)
    """,
    covers="2.5 windows (ntile/percent_rank/cume_dist distribution functions)",
)
def window_ntile_percent_rank(spark, t):
    """Quartile bucketing + relative-rank statistics over account balance.
    Unpartitioned ORDER BY is deliberate here (a customer-percentile report
    is global by definition); at scale you bound it by partitioning on a
    coarse key or pre-aggregating — the per-group variants are covered by
    window_rank_per_group."""
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("c_acctbal"), "c_custkey")
    return t["customer"].select(
        "c_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@query(
    "agg_string_concat_per_group",
    oracle="""
        SELECT r.r_name,
               STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    covers="2.4 expansion (ordered string aggregation per group)",
)
def agg_string_concat_per_group(spark, t):
    """Comma-joined nation list per region. Spark has no ordered
    STRING_AGG; sort_array(collect_list(...)) then concat_ws is the
    deterministic equivalent (collect_list order is partition-dependent —
    never emit it unsorted)."""
    n, r = t["nation"], t["region"]
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations")
        )
    )


@query(
    "set_union_by_name",
    oracle="""
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM (
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM orders WHERE o_orderkey % 100 = 0
            UNION ALL BY NAME
            SELECT o_orderpriority, o_orderkey, NULL AS o_totalprice
            FROM orders WHERE o_orderkey % 100 = 1
        )
    """,
    covers="2.7 expansion (union by name: column-matched, schema-evolving)",
)
def set_union_by_name(spark, t):
    """Position-independent union with a missing column — the
    schema-evolution shape (new files carry new/reordered columns; old
    rows take NULL). ``unionByName(allowMissingColumns=True)`` matches by
    NAME where ``union`` would silently misalign positions."""
    o = t["orders"]
    a = o.where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    b = o.where(F.col("o_orderkey") % 100 == 1).select(
        "o_orderpriority", "o_orderkey"
    )
    return a.unionByName(b, allowMissingColumns=True).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )


@query(
    "window_first_last_value",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice,
               FIRST_VALUE(o_totalprice) OVER w AS first_price,
               LAST_VALUE(o_totalprice) OVER w AS last_price,
               CAST(NTH_VALUE(o_totalprice, 2) OVER w AS DOUBLE) AS second_price
        FROM orders
        WHERE o_custkey < 50
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    covers="2.5 windows (first/last/nth_value with explicit full frame)",
)
def window_first_last_value(spark, t):
    """First/last/second order price per customer over an explicit
    unbounded frame. The frame spec matters: the default frame for
    LAST_VALUE (range to CURRENT ROW) returns the current row's value —
    the classic window bug — so both engines pin the full frame."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        t["orders"]
        .where(F.col("o_custkey") < 50)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(w).alias("last_price"),
            F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        )
    )


@query(
    "window_cume_dist_nth",
    oracle="""
        SELECT s_suppkey, s_nationkey,
               CUME_DIST() OVER w AS cd,
               NTH_VALUE(s_name, 2) OVER (PARTITION BY s_nationkey
                                          ORDER BY s_acctbal DESC, s_suppkey
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND UNBOUNDED FOLLOWING) AS second_richest
        FROM supplier
        WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    """,
    covers="2.5 expansion (cume_dist + nth_value — the distribution/"
    "positional window functions the rank/ntile entries do not cover)",
)
def window_cume_dist_nth(spark, t):
    """Cumulative distribution of supplier balances within each nation plus
    the nation's second-richest supplier on every row (nth_value over the
    full-partition frame). One s_nationkey shuffle serves both windows —
    same scale posture as every bounded-partition window here."""
    from pyspark.sql import Window

    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), "s_suppkey"
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return t["supplier"].select(
        "s_suppkey",
        "s_nationkey",
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("s_name", 2).over(wfull).alias("second_richest"),
    )


@query(
    "unpivot_lineitem_measures",
    oracle=f"""
        SELECT measure,
               COUNT(*) AS n,
               {sql_stable_sum('val', 2)} AS total
        FROM (
            SELECT l_orderkey, 'quantity' AS measure, l_quantity AS val FROM lineitem
            UNION ALL
            SELECT l_orderkey, 'extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_orderkey, 'discount', l_discount FROM lineitem
            UNION ALL
            SELECT l_orderkey, 'tax', l_tax FROM lineitem
        )
        GROUP BY measure
    """,
    covers="2.4/2.7 expansion (UNPIVOT/melt — wide measures to long "
    "(measure, value) rows, the inverse of pivot_status_by_priority)",
)
def unpivot_lineitem_measures(spark, t):
    """Melt four lineitem measures into long (measure, value) form and roll
    them up — the inverse of the pivot entry, and the standard reshape
    before per-measure statistics at scale (one scan, the explode is
    map-side; the rollup shuffle carries 4 partial rows per partition).

    All four measures carry at most 2 decimals, so the centi-unit
    (scale=2) stable_sum is exact and order-independent on both engines —
    a bare CAST would truncate in Spark but round in DuckDB, diverging by
    one centi-unit on every x.999.. float artifact.
    """
    unpivoted = t["lineitem"].unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    measure = F.regexp_replace(F.col("measure"), "^l_", "")
    # match the oracle's labels: strip the l_ prefix; extendedprice keeps
    # its name, quantity/discount/tax likewise
    return (
        unpivoted.select(measure.alias("measure"), "val")
        .groupBy("measure")
        .agg(
            F.count("*").alias("n"),
            stable_sum("val", 2).alias("total"),
        )
    )


@query(
    "lateral_topn_per_order",
    oracle="""
        SELECT o.o_orderkey, l.l_partkey, l.l_extendedprice
        FROM orders o JOIN LATERAL (
            SELECT l_partkey, l_extendedprice FROM lineitem
            WHERE l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2
        ) l ON TRUE
        WHERE o.o_orderkey < 2000
    """,
    covers="2.3 expansion (correlated LATERAL join — top-N-per-row as a "
    "correlated subquery, the SQL:2016 form of the window top-k)",
)
def lateral_topn_per_order(spark, t):
    """The two priciest lineitems of each early order via a correlated
    LATERAL subquery — semantically the window row_number()<=2 pattern
    (window_rank_per_group), expressed in its SQL:2016 lateral form.
    Catalyst decorrelates the subquery into the same shuffle-once-on-the-
    key plan the window form produces, so the lateral spelling costs
    nothing extra at scale."""
    return spark.sql(
        """
        SELECT o.o_orderkey, l.l_partkey, l.l_extendedprice
        FROM {orders} o JOIN LATERAL (
            SELECT l_partkey, l_extendedprice FROM {lineitem}
            WHERE l_orderkey = o.o_orderkey
            ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2
        ) l
        WHERE o.o_orderkey < 2000
        """,
        orders=t["orders"],
        lineitem=t["lineitem"],
    )


@query(
    "window_ratio_to_report",
    oracle=f"""
        WITH per_nation AS (
            SELECT c_nationkey,
                   SUM(CAST(ROUND(c_acctbal * 1000000.0) AS BIGINT)) AS bal_micro
            FROM customer GROUP BY c_nationkey
        )
        SELECT c_nationkey,
               bal_micro / 1000000.0 AS bal,
               CAST(bal_micro AS DOUBLE) / SUM(bal_micro) OVER () AS share
        FROM per_nation
    """,
    covers="2.5 expansion (ratio-to-report: aggregate + global-window "
    "share, the percent-of-total reporting pattern)",
)
def window_ratio_to_report(spark, t):
    """Each nation's share of total customer balance — the percent-of-total
    report. The global window runs over the 25-row AGGREGATE, never the
    fact table (aggregate first, window the rollup — the single-partition
    window is fine because its input is dimension-sized; windowing the raw
    rows would serialize the corpus through one reducer). Both the
    per-nation totals AND the grand-total window accumulate exact
    micro-unit LONGS — a window sum of the 25 doubles differs in the last
    bit across the engines' summation orders; the integer window sum
    cannot."""
    from pyspark.sql import Window

    per_nation = (
        t["customer"]
        .groupBy("c_nationkey")
        .agg(F.sum(micro_units("c_acctbal")).alias("bal_micro"))
    )
    w = Window.partitionBy()
    return per_nation.select(
        "c_nationkey",
        (F.col("bal_micro") / 1_000_000.0).alias("bal"),
        (
            F.col("bal_micro").cast("double") / F.sum("bal_micro").over(w)
        ).alias("share"),
    )


@query(
    "window_range_interval_trailing",
    oracle="""
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   SUM(CAST(ROUND(o_totalprice * 1000000.0) AS BIGINT))
                       AS rev_micro
            FROM orders GROUP BY 1
        )
        SELECT day,
               rev_micro / 1000000.0 AS revenue,
               SUM(rev_micro) OVER w / (1000000.0 * COUNT(*) OVER w)
                   AS trail7_avg,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_days_in_window
        FROM daily
        WINDOW w AS (ORDER BY (day - DATE '1970-01-01')
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    covers="2.5 expansion (RANGE frame over an interval key: 7-day "
    "trailing average — value-based frames, which no ROWS entry covers)",
)
def window_range_interval_trailing(spark, t):
    """Seven-day trailing revenue average per order day — a RANGE frame
    over the date value (days with no orders shrink the window; a ROWS
    frame would silently average over gaps, which is the semantic
    difference this entry pins).

    The window ORDER key is the epoch-day integer on both engines, so the
    frame arithmetic is integer range matching, no interval-type
    divergence. The frame aggregates exact micro-unit longs; the single
    division at the end is bit-identical.

    Scale shape: the window input is POST-aggregation — one row per
    calendar day, a relation bounded by the date domain (~2.4k rows for
    this corpus's 7 years), not by corpus size. The unpartitioned window's
    single reducer therefore stays constant-size at 100 TB; the heavy
    lifting (orders-grain rollup) happens in the partial-combining
    groupBy below it."""
    from pyspark.sql import Window

    daily = (
        t["orders"]
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(micro_units("o_totalprice")).alias("rev_micro"))
    )
    w = Window.orderBy(F.unix_date(F.col("day"))).rangeBetween(-6, 0)
    return daily.select(
        "day",
        (F.col("rev_micro") / 1_000_000.0).alias("revenue"),
        (
            F.sum("rev_micro").over(w)
            / (F.lit(1_000_000.0) * F.count("*").over(w))
        ).alias("trail7_avg"),
        F.count("*").over(w).cast("long").alias("n_days_in_window"),
    )


@query(
    "window_yoy_growth",
    oracle="""
        WITH yearly AS (
            SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year,
                   SUM(CAST(ROUND(o_totalprice * 1000000.0) AS BIGINT))
                       AS rev_micro
            FROM orders GROUP BY 1
        )
        SELECT year,
               rev_micro / 1000000.0 AS revenue,
               LAG(rev_micro) OVER (ORDER BY year) / 1000000.0
                   AS prev_revenue,
               CAST(rev_micro - LAG(rev_micro) OVER (ORDER BY year)
                    AS DOUBLE)
                 / LAG(rev_micro) OVER (ORDER BY year) AS yoy_growth
        FROM yearly
    """,
    covers="2.5 expansion (year-over-year growth: lag over a post-"
    "aggregation time series — the reporting delta pattern)",
)
def window_yoy_growth(spark, t):
    """Yearly revenue with year-over-year growth rate — the standard
    reporting delta. The growth rate divides two exact micro-unit longs
    (one IEEE division — bit-identical across engines); the first year's
    rate is NULL by lag semantics on both. Like
    window_range_interval_trailing, the unpartitioned window runs over
    the POST-aggregation series (one row per year — bounded by the date
    domain, not the corpus), so the single-reducer window is constant-
    size at any scale."""
    from pyspark.sql import Window

    yearly = (
        t["orders"]
        .groupBy(F.year("o_orderdate").cast("long").alias("year"))
        .agg(F.sum(micro_units("o_totalprice")).alias("rev_micro"))
    )
    w = Window.orderBy("year")
    prev = F.lag("rev_micro").over(w)
    return yearly.select(
        "year",
        (F.col("rev_micro") / 1_000_000.0).alias("revenue"),
        (prev / 1_000_000.0).alias("prev_revenue"),
        ((F.col("rev_micro") - prev).cast("double") / prev).alias("yoy_growth"),
    )
