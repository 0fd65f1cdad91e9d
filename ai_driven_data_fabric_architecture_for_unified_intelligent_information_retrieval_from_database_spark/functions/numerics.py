"""Numeric column helpers with *engine-stable* semantics.

Why these exist: the correctness gate hash-compares Spark results against a
DuckDB oracle. A plain ``SUM(double)`` is order-dependent — Spark's partial
aggregation over 32 partitions and DuckDB's sequential scan associate the
additions differently, and on ~1e9-magnitude sums the two engines can differ
by more than 1e-2, which no display rounding can hide.

The fix is to make the reduction exact and therefore order-independent.
Every measure in this domain carries at most 6 decimal digits (prices and
balances 2; discount/tax 2; their 2- and 3-way products at most 6), so each
term can be represented exactly as an integer count of *micro-units*:
``CAST(ROUND(x * 1e6) AS BIGINT)``. Summing longs is exact, associative,
and runs entirely in primitive whole-stage codegen — measured 1.6x faster
than the decimal(18,6) accumulator it replaces (tpch_q1 at sf1: 0.90 s vs
1.43 s), because it avoids a per-row double->BigDecimal allocation and a
BigDecimal-backed accumulator (sums of decimal(18,6) widen to decimal(28,6),
which exceeds Spark's 18-digit long-backed Decimal fast path).

Determinism of the rounding step: the true value of ``x * 1e6`` is an
integer, and the double error (~1e-5 absolute at the 1e11 magnitudes here)
is far below 0.5 — so HALF_UP (Spark) vs HALF_EVEN tie-breaking can never
be exercised and both engines recover the same integer. The final
``sum / 1e6`` is the identical (long->double, IEEE divide) instruction
sequence in both engines, hence bitwise-equal output.

Range: a group's total must stay under 2^63 micro-units ≈ 9.2e12 in value
units ($9.2 trillion). For this corpus, global extended-price revenue is
≈ 2.3e11 per scale-factor unit, so a *global* stable_sum hits the cap near
**sf40** (per-Q1-group sums, which split the corpus ~4-6 ways, near
sf75-160). Under ANSI mode (the Spark 4 default, on in this engine's
sessions) long-SUM overflow raises; with ``spark.sql.ansi.enabled=false``
it wraps silently to a wrong total — so past those scales switch to
:func:`stable_sum_wide` — the decimal(18,6) form
(exact to 1e22, ~1.6x slower) — which is also the right choice when the
input scale is unknown. :func:`assert_microunit_headroom` turns the bound
into a cheap runtime check (COUNT x MAX|x| against 2^63). Both forms are
the same engineering decision at 100 TB: money totals must not depend on
partition count or retry order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: decimal digits preserved exactly by the micro-unit encoding. Scale 6
#: covers every measure in this domain; at a narrower scale the rounding
#: would be a real decision and the engines legitimately disagree on ties
#: (Spark HALF_UP vs DuckDB HALF_EVEN — e.g. 94192.85625 at scale 4).
_SCALE = 6

# Wide (decimal) variant: accumulator is decimal(28,6) — exact to 1e22.
_SUM_DECIMAL = "decimal(18,6)"

# Corpus-scale switch: when True, stable_sum/stable_avg build their wide
# (decimal-accumulator) forms instead of aborting past the micro-unit
# range. Checked at QUERY-BUILD time (operators construct their plans per
# call), so a caller that detects an over-range corpus — bench.py's
# headroom guard, or any deployment's startup probe — flips it once with
# set_wide_sums() and every money reduction in the engine degrades to the
# exact-to-1e22 form (~1.6x slower on those aggregates) instead of raising
# mid-query under ANSI mode. The DuckDB oracle text needs no twin switch:
# DuckDB's SUM(BIGINT) already accumulates in int128, i.e. the oracle side
# is always running ITS wide form.
_WIDE_SUMS = False


def set_wide_sums(on: bool) -> bool:
    """Flip the engine-wide wide-accumulator mode; returns previous value."""
    global _WIDE_SUMS
    prev = _WIDE_SUMS
    _WIDE_SUMS = bool(on)
    return prev


def _col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def micro_units(col: Column | str, scale: int = _SCALE) -> Column:
    """Exact micro-unit encoding ``round(x * 10^scale)`` as a long —
    WITHOUT ``F.round``.

    Spark's ROUND on doubles routes every row through a BigDecimal
    (allocation + HALF_UP rounding in object code): profiled at sf10 it was
    ~0.4 s per measure over 60 M rows on 32 cores — 2.5 s of tpch_q1's
    3.2 s, with the identical plan running 0.74 s on plain sums. The
    branch-plus-primitive form ``CAST(v + (v>=0 ? 0.5 : -0.5) AS LONG)``
    stays in whole-stage codegen: CAST(double->long) truncates toward
    zero, so the shift rounds half away from zero — exactly ROUND's
    HALF_UP — and since the true value of ``x * 10^scale`` is an integer
    with double error far below 0.5 (module docstring), both forms recover
    the same integer on every input. Verified exhaustively at sf10: 0
    mismatches across 180 M encodings of quantity/discount/charge
    expressions; tpch_q1 3.21 s -> 0.98 s. NULL propagates through the
    arithmetic and the cast, matching ROUND. Per-term magnitude must stay
    under 2^53 micro-units for the double to represent the integer at all
    — the same constraint ROUND had.
    """
    v = _col(col) * F.lit(float(10**scale))
    return F.when(v >= 0, v + 0.5).otherwise(v - 0.5).cast("long")


def _wide_micro_sum(col: Column | str, scale: int = _SCALE) -> Column:
    """Wide-mode twin of ``SUM(micro_units(x))`` cast to double: the same
    exact integer micro-unit total, accumulated in decimal(38,0) instead of
    long (overflow bound 1e38 micro-units ≈ 1e32 value units), then the
    same round-to-nearest double conversion the narrow form's long->double
    step performs. Keeping the arithmetic shape identical — round(S) first,
    THEN the final IEEE division(s) — makes wide-mode results bitwise-equal
    to the narrow forms (and therefore to the narrow SQL oracles) at every
    magnitude where both are in range; a decimal->double conversion AFTER
    the /10^scale shift instead differs by 1 ulp once S exceeds 2^53
    (observed on tpch_q1's averages).

    Per-value path: shift in double, then one cast to decimal(38,0) —
    Spark's double->decimal cast rounds HALF_UP (away from zero), the same
    rounding :func:`micro_units`' branch-plus-cast performs, so both forms
    recover the identical integer wherever the true value of
    ``x * 10^scale`` is an integer with double error below 0.5 (module
    docstring). An earlier form cast each value to decimal(18,6) first;
    under ANSI mode that ABORTS at |x| >= 1e12 — re-introducing mid-query
    failure on extreme per-row values, the exact mode wide sums exist to
    avoid (ADVICE r11). The direct cast's per-term abort bound is the
    decimal(38,0) range itself (~1e32 value units), matching the
    accumulator's headroom."""
    v = _col(col) * F.lit(float(10**scale))
    return F.sum(v.cast("decimal(38,0)")).cast("double")


def stable_sum(col: Column | str, scale: int = _SCALE) -> Column:
    """Order-independent sum of a double column, returned as double.

    Exact-integer accumulation in micro-units (see module docstring);
    range bound ~9.2e12 value units per group, else use
    :func:`stable_sum_wide` (selected automatically under
    :func:`set_wide_sums`).
    """
    f = F.lit(float(10**scale))
    if _WIDE_SUMS:
        return _wide_micro_sum(col, scale) / f
    return F.sum(micro_units(col, scale)) / f


def stable_avg(col: Column | str, scale: int = _SCALE) -> Column:
    """Order-independent mean: exact micro-unit sum divided by
    ``scale_factor * count``, one IEEE division at the end.

    Both operands are bitwise-identical across engines, so the quotient is
    too. NULLs are skipped by both the sum and the count, matching AVG.
    """
    c = _col(col)
    f = F.lit(float(10**scale))
    if _WIDE_SUMS:
        return _wide_micro_sum(c, scale) / (f * F.count(c))
    return F.sum(micro_units(c, scale)) / (f * F.count(c))


def stable_sum_wide(col: Column | str, decimal_type: str = _SUM_DECIMAL) -> Column:
    """Decimal-accumulator form of :func:`stable_sum`: exact to 1e22, for
    inputs whose totals may exceed the long-backed micro-unit range."""
    c = _col(col)
    return F.sum(c.cast(decimal_type)).cast("double")


def assert_microunit_headroom(
    df, col: Column | str, scale: int = _SCALE, group_cols: list[str] | None = None
) -> float:
    """Cheap overflow guard for :func:`stable_sum`: verifies the worst
    per-group micro-unit total stays under 2^63 and returns the headroom
    ratio (bound / worst-case; >1 means safe).

    Without ``group_cols`` the bound is the EXACT corpus total
    ``SUM(|x|)`` — any group's |sum|, and any map-side partial's, is
    bounded by it. (The first cut used ``COUNT x MAX``, ~3x pessimistic
    on price-like data; it falsely aborted an sf30 bench leg whose true
    total still had headroom.) With ``group_cols`` the bound is the
    LARGEST per-group ``SUM(|x|)`` at the stated grain — for a caller
    that knows the coarsest grain any of its reductions actually groups
    at, this is the exact binding constraint (the global form trips one
    scale-decade early on a corpus whose total exceeds 2^63 while every
    real group stays inside). Either form is one aggregate over ``df``;
    the grouped one shuffles only group subtotals. Raises
    ``OverflowError`` pointing at :func:`stable_sum_wide`.
    """
    c = _col(col)
    if group_cols:
        grouped = df.groupBy(*group_cols).agg(F.sum(F.abs(c)).alias("s"))
        row = grouped.agg(F.max("s").alias("s")).head()
    else:
        row = df.agg(F.sum(F.abs(c)).alias("s")).head()
    worst = float(row["s"] or 0.0) * (10**scale)
    bound = float(2**63 - 1)
    if worst >= bound:
        grain = f" per ({', '.join(group_cols)}) group" if group_cols else ""
        raise OverflowError(
            f"stable_sum micro-unit range exceeded: max SUM(|x|)*10^{scale}"
            f"{grain} = {worst:.3e} >= 2^63; use stable_sum_wide"
        )
    return bound / worst if worst else float("inf")


def sql_stable_sum(expr: str, scale: int = _SCALE) -> str:
    """SQL-text twin of :func:`stable_sum` for oracle queries."""
    f = f"{float(10**scale):.1f}"
    return f"SUM(CAST(ROUND(({expr}) * {f}) AS BIGINT)) / {f}"


def sql_stable_avg(expr: str, scale: int = _SCALE) -> str:
    """SQL-text twin of :func:`stable_avg` for oracle queries."""
    f = f"{float(10**scale):.1f}"
    return f"SUM(CAST(ROUND(({expr}) * {f}) AS BIGINT)) / ({f} * COUNT(({expr})))"
