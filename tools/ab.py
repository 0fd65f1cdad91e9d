#!/usr/bin/env python
"""Interleaved A/B timing of registry cells and candidate forms under
exact bench conditions.

Usage: python tools/ab.py <sf_dir> <passes> FORM [FORM ...]

A FORM is a registry cell name (``tpch_q5_local_supplier_volume``) or
``cell=path.py:func``: a candidate body for that cell, a function
``(spark, sf_dir) -> DataFrame`` timed under the cell's timing rule.

The corpus is re-chunked and page-cache warmed the way bench.py does it,
and the session comes from bench.bench_session. Before any timing, every
form's output must have the same fingerprint (row count, per-column
non-null counts, exact sum of a 64-bit row hash); a mismatch exits
non-zero. Passes then run interleaved, with the form order reversed on
every other pass, each pass under its own Spark job tag
(``ab-p<pass>-f<form>``) and timed by bench.timed_pass. Prints the min,
median and every pass per form; with two forms, also how many passes the
second form won. With one form this times a single cell.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
    queries,
)


def fingerprint(df) -> tuple:
    """Order- and partitioning-independent fingerprint of df's row
    multiset: (rows, per-column non-null counts, sum of xxhash64 over all
    columns). The hash sum is accumulated as DECIMAL(38,0), so it is exact
    and cannot wrap. xxhash64 skips NULLs, so a NULL moving between
    columns keeps the row hash; the non-null counts catch that."""
    cols = [f"c{i}" for i in range(len(df.columns))]
    d = df.toDF(*cols)
    row = d.agg(
        F.count(F.lit(1)),
        *[F.count(c) for c in cols],
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
    ).first()
    return row[0], tuple(row[1:-1]), row[-1]


def parse_form(form: str, qs: dict):
    """FORM -> (cell, build)."""
    cell, sep, target = form.partition("=")
    if cell not in qs:
        raise SystemExit(f"unknown registry cell: {cell!r}")
    if not sep:
        return cell, qs[cell]
    path, _, func = target.rpartition(":")
    spec = importlib.util.spec_from_file_location(
        os.path.splitext(os.path.basename(path))[0], path
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return cell, getattr(mod, func)


def main() -> None:
    if len(sys.argv) < 4:
        raise SystemExit(__doc__)
    raw_dir, passes, forms = sys.argv[1], int(sys.argv[2]), sys.argv[3:]
    sf_dir = bench._rechunk(raw_dir)
    bench._warm_page_cache(sf_dir)
    gc_nudge = bench._gc_nudge_enabled(sf_dir)
    spark = bench.bench_session(sf_dir, "fabric-ab")
    sc = spark.sparkContext
    qs = queries()
    parsed = [parse_form(f, qs) for f in forms]
    qs["agg_count_star"](spark, sf_dir).collect()  # JVM warmup, as bench.py

    fps = [fingerprint(build(spark, sf_dir)) for _, build in parsed]
    for form, fp in zip(forms, fps):
        print(f"fingerprint {form}: rows={fp[0]} non_null={fp[1]} hash_sum={fp[2]}",
              flush=True)
    if any(fp != fps[0] for fp in fps):
        raise SystemExit("forms differ in output multiset; not timing")

    times: list[list[float]] = [[] for _ in forms]
    for p in range(passes):
        order = range(len(forms)) if p % 2 == 0 else reversed(range(len(forms)))
        for i in order:
            cell, build = parsed[i]
            tag = f"ab-p{p}-f{i}"
            sc.addJobTag(tag)
            try:
                elapsed, _ = bench.timed_pass(cell, build, spark, sf_dir)
            finally:
                sc.removeJobTag(tag)
            times[i].append(round(elapsed, 3))
            if gc_nudge:
                spark._jvm.System.gc()

    print(f"# {raw_dir}, {passes} passes, load avg {os.getloadavg()}")
    for form, ts in zip(forms, times):
        print(f"{form}: min {min(ts):.3f} median {statistics.median(ts):.3f} "
              f"passes {ts}", flush=True)
    if len(forms) == 2:
        wins = sum(b < a for a, b in zip(*times))
        print(f"second form won {wins}/{passes} passes")
    spark.stop()


if __name__ == "__main__":
    main()
