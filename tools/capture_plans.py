#!/usr/bin/env python
"""Capture `.explain("formatted")` output for named registry queries.

Writes one text file per query to --out-dir with the given --suffix
(e.g. plans/r15/tpch_q5_local_supplier_volume_after.txt). Run once from
this checkout for the *_after.txt files and once with --repo pointing
at a checkout of the previous commit for *_before.txt, so plan shapes
can be diffed without running Spark:

    python tools/capture_plans.py --out-dir plans/r15 --suffix after \\
        cdc_merge_incremental pipeline_curation_funnel
    python tools/capture_plans.py --repo ../old --out-dir plans/r15 \\
        --suffix before cdc_merge_incremental pipeline_curation_funnel

The corpus is re-chunked like bench.py does it, and the session always
comes from THIS checkout's bench.bench_session, even when --repo names
another checkout: only the queries are taken from --repo, so before and
after plans are captured under one conf. The live session conf is
printed as one JSON line. Queries whose construction performs eager
work (bucketed writes, streaming drains) execute that work untimed here
— identical to what bench.py does at plan-construction time.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench

PACKAGE = bench.get_spark.__module__.split(".")[0]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", default=ROOT)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out-dir", required=True)
    ap.add_argument("--suffix", required=True, help="before|after")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = bench._rechunk(args.sf_dir)
    spark = bench.bench_session(sf_dir, "plan-capture")
    conf = bench.bench_conf(sf_dir)
    print(json.dumps({k: spark.conf.get(k) for k in conf}, sort_keys=True))
    if os.path.realpath(args.repo) != os.path.realpath(ROOT):
        # Re-import the package from --repo; bench keeps the session it
        # built from this checkout.
        for mod in [m for m in sys.modules if m.split(".")[0] == PACKAGE]:
            del sys.modules[mod]
        sys.path.insert(0, args.repo)
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (  # noqa: E501
        queries,
    )

    qs = queries()
    os.makedirs(args.out_dir, exist_ok=True)
    jvm = spark.sparkContext._jvm
    for name in args.names:
        df = qs[name](spark, sf_dir)
        text = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} bytes)", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
