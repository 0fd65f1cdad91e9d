"""Product-path benchmark for the fabric engine.

Run from the repository root:

    python3 perfbench/run.py --workload nl_mixed_http_logged --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` traces every second round or request of the window with
spans around each layer and prints the per-layer metrics. The line before the last is
a full report (run stamp, every metric, work counters, check notes); the
last line is the result object. The report and the spans are also written
to ``perfbench/.out/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark"
WORKLOADS = ["nl_employees", "nl_star_sf01", "nl_mixed_http_logged", "operator_cells_sf01"]
DRIVER_MEMORY = "2g"
E2E_UNITS = {"setup_s": "s", "throughput_rps": "1/s", "latency_p50_ms": "ms"}


def _load_package(root: str):
    sys.path.insert(0, root)
    fabric = importlib.import_module(PACKAGE)
    for sub in ("api", "engine", "sources.catalog", "plans.star_planner", "operators.nl",
                "operators.registry"):
        importlib.import_module(f"{PACKAGE}.{sub}")
    return fabric


def _start_spark(fabric, work: str, nproc: int):
    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    return fabric.session.get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            # No hsperfdata file in the system temp dir: writes stay in ``work``.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # Keep every job, stage and SQL execution of a run in the status
            # stores the work counters read.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    try:
        fabric = _load_package(root)
    except ImportError as exc:
        print(f"perfbench: cannot import the engine package from {root}: {exc}", file=sys.stderr)
        return 3
    sys.path.insert(0, HERE)
    import measure
    import datagen
    import sparkstats

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    nproc = len(os.sched_getaffinity(0))
    stamp = sparkstats.run_stamp(args.seed, DRIVER_MEMORY, root)
    steal0, total0 = sparkstats.host_cpu_ticks()
    spark = None
    try:
        t = time.perf_counter()
        data_dir = os.path.join(work, "data")
        rows = datagen.write(data_dir) if args.workload != "nl_employees" else {}
        datagen_s = time.perf_counter() - t
        t = time.perf_counter()
        spark = _start_spark(fabric, work, nproc)
        session_start_s = time.perf_counter() - t
        report = measure.run_workload(
            fabric, spark, args.workload, data_dir, work, args.seed, args.seconds,
            bool(args.trace), PROCESS_START,
        )
        steal1, total1 = sparkstats.host_cpu_ticks()
        report["stamp"] = stamp | {"loadavg_end": os.getloadavg(), "data_rows": rows,
                                   "datagen_s": datagen_s,
                                   "cpu_steal_share": (steal1 - steal0) / max(total1 - total0, 1)}
        report["per_layer"]["session.start_s"] = session_start_s
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    spans = report.pop("spans", None)
    with open(os.path.join(out_dir, f"{args.workload}.report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    if spans is not None:
        with open(os.path.join(out_dir, f"{args.workload}.spans.json"), "w") as f:
            json.dump(spans, f, default=str)

    if args.trace:
        metrics = {k: {"value": v, "unit": measure.PER_LAYER_UNITS[k]}
                   for k, v in report["per_layer"].items()}
    else:
        metrics = {k: {"value": report["end_to_end"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
