"""One run of one workload: set-ups, the untraced window, the answer checks
and, with tracing, a second window whose spans give the per-layer metrics.
End-to-end metrics always come from the untraced window."""

from __future__ import annotations

import statistics
import time

import sparkstats
import traffic
import workloads as W
from tracing import LAYER_OF, Tracer

COUNTERS = ["jobs", "stages", "tasks", "shuffle_write_bytes", "exchanges", "broadcasts",
            "result_rows"]

PER_LAYER_UNITS = {
    "api.overhead_ms_p50": "ms",
    "api.non200_count": "count",
    "engine.self_ms_p50": "ms",
    "engine.cache_hit_share": "ratio",
    "engine.repeat_miss_share": "ratio",
    "engine.query_log_len": "count",
    "log.write_ms_p50": "ms",
    "log.spark_jobs_per_request": "count",
    "log.files_per_request": "count",
    "log.bytes_per_logged_row": "bytes",
    "log.rows_readable_share": "ratio",
    "plans.plan_ms_p50": "ms",
    "plans.llm_share": "ratio",
    "plans.default_branch_share": "ratio",
    "validator.validate_ms_p50": "ms",
    "catalyst.analysis_ms_p50": "ms",
    "catalyst.optimization_ms_p50": "ms",
    "catalyst.planning_ms_p50": "ms",
    "execute.ms_p50": "ms",
    "execute.ms_p95": "ms",
    "execute.jobs_per_op": "count",
    "execute.stages_per_op": "count",
    "execute.tasks_per_op": "count",
    "execute.shuffle_write_bytes_per_op": "bytes",
    "execute.exchanges_per_op": "count",
    "execute.broadcasts_per_op": "count",
    "execute.input_rows_per_result_row": "ratio",
    "execute.jvm_gc_ms": "ms",
    "serialize.ms_p50": "ms",
    "serialize.rows_per_op": "count",
    "operators.nl_route_ms_p50": "ms",
    **{f"operators.{c}.{k}": "s" for c in W.OPERATOR_CELLS for k in ("exec_s", "construction_s")},
    "process.rss_peak_mb": "MB",
    "session.start_s": "s",
    "catalog.register_views_s": "s",
    "catalog.fixture_s": "s",
    "setup.warmup_s": "s",
    "setup.first_op_s": "s",
    "trace.overhead_ms_p50": "ms",
    **{f"work.{c}": "count" if "bytes" not in c else "bytes" for c in COUNTERS},
}

def _med(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _completed(records) -> float:
    """Successful operations; an HTTP request still running at the deadline
    counts by the share of its time that falls inside the window."""
    total = 0.0
    for r in records:
        if r["status"] != 200 or not r["out"].get("success"):
            continue
        if "deadline" in r:
            total += (min(r["t1"], r["deadline"]) - r["t0"]) / (r["t1"] - r["t0"])
        else:
            total += 1.0
    return total


def _e2e(records, elapsed) -> dict:
    """Throughput over every request; latency over the untraced ones."""
    lat = [r["ms"] for r in records if not r.get("traced")]
    p95, beyond = W.percentile(lat, 95)
    return {
        "throughput_rps": _completed(records) / elapsed if elapsed else 0.0,
        "latency_p50_ms": _med(lat),
        # reported only with at least ten samples beyond it
        "latency_p95_ms": p95 if beyond >= 10 else None,
        "latency_samples": len(lat),
        "samples_ms": [round(x, 1) for x in lat],
        "window_s": elapsed,
    }


def _window(run, workload, spark, target, tracer):
    """Run the workload's window. Returns records, elapsed seconds, the job
    brackets ``(first, end, ops)`` of its deterministic head (round 1, or
    the first HTTP requests) and of the whole window, JVM GC ms, and the
    CPU seconds this process and the JVM spent."""
    sc = spark.sparkContext
    gc0, first = sparkstats.jvm_gc_ms(spark), sparkstats.next_job_id(sc)
    cpu0 = sparkstats.cpu_seconds(spark)
    if workload == "nl_mixed_http_logged":
        pool = traffic.mixed_pool(run.seed, W.MIXED_POOL)
        records, elapsed, head = run.http_window(target, pool, tracer)
    elif workload == "operator_cells_sf01":
        records, elapsed, head = run.cells_window(spark)
    else:
        records, elapsed, head = run.rounds_window(workload, target, tracer)
    whole = (first, sparkstats.next_job_id(sc), len(records))
    return (records, elapsed, head, whole, sparkstats.jvm_gc_ms(spark) - gc0,
            sparkstats.cpu_seconds(spark) - cpu0)


def _counters(spark, bracket, records, marker=None) -> dict:
    c = sparkstats.work_counters(spark, bracket[0], bracket[1], marker)
    c["result_rows"] = sum(r["out"].get("row_count", 0) for r in records[: bracket[2]])
    c["ops"] = bracket[2]
    return c


def run_workload(fabric, spark, workload, data_dir, work, seed, seconds, trace, process_start):
    run = W.Run(fabric, spark, data_dir, work, seed, seconds)
    # The operator workload's spans are the benchmark's own cell timers.
    tracer = Tracer() if trace and workload != "operator_cells_sf01" else None
    try:
        for i in range(W.SETUPS):
            session, engine, target = run.setup(workload, i, tracer)
        first_op_s = time.perf_counter() - process_start
        if tracer is not None:
            tracer.install(fabric, engine)
        try:
            records, elapsed, head, whole, gc_ms, cpu_s = _window(
                run, workload, session, target, tracer)
        finally:
            if tracer is not None:
                tracer.enabled = False
                tracer.uninstall()
        e2e = _e2e(records, elapsed)
        e2e["setup_s"] = _med([s["total_s"] for s in run.setups])
        e2e["rss_peak_mb"] = sparkstats.rss_peak_mb(spark)
        e2e["cpu_ms_per_op"] = cpu_s * 1000.0 / max(len(records), 1)
        counters = _counters(spark, head, records)

        if workload == "nl_mixed_http_logged":
            failed, notes, cache = W.check_http(run, session, engine, records)
            sink = W.sink_accounting(session, engine.log_sink_path, len(engine.query_log))
        elif workload == "operator_cells_sf01":
            failed, notes = W.check_cells(run, session)
            cache, sink = None, None
        else:
            failed, notes = W.check_rounds(run, workload, session, engine, records, head[2])
            cache, sink = None, None
        e2e["failed_share"] = failed / len(records) if records else 1.0

        report = {
            "workload": workload,
            "attempted": len(records),
            "failed": failed,
            "end_to_end": e2e,
            "work_counters": {k: counters[k] for k in COUNTERS + ["ops"]},
            "cache": cache,
            "log_sink": sink,
            "setups": run.setups,
            "check_notes": notes[:20],
        }
        layers = {k: 0.0 for k in PER_LAYER_UNITS}
        layers.update({f"work.{k}": counters[k] for k in COUNTERS})
        layers["setup.first_op_s"] = first_op_s
        layers["process.rss_peak_mb"] = e2e["rss_peak_mb"]
        layers["execute.jvm_gc_ms"] = gc_ms
        for key, phase in (("catalog.register_views_s", "register_views_s"),
                           ("catalog.fixture_s", "fixture_s"), ("setup.warmup_s", "warmup_s")):
            layers[key] = _med([s.get(phase, 0.0) for s in run.setups])
        if workload == "operator_cells_sf01":
            report["trace"] = _cell_layers(layers, records, counters)
        elif tracer is not None:
            window = _counters(session, whole, records, marker=engine.log_sink_path)
            report["trace"] = _span_layers(tracer, workload, engine, session, records, window, layers)
            report["spans"] = report["trace"].pop("spans")
        report["per_layer"] = layers
        return report
    finally:
        run.close()


def _cell_layers(layers, records, counters) -> dict:
    for cell in W.OPERATOR_CELLS:
        mine = [r for r in records if r["q"] == cell]
        layers[f"operators.{cell}.exec_s"] = _med([r["exec_s"] for r in mine])
        layers[f"operators.{cell}.construction_s"] = _med([r["construction_s"] for r in mine])
    exec_ms = [r["exec_s"] * 1000.0 for r in records]
    layers["execute.ms_p50"] = _med(exec_ms)
    layers["execute.ms_p95"] = W.percentile(exec_ms, 95)[0]
    _per_op(layers, counters)
    self_ms = {"operators.construction": sum(r["construction_s"] for r in records) * 1000.0,
               "execute.noop_write": sum(r["exec_s"] for r in records) * 1000.0}
    return {"overhead": "none: the cell timers are always on", "layer_self_ms": self_ms,
            "top_layer": max(self_ms, key=self_ms.get)}


def _per_op(layers, counters, log_jobs=0) -> None:
    ops = max(counters["ops"], 1)
    layers["execute.jobs_per_op"] = (counters["jobs"] - log_jobs) / ops
    layers["execute.stages_per_op"] = counters["stages"] / ops
    layers["execute.tasks_per_op"] = counters["tasks"] / ops
    layers["execute.shuffle_write_bytes_per_op"] = counters["shuffle_write_bytes"] / ops
    layers["execute.exchanges_per_op"] = counters["exchanges"] / ops
    layers["execute.broadcasts_per_op"] = counters["broadcasts"] / ops
    if counters["result_rows"]:
        layers["execute.input_rows_per_result_row"] = counters["input_rows"] / counters["result_rows"]


def _span_layers(tracer, workload, engine, session, records, counters, layers) -> dict:
    """Per-layer metrics from the spans of the traced requests; work
    counters over the whole window."""
    procs = tracer.by_name("engine.process")
    misses = [s for s in procs if not s.attrs.get("cached")]
    own = tracer.self_ms()
    children: dict[int, list] = {}
    for s in tracer.spans:
        children.setdefault(s.parent, []).append(s)

    def kid_ms(span, *names):
        return sum(k.ms for k in children.get(span.id, []) if k.name in names)

    layers["engine.self_ms_p50"] = _med([own[s.id] for s in procs])
    layers["engine.query_log_len"] = len(engine.query_log)
    layers["plans.plan_ms_p50"] = _med([kid_ms(s, "plans.plan_llm", "plans.plan_star",
                                               "plans.plan_cascade") for s in misses])
    llm = tracer.by_name("plans.plan_llm")
    layers["plans.llm_share"] = sum(bool(s.attrs.get("answered")) for s in llm) / len(llm) if llm else 0.0
    cascade = tracer.by_name("plans.plan_cascade")
    layers["plans.default_branch_share"] = (
        sum(s.attrs.get("branch") == "default_names" for s in cascade) / len(misses) if misses else 0.0)
    layers["validator.validate_ms_p50"] = _med([s.ms for s in tracer.by_name("validator.validate_select")])
    collects = tracer.by_name("execute.collect")
    exec_ms = [s.ms for s in collects]
    layers["execute.ms_p50"] = _med(exec_ms)
    layers["execute.ms_p95"] = W.percentile(exec_ms, 95)[0]
    for phase in ("optimization", "planning"):
        layers[f"catalyst.{phase}_ms_p50"] = _med([s.attrs.get(f"{phase}_ms", 0.0) for s in collects])
    layers["catalyst.analysis_ms_p50"] = _med([s.attrs["analysis_ms"] for s in misses
                                                if "analysis_ms" in s.attrs])
    ser = tracer.by_name("serialize.serialize_rows")
    layers["serialize.ms_p50"] = _med([s.ms for s in ser])
    layers["serialize.rows_per_op"] = sum(s.attrs.get("rows", 0) for s in ser) / len(ser) if ser else 0.0
    layers["operators.nl_route_ms_p50"] = _med([s.ms for s in tracer.by_name("operators.run_nl_operator")])
    layers["log.write_ms_p50"] = _med([s.ms for s in tracer.by_name("log.write")])
    _per_op(layers, counters, counters["marked_jobs"])

    # Cache behaviour over every request of the window, traced or not.
    outs = [r["out"] for r in records if r["status"] == 200]
    layers["engine.cache_hit_share"] = sum(bool(o.get("cached")) for o in outs) / len(outs) if outs else 0.0
    seen, repeats, repeat_misses = set(), 0, 0
    for r in records:
        if r["q"] in seen:
            repeats += 1
            repeat_misses += not r["out"].get("cached")
        seen.add(r["q"])
    layers["engine.repeat_miss_share"] = repeat_misses / repeats if repeats else 0.0

    api_spans, layer_self = [], tracer.layer_self_ms()
    if workload == "nl_mixed_http_logged":
        # The client's round trip is the api.request span; the engine.process
        # span inside it (same query, inside its interval) is its child.
        by_query: dict[str, list] = {}
        for s in procs:
            by_query.setdefault(s.attrs.get("query"), []).append(s)
        overhead = []
        for r in records:
            inner = [s for s in by_query.get(r["q"], []) if r["t0"] <= s.start and s.end <= r["t1"]]
            if inner:
                api_spans.append(dict(name="api.request", start=r["t0"], end=r["t1"],
                                      status=r["status"], child=inner[0].id))
                overhead.append(r["ms"] - inner[0].ms)
        layers["api.overhead_ms_p50"] = _med(overhead)
        layers["api.non200_count"] = sum(r["status"] != 200 for r in records)
        layer_self["api"] = sum(overhead)
        acct = W.sink_accounting(session, engine.log_sink_path, len(engine.query_log))
        layers["log.spark_jobs_per_request"] = counters["marked_jobs"] / len(records) if records else 0.0
        layers["log.files_per_request"] = acct["files_per_request"]
        layers["log.bytes_per_logged_row"] = acct["bytes_per_logged_row"]
        layers["log.rows_readable_share"] = acct["rows_readable_share"]
    traced = [r["ms"] for r in records if r.get("traced")]
    untraced = [r["ms"] for r in records if not r.get("traced")]
    layers["trace.overhead_ms_p50"] = _med(traced) - _med(untraced)
    return {
        "overhead_ms_p50": layers["trace.overhead_ms_p50"],
        "traced_ops": len(traced),
        "untraced_ops": len(untraced),
        "layer_self_ms": layer_self,
        "top_layer": max(layer_self, key=layer_self.get) if layer_self else None,
        "layers": sorted(set(LAYER_OF.values())),
        "window_counters": counters,
        "spans": tracer.dump() + api_spans,
    }
