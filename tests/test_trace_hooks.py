"""The per-layer benchmark trace (``perfbench/tracing.py``) wraps what the
engine resolves at call time — planner instance attributes, module-level
planner/validator/serializer functions, ``collect`` under the request and
the query-log parquet write — from outside the package. If one of those
lookups moves, its layer silently reports zeros; this pins that each
wrapped layer still fires on a sink-on engine, and that the two logged
rows reach the sink in one batched write."""

from __future__ import annotations

import ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark as fabric
import ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.nl  # noqa: F401
import ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.star_planner  # noqa: F401
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.engine import (
    DataFabricEngine,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources import (
    connectors,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
    STAR_TABLES,
    register_employees,
    register_views,
)
from conftest import SF_SMOKE
from perfbench.tracing import Tracer

TRACED_LAYERS = {
    "plans.plan_cascade",
    "plans.plan_star",
    "validator.validate_select",
    "execute.collect",
    "serialize.serialize_rows",
    "log.write",
}


def test_benchmark_trace_hooks_fire(spark, tmp_path, monkeypatch):
    # Only the test's own flush_log() writes the log: both rows, one span.
    monkeypatch.setattr(connectors, "LOG_FLUSH_SECONDS", 3600.0)
    register_views(spark, SF_SMOKE)
    register_employees(spark, n=50)
    sink = str(tmp_path / "query_log")
    eng = DataFabricEngine(spark, tables=set(STAR_TABLES) | {"employees"},
                           llm_provider=False, log_sink_path=sink)
    tracer = Tracer(sink_path=sink)
    tracer.install(fabric, eng)
    try:
        tracer.enabled = True
        for q in ("How many employees work in the IT department?",
                  "What is the revenue by region?"):
            span = tracer.open("engine.process")
            try:
                out = eng.process(q)
            finally:
                tracer.close(span)
            assert out["success"] is True and out["cached"] is False, out.get("error")
        eng.flush_log()
    finally:
        tracer.enabled = False
        tracer.uninstall()
        eng.close()
    assert TRACED_LAYERS <= {s.name for s in tracer.spans}
    assert len(tracer.by_name("log.write")) == 1
