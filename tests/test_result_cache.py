"""The engine's two result-cache tiers: the question tier (the reference's
md5-of-question cache, ``core/views.py:26-42``) and the SQL tier behind it,
keyed on the planned query. Questions that plan to one query share one
Spark execution; a hit starts no Spark job, makes no JVM call and skips
validation; failures are never cached; and an answer over files that
changed since is recomputed."""

from __future__ import annotations

import gc
import hashlib

import pytest

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark import (
    engine as engine_mod,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.engine import (
    DataFabricEngine,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
    register_employees,
    register_views,
    synthesize_employees,
)
from conftest import SF_SMOKE


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _hit_without_spark(spark, monkeypatch, eng, question):
    """``eng.process(question)`` with validation and every py4j call made
    to raise; returns the response and the number of Spark jobs started."""

    def no_validation(*_a, **_k):
        raise AssertionError("a cache hit re-ran validation")

    gateway_client = spark.sparkContext._gateway._gateway_client
    client = type(gateway_client)
    calls = []
    before = _next_job_id(spark)
    # A collector pass inside the window would release dead py4j proxies,
    # which sends the JVM a command the request never made.
    gc.collect()
    gc.disable()
    # py4j's finalizer thread sends the deletes of released proxies when it
    # next wakes, up to a second later; send the pending ones now, so none
    # of them lands inside the window.
    pending = getattr(gateway_client, "finalizer_deque", None)
    while pending:
        try:
            java_client, target_id = pending.pop()
        except IndexError:  # the finalizer thread took the last one
            break
        java_client.garbage_collect_object(target_id, False)
    try:
        with monkeypatch.context() as m:
            m.setattr(engine_mod, "validate_select", no_validation)
            m.setattr(client, "send_command", lambda *a, **k: calls.append(a[1:]))
            out = eng.process(question)
    finally:
        gc.enable()
    assert calls == [], "a cache hit made a JVM call"
    return out, _next_job_id(spark) - before


@pytest.mark.parametrize("first, second, tables", [
    ("How many suppliers do we have?", "Count the suppliers", {"supplier"}),
    ("Find near-duplicate document pairs (ref bo)",
     "Find near-duplicate document pairs (ref ku)", {"documents"}),
], ids=["sql_route", "operator_route"])
def test_questions_planning_to_one_query_share_one_execution(
        spark, monkeypatch, first, second, tables):
    register_views(spark, SF_SMOKE)
    eng = DataFabricEngine(spark, tables=tables, llm_provider=False)
    a = eng.process(first)
    assert a["success"] is True and a["cached"] is False, a.get("error")
    assert a["row_count"] > 0
    b, jobs = _hit_without_spark(spark, monkeypatch, eng, second)
    assert b["success"] is True, b.get("error")
    assert jobs == 0
    assert b["cached"] is True
    assert b["data"] is a["data"] and b["columns"] is a["columns"]
    assert (a["original_query"], b["original_query"]) == (first, second)
    assert b["sql_query"] == a["sql_query"] and b["row_count"] == a["row_count"]
    # the SQL-tier hit filled the question tier: a repeat skips planning too
    again, jobs = _hit_without_spark(spark, monkeypatch, eng, second)
    assert jobs == 0 and again == b
    assert eng.cache_stats == {"question_hits": 1, "sql_hits": 1, "misses": 1, "stale": 0}
    assert [e.cached for e in eng.query_log] == [False, True, True]
    assert eng.query_log[1].original_query == second


def test_failures_are_cached_in_neither_tier(spark):
    register_employees(spark, n=50)
    eng = DataFabricEngine(spark, tables={"employees"},
                           llm_provider=lambda _q, _s: "DROP TABLE employees")
    for q in ("Remove the employees table", "Drop every employee"):
        for _ in range(2):
            out = eng.process(q)
            assert out["success"] is False and out["cached"] is False
            assert "only SELECT statements are allowed" in out["error"]
    assert len(eng.cache) == 0 and len(eng.sql_cache) == 0
    assert eng.cache_stats["misses"] == 4


def test_rewritten_input_files_miss_both_tiers(spark, tmp_path):
    path = str(tmp_path / "employees")
    q = "Show me all employees in the company"
    try:
        synthesize_employees(spark, 30).write.parquet(path)
        spark.read.parquet(path).createOrReplaceTempView("employees")
        eng = DataFabricEngine(spark, tables={"employees"}, llm_provider=False)
        assert eng.process(q)["row_count"] == 30
        assert eng.process(q)["cached"] is True

        synthesize_employees(spark, 60).write.mode("overwrite").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView("employees")
        out = eng.process(q)
        assert out["cached"] is False and out["row_count"] == 60
        # a paraphrase that plans to the same SQL now hits the fresh entry
        para = eng.process("List all employees")
        assert para["cached"] is True and para["row_count"] == 60
        stats = eng.cache_stats
        assert stats["stale"] == 2  # the question-tier and the SQL-tier entry
        assert (stats["question_hits"], stats["sql_hits"], stats["misses"]) == (1, 1, 2)
    finally:
        register_employees(spark, n=500)


def test_view_without_input_files_stays_ttl_only(spark):
    """A view over no files (the synthesized fixture) records no inputs;
    only the TTL expires its answers, as before the SQL tier."""
    register_employees(spark, n=40)
    eng = DataFabricEngine(spark, tables={"employees"}, llm_provider=False)
    q = "Show me all employees in the company"
    eng.process(q)
    entry = eng.cache.get("ai_query_" + hashlib.md5(q.encode()).hexdigest())
    assert entry.inputs == () and entry.payload["row_count"] == 40
    assert eng.process(q)["cached"] is True


def test_sql_tier_hit_keeps_the_answers_ttl(spark, monkeypatch):
    """The question-tier copy a SQL-tier hit makes expires with the entry it
    came from, so an answer is never served more than the TTL after it ran."""
    register_employees(spark, n=40)
    eng = DataFabricEngine(spark, tables={"employees"}, llm_provider=False)
    clock = [1000.0]
    monkeypatch.setattr(engine_mod.time, "time", lambda: clock[0])
    assert eng.process("Show me all employees in the company")["cached"] is False
    clock[0] += engine_mod.CACHE_TTL_SECONDS - 1
    assert eng.process("List all employees")["cached"] is True
    clock[0] += 2
    assert eng.process("List all employees")["cached"] is False


def test_cache_stats_count_each_request_once(spark):
    register_employees(spark, n=50)
    eng = DataFabricEngine(spark, tables={"employees"}, llm_provider=False)
    assert eng.cache_stats == {"question_hits": 0, "sql_hits": 0, "misses": 0, "stale": 0}
    eng.process("How many employees work in the IT department?")
    eng.process("How many employees work in the IT department?")
    eng.process("Count the employees in the IT department")
    eng.process("Count the employees in the IT department")
    eng.process("Show me all employees in the company")
    assert eng.cache_stats == {"question_hits": 2, "sql_hits": 1, "misses": 2, "stale": 0}
