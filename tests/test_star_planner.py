"""Star-schema NL planner: branch selection, engine integration, and the
end-to-end NL path (covered differentially in the oracle-parity suite via
the nl_* registry entries)."""

from __future__ import annotations

import pytest

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.engine import (
    DataFabricEngine,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.star_planner import (
    plan_star,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
    STAR_TABLES,
    register_views,
)
from conftest import SF_SMOKE

CASES = [
    ("What is the revenue by region?", "revenue_by_region"),
    ("revenue per nation please", "revenue_by_nation"),
    ("Show revenue per market segment", "revenue_by_segment"),
    ("top 5 customers by total spending", "top_customers"),
    ("How many orders were placed per year?", "orders_by_year"),
    ("average order value", "avg_order_value"),
    ("Average order value by market segment", "avg_order_value_by_segment"),
    ("how many parts are in the catalog", "count_part"),
    ("customers without any orders", "customers_without_orders"),
]


@pytest.mark.parametrize("question,branch", CASES)
def test_branch_selection(question, branch):
    p = plan_star(question)
    assert p is not None and p.branch == branch, f"{question!r} -> {p and p.branch}"


def test_top_n_extraction():
    assert "LIMIT 5" in plan_star("top 5 customers").sql
    assert "LIMIT 10" in plan_star("top customers").sql  # default k


def test_no_rule_returns_none():
    assert plan_star("tell me something nice") is None


def test_word_boundary_no_substring_hijack():
    # "department" must not match the `part` table, "border" not `orders`
    assert plan_star("How many employees work in the IT department?") is None
    assert plan_star("how many border cases") is None


def test_employee_questions_always_fall_through():
    assert plan_star("count of employees per customer segment") is None


def test_engine_star_mode_end_to_end(spark):
    register_views(spark, SF_SMOKE)
    eng = DataFabricEngine(spark, tables=set(STAR_TABLES), default_table="customer")
    out = eng.process("What is the revenue by region?")
    assert out["success"] is True, out.get("error")
    assert out["columns"] == ["region", "revenue"]
    assert out["row_count"] == 5
    # star plans pass the same validator as everything else
    assert "JOIN" in out["sql_query"]


def test_engine_star_mode_falls_back_to_default(spark):
    register_views(spark, SF_SMOKE)
    eng = DataFabricEngine(spark, tables=set(STAR_TABLES) | {"employees"})
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_employees,
    )

    register_employees(spark, n=50)
    out = eng.process("Show me all employees in the company")
    assert out["success"] is True
    assert "FROM employees" in out["sql_query"]


def test_star_rule_blocked_when_tables_not_allowlisted(spark):
    register_views(spark, SF_SMOKE)
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_employees,
    )

    register_employees(spark, n=50)
    eng = DataFabricEngine(spark, tables={"employees"})
    out = eng.process("What is the revenue by region?")
    # star rule needs lineitem/orders/... which are not allowlisted -> falls
    # through to the single-table cascade (default branch) on employees
    assert "FROM employees" in out["sql_query"]


DOC_EVENT_CASES = [
    ("Show document counts by language", "docs_by_language"),
    ("What are the 5 longest documents?", "longest_documents"),
    ("how many documents are in the corpus", "count_documents"),
    ("How many events per hour?", "events_by_hour"),
    ("Give me the event breakdown by type", "events_by_type"),
    ("Who are the 8 most active users?", "most_active_users"),
    # curation-surface routes (r08 verdict item 8): the quality/dedup/token
    # questions must win over the generic per-language / how-many rules
    # that also match their phrasing
    (
        "How many documents per language clear the quality floor?",
        "docs_quality_floor_by_lang",
    ),
    (
        "Which sources have low quality documents?",
        "docs_quality_floor_by_source",
    ),
    (
        "How many exact duplicate documents does each source contain?",
        "docs_duplicates_by_source",
    ),
    ("deduplicate the document corpus", "docs_duplicates_by_source"),
    (
        "What is the average document length in tokens per source?",
        "docs_avg_tokens_by_source",
    ),
    # operator-routed dedup/similarity routes (r09 verdict item 7): the
    # near-dup / similar-to / keep-best questions must win over the exact-
    # duplicate-count and generic rules that also match their phrasing
    ("Find near-duplicate document pairs", "docs_near_duplicates"),
    ("show documents that are near duplicates of each other", "docs_near_duplicates"),
    ("Show the 10 documents most similar to document 0", "docs_similar_to"),
    ("which 5 docs are closest to document 3", "docs_similar_to"),
    (
        "Deduplicate the documents and keep the best copy of each duplicate cluster",
        "docs_dedup_survivors",
    ),
    (
        "pick a canonical representative document per duplicate cluster",
        "docs_dedup_survivors",
    ),
]


@pytest.mark.parametrize("question,branch", DOC_EVENT_CASES)
def test_document_event_branches(question, branch):
    p = plan_star(question)
    assert p is not None and p.branch == branch, f"{question!r} -> {p and p.branch}"


def test_similar_to_route_parses_probe_id_and_k():
    p = plan_star("which 5 docs are closest to document 3")
    assert p.operator == "similarity_topk" and p.operator_args == (3, 5)
    assert "vec_id = 3" in p.sql and "LIMIT 5" in p.sql
    # default k when only the probe id is numeric
    p = plan_star("documents similar to document 7")
    assert p.operator_args == (7, 10)


def test_operator_routes_emit_registered_oracle_sql():
    """The near-dup / survivors routes must emit the operator's REGISTERED
    oracle string verbatim — planner and driver oracle can never drift."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators import (  # noqa: F401
        dedup,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.operators.registry import (
        REGISTRY,
    )

    assert (
        plan_star("find near-duplicate documents").sql
        == REGISTRY["dedup_minhash_lsh"].oracle
    )
    assert (
        plan_star("dedup the documents keeping the best copy").sql
        == REGISTRY["dedup_cluster_representatives"].oracle
    )


def test_engine_operator_route_end_to_end(spark):
    """An operator-routed NL question must execute the library operator
    through the engine (no SQL executes on Spark; the reference SQL is
    reported for transparency) and return the serialized result."""
    register_views(spark, SF_SMOKE)
    eng = DataFabricEngine(
        spark,
        tables=set(STAR_TABLES) | {"documents", "embeddings"},
        default_table="customer",
    )
    out = eng.process("Show the 3 documents most similar to document 0")
    assert out["success"] is True, out.get("error")
    assert out["columns"] == ["vec_id", "label", "cos_sim"]
    assert out["row_count"] == 3
    assert "LIST_COSINE_SIMILARITY" in out["sql_query"]  # reference SQL

    out = eng.process("Find near-duplicate document pairs")
    assert out["success"] is True, out.get("error")
    assert out["columns"] == ["a_id", "b_id", "jaccard"]
    assert out["row_count"] > 0


def test_engine_operator_route_blocked_without_tables(spark):
    """The allowlist gate applies to operator routes exactly as to SQL
    star plans: without the documents table the near-dup question falls
    through to the single-table cascade."""
    register_views(spark, SF_SMOKE)
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_employees,
    )

    register_employees(spark, n=50)
    eng = DataFabricEngine(spark, tables={"employees"})
    out = eng.process("Find near-duplicate document pairs")
    assert "FROM employees" in out["sql_query"]
