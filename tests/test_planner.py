"""Golden NL->SQL tests: the reference's 15-question corpus
(core/views.py:68-84) and 4 prompt patterns (core/ai_query_generator.py:
120-125) through the ported deterministic planner — asserting branch
selection and emitted-SQL shape (SURVEY.md section 5.2(2))."""

from __future__ import annotations

import pytest

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.planner import (
    Intent,
    plan,
)


CORPUS_BRANCHES = [
    # (question, expected branch, fragment expected in SQL)
    ("Show me all employees in the company", "list_all", "ORDER BY name LIMIT 100"),
    # NB: contains "all employees", so the reference's list-all branch wins
    # over the date branch (:229 precedes :249) — faithful port.
    ("Give me the list of all employees who joined last year", "list_all",
     "ORDER BY name LIMIT 100"),
    ("Employees hired last year", "joined_last_year",
     "add_months(current_date(), -12)"),
    ("How many employees work in the IT department?", "count_department_match",
     "LOWER(department) LIKE '%it%'"),
    ("Show me employees with salary greater than 50000", "salary_threshold",
     "salary > 50000"),
    ("List all employees who joined this year", "list_all", "LIMIT 100"),
    ("Employees hired this year", "joined_this_year",
     "EXTRACT(YEAR FROM date_of_join)"),
    ("Find employees in the Sales department", "department_match",
     "LOWER(department) LIKE '%sales%'"),
    ("Count of employees in each department", "count_by_department",
     "GROUP BY department"),
    ("Employees who joined in 2023", "joined_last_year", "date_of_join"),
    # "Gmail" does not contain the substring "email", so the reference's
    # email branch (:273) never fires for this corpus question — it lands on
    # the default branch. (The LLM path is what handles it in the reference.)
    ("Find employees with Gmail addresses", "default_names", "LIMIT 20"),
    ("Show employee email contact list", "email_search", "email IS NOT NULL"),
    ("How many employees do we have?", "count_total", "COUNT(*) as total_employees"),
    ("Show all employees", "list_all", "LIMIT 100"),
    ("What is the role of each person", "position_search", "position IS NOT NULL"),
    ("anything unmatched at all", "default_names", "ORDER BY name LIMIT 20"),
]


@pytest.mark.parametrize("question,branch,fragment", CORPUS_BRANCHES)
def test_branch_selection(question, branch, fragment):
    p = plan(question)
    assert p.branch == branch, f"{question!r}: got {p.branch} / {p.sql}"
    assert fragment in p.sql, f"{question!r}: {fragment!r} not in {p.sql!r}"


def test_intent_detection_groups():
    i = Intent.detect("how many people earn a wage in the it department")
    assert i.count and i.salary and i.department
    assert not i.details and not i.position


def test_count_beats_department_listing():
    # Branch order: count rules come before department match (:217 vs :233).
    p = plan("count employees in the Marketing department")
    assert p.branch == "count_department_match"
    assert "COUNT(*) as count" in p.sql


def test_column_selection_augments_salary_filter():
    p = plan("Show me employees with salary greater than 80000")
    assert "name, salary" in p.sql


def test_table_override():
    p = plan("how many employees", table="staff")
    assert "FROM staff" in p.sql


def _engine(spark, provider):
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.engine import (
        DataFabricEngine,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_employees,
    )

    register_employees(spark, n=50)
    return DataFabricEngine(spark, tables={"employees"}, llm_provider=provider)


def test_llm_provider_path_used_when_present(spark):
    provider = lambda q, schema: "SELECT name FROM employees LIMIT 5;"
    out = _engine(spark, provider).explain("whatever question")
    assert out["branch"] == "llm"
    assert out["sql_query"] == "SELECT name FROM employees LIMIT 5"


def test_llm_provider_falls_back_on_none(spark):
    out = _engine(spark, lambda q, s: None).explain("show all employees")
    assert out["branch"] == "list_all"


def test_planner_sql_runs_on_spark(spark):
    """Every corpus branch must produce SQL Spark can actually execute
    against the synthesized employees fixture."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_employees,
    )

    register_employees(spark, n=500)
    for question, _, _ in CORPUS_BRANCHES:
        sql = plan(question).sql
        rows = spark.sql(sql).collect()
        assert rows is not None, question


def test_departments_defined_once():
    """The employees fixture draws from the planner's department list,
    the reference's own (core/ai_query_generator.py:219), not a copy."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans import (
        planner,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources import (
        catalog,
    )

    assert catalog.DEPARTMENTS is planner.DEPARTMENTS
