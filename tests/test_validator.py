"""Plan-based SQL validator tests (SURVEY.md section 5.2(3)): SELECT-only
enforcement, table allowlist, fence stripping — including the cases the
reference's substring blocklist (core/ai_query_generator.py:301-307) gets
wrong in both directions."""

from __future__ import annotations

import json

import pytest

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.validator import (
    SqlValidationError,
    _plan_tables,
    strip_markdown_fences,
    validate_select,
)

ALLOWED = {"employees", "query_logs"}


def test_plain_select_passes(spark):
    v = validate_select(spark, "SELECT name FROM employees LIMIT 10", ALLOWED)
    assert v.tables == {"employees"}


def test_cte_passes(spark):
    v = validate_select(
        spark,
        "WITH t AS (SELECT name FROM employees) SELECT * FROM t",
        ALLOWED,
    )
    assert "employees" in v.tables


def test_markdown_fences_stripped(spark):
    v = validate_select(
        spark, "```sql\nSELECT name FROM employees;\n```", ALLOWED
    )
    assert v.sql == "SELECT name FROM employees"


def test_insert_rejected(spark):
    with pytest.raises(SqlValidationError):
        validate_select(spark, "INSERT INTO employees VALUES (1)", ALLOWED)


def test_drop_rejected(spark):
    with pytest.raises(SqlValidationError):
        validate_select(spark, "DROP TABLE employees", ALLOWED)


def test_non_allowlisted_table_rejected(spark):
    with pytest.raises(SqlValidationError):
        validate_select(spark, "SELECT * FROM secrets", ALLOWED)


def test_join_against_non_allowlisted_rejected(spark):
    with pytest.raises(SqlValidationError):
        validate_select(
            spark,
            "SELECT * FROM employees e JOIN secrets s ON e.id = s.id",
            ALLOWED,
        )


def test_substring_false_positive_now_admitted(spark):
    """The reference rejects any SQL containing 'update' as a substring
    (:301-302) — a column named updated_at is legitimate; we admit it."""
    v = validate_select(
        spark,
        "SELECT name AS updated_at_created_dropped FROM employees",
        ALLOWED,
    )
    assert v.tables == {"employees"}


def test_empty_rejected(spark):
    with pytest.raises(SqlValidationError):
        validate_select(spark, "   ", ALLOWED)


def test_non_select_prefix_rejected(spark):
    with pytest.raises(SqlValidationError):
        validate_select(spark, "EXPLAIN SELECT * FROM employees", ALLOWED)


def test_strip_fences_idempotent():
    assert strip_markdown_fences("SELECT 1") == "SELECT 1"


def test_subquery_alias_does_not_excuse_table(spark):
    """Bypass regression: a subquery alias named after a non-allowlisted
    table must not legitimize reading that table. FROM (SELECT ...) secret
    never produces UnresolvedRelation [secret] for the alias itself, so the
    inner read of the real `secret` table must be caught."""
    with pytest.raises(SqlValidationError, match="secret"):
        validate_select(
            spark, "SELECT * FROM (SELECT id FROM secret) secret", ALLOWED
        )


def test_subquery_alias_over_allowed_table_passes(spark):
    v = validate_select(
        spark, "SELECT * FROM (SELECT name FROM employees) employees", ALLOWED
    )
    assert v.tables == {"employees"}


def test_cte_name_is_scoped_not_global(spark):
    """A CTE defined inside one subquery must not excuse a same-named real
    table referenced outside that subquery's scope."""
    with pytest.raises(SqlValidationError, match="secret"):
        validate_select(
            spark,
            "SELECT * FROM (WITH secret AS (SELECT 1 AS id) "
            "SELECT * FROM secret) t JOIN secret s ON 1 = 1",
            ALLOWED,
        )


def test_cte_shadowing_allowed_inside_scope(spark):
    """Inside its scope a CTE name shadows the catalog — a CTE named like a
    forbidden table is fine as long as only the CTE is read."""
    v = validate_select(
        spark,
        "WITH secret AS (SELECT name FROM employees) SELECT * FROM secret",
        ALLOWED,
    )
    assert v.tables == {"employees"}


def test_sibling_cte_reference_passes(spark):
    v = validate_select(
        spark,
        "WITH a AS (SELECT id FROM employees), "
        "b AS (SELECT * FROM a) SELECT * FROM b",
        ALLOWED,
    )
    assert v.tables == {"employees"}


def test_with_prefixed_insert_rejected(spark):
    """Starts with WITH (passes the text gate) but parses to an
    InsertIntoStatement — the node allowlist must reject it."""
    with pytest.raises(SqlValidationError, match="non-query"):
        validate_select(
            spark,
            "WITH x AS (SELECT 1 AS a) INSERT INTO employees SELECT * FROM x",
            ALLOWED,
        )


def test_scalar_subquery_relations_checked(spark):
    with pytest.raises(SqlValidationError, match="secret"):
        validate_select(
            spark,
            "SELECT (SELECT MAX(x) FROM secret) m FROM employees",
            ALLOWED,
        )


def test_qualified_table_name_rejected(spark):
    """db.employees must not validate as 'employees' (multipart bypass)."""
    with pytest.raises(SqlValidationError, match="multipart"):
        validate_select(spark, "SELECT * FROM db.employees", ALLOWED)


def test_global_temp_qualified_rejected(spark):
    with pytest.raises(SqlValidationError, match="multipart"):
        validate_select(
            spark, "SELECT * FROM global_temp.employees", ALLOWED
        )


def test_file_source_relation_rejected(spark):
    """parquet.`/path` relations read arbitrary files (runSQLOnFiles);
    they must not be admitted by last-segment matching."""
    with pytest.raises(SqlValidationError):
        validate_select(
            spark, "SELECT * FROM parquet.`/tmp/x,employees`", ALLOWED
        )


def test_fully_qualified_allowlist_entry_passes(spark):
    v = validate_select(
        spark,
        "SELECT * FROM warehouse.employees",
        {"warehouse.employees"},
    )
    assert v.tables == {"warehouse.employees"}


@pytest.mark.parametrize("sql,allowed", [
    ("SELECT * FROM `warehouse, employees`", "warehouse.employees"),
    ("SELECT * FROM `Warehouse, Employees`", "warehouse.employees"),
    ("SELECT * FROM `a, b`.c", "a.b.c"),
    ("SELECT * FROM a.`b, c`", "a.b.c"),
    ("SELECT * FROM `a``x, b`", "a`x.b"),
    ("SELECT * FROM `warehouse.employees`", "warehouse.employees"),
    ("SELECT * FROM `a.b`.c", "a.b.c"),
])
def test_quoted_part_is_not_a_dotted_entry(spark, sql, allowed):
    """Spark prints the one part `warehouse, employees` exactly like the
    two parts warehouse.employees ("[warehouse, employees]"), and a quoted
    part may hold a dot: a dotted allowlist entry admits only its own
    parts, never a view whose quoted name prints like them."""
    with pytest.raises(SqlValidationError, match="ambiguous|plain identifier|multipart"):
        validate_select(spark, sql, {allowed})


def test_comma_in_other_quoted_names_keeps_dotted_entry(spark):
    v = validate_select(
        spark,
        "SELECT name AS `x, y` FROM warehouse.employees AS `e, f`",
        {"warehouse.employees"},
    )
    assert v.tables == {"warehouse.employees"}


def test_columns_named_like_the_parts_keep_dotted_entry(spark):
    v = validate_select(
        spark, "SELECT warehouse, employees FROM warehouse.employees", {"warehouse.employees"}
    )
    assert v.tables == {"warehouse.employees"}


def test_dotted_entry_without_sql_text_fails_closed(spark):
    """Only the SQL text tells the two parts warehouse.employees from the
    one part `warehouse, employees`; a walk given no text admits neither."""
    parser = spark._jsparkSession.sessionState().sqlParser()
    plan_json = parser.parsePlan("SELECT * FROM warehouse.employees").toJSON()
    with pytest.raises(SqlValidationError, match="ambiguous"):
        _plan_tables(spark, plan_json, {"warehouse.employees"})


def test_backquoted_non_identifier_rejected(spark):
    with pytest.raises(SqlValidationError):
        validate_select(spark, "SELECT * FROM `emp loyees`", ALLOWED)


#: Each reads `secret` (or no allowlisted table) while its printed plan
#: tree carries a forged node line: a newline inside a literal, an alias
#: or a quoted identifier prints text that a line-by-line reading of
#: ``treeString`` takes for a CTE or relation node.
FORGED_LINES = [
    "SELECT * FROM secret WHERE 'x\nCTE [secret]' <> 'y'",
    "SELECT s AS `a\nCTE [secret]` FROM secret",
    "SELECT * FROM `secret` AS `q\nCTE [secret]`",
    "SELECT * FROM range(3) WHERE 'a\nUnresolvedRelation [employees]' <> 'b'",
    "SELECT * FROM employees WHERE id IN "
    "(SELECT id FROM secret WHERE 'x\nCTE [secret]' <> 'y')",
]

#: CTE scope read from indentation: a body reading the real table its own
#: name shadows, and a body reading a name defined only after it.
CTE_SCOPE_BYPASSES = [
    "WITH secret AS (SELECT * FROM secret) SELECT * FROM secret",
    "WITH a AS (SELECT * FROM secret), secret AS (SELECT 1 x) SELECT * FROM a",
]


@pytest.mark.parametrize("sql", FORGED_LINES + CTE_SCOPE_BYPASSES)
def test_printed_tree_bypasses_rejected(spark, sql):
    with pytest.raises(SqlValidationError):
        validate_select(spark, sql, {"employees"})


def test_recursive_cte_body_sees_its_own_name(spark):
    v = validate_select(
        spark,
        "WITH RECURSIVE r AS (SELECT id FROM employees "
        "UNION ALL SELECT id + 1 FROM r WHERE id < 3) SELECT * FROM r",
        ALLOWED,
    )
    assert v.tables == {"employees"}


def test_recursive_cte_body_does_not_see_later_names(spark):
    """Under WITH RECURSIVE a body still reads a later sibling's name as
    the catalog table of that name."""
    with pytest.raises(SqlValidationError, match="secret"):
        validate_select(
            spark,
            "WITH RECURSIVE a AS (SELECT * FROM secret), "
            "secret AS (SELECT 1 x) SELECT * FROM a",
            ALLOWED,
        )


@pytest.mark.parametrize("mutate, error", [
    (lambda j: j.replace('"plan":', '"query":'), "did not reach"),
    (lambda j: json.dumps(json.loads(j) + json.loads(j)[-1:]), "outside its tree"),
    (lambda j: j.replace('"[employees]"', "null"), "unexpected plan JSON"),
    (lambda j: j.replace('"multipartIdentifier":"[employees]",', ""), "unexpected plan JSON"),
], ids=["plan_under_unknown_field", "leftover_node", "null_name", "missing_name"])
def test_walk_fails_closed_on_unexpected_plan_json(spark, mutate, error):
    sql = "SELECT * FROM employees WHERE EXISTS (SELECT 1 FROM employees e)"
    plan_json = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql).toJSON()
    assert _plan_tables(spark, plan_json, ALLOWED) == {"employees"}
    with pytest.raises(SqlValidationError, match=error):
        _plan_tables(spark, mutate(plan_json), ALLOWED)
