"""Property-based validator fuzzing (hypothesis): no generated DDL/DML
statement may pass, and no well-formed single-table SELECT over allowlisted
relations may be rejected — across randomized identifiers, literals,
whitespace, markdown fences, and casing.

This is the adversarial counterpart of tests/test_validator.py's examples:
the reference's substring blocklist fails both directions (rejects
``SELECT 'created_at'``-style legitimate text, passes nothing-but-SELECT
injections it cannot parse); the plan-level validator must fail neither.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.plans.validator import (
    SqlValidationError,
    validate_select,
)

IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
TABLES = {"employees", "orders", "customer"}
SAFE_COLS = st.sampled_from(["name", "salary", "department", "id", "x", "y"])

_SETTINGS = dict(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    table=st.sampled_from(sorted(TABLES)),
    col=SAFE_COLS,
    n=st.integers(min_value=0, max_value=10**6),
    fence=st.booleans(),
    upper=st.booleans(),
)
@settings(**_SETTINGS)
def test_wellformed_selects_always_pass(spark, table, col, n, fence, upper):
    sql = f"SELECT {col} FROM {table} WHERE {col} IS NOT NULL LIMIT {n}"
    if upper:
        sql = sql.upper()
    if fence:
        sql = f"```sql\n{sql}\n```"
    out = validate_select(spark, sql, TABLES)
    assert table in out.tables
    assert "```" not in out.sql and not out.sql.endswith(";")


@given(
    verb=st.sampled_from(
        [
            "DROP TABLE {t}",
            "DELETE FROM {t}",
            "UPDATE {t} SET x = 1",
            "INSERT INTO {t} VALUES (1)",
            "TRUNCATE TABLE {t}",
            "ALTER TABLE {t} ADD COLUMN z INT",
            "CREATE TABLE {t} (x INT)",
            "CREATE VIEW {t}_v AS SELECT 1",
        ]
    ),
    table=st.sampled_from(sorted(TABLES)),
    fence=st.booleans(),
)
@settings(**_SETTINGS)
def test_ddl_dml_never_passes(spark, verb, table, fence):
    sql = verb.format(t=table)
    if fence:
        sql = f"```sql\n{sql}\n```"
    with pytest.raises(SqlValidationError):
        validate_select(spark, sql, TABLES)


@given(name=IDENT)
@settings(**_SETTINGS)
def test_unknown_relations_never_pass(spark, name):
    if name in TABLES:
        return
    with pytest.raises(SqlValidationError):
        validate_select(spark, f"SELECT * FROM {name}", TABLES)


@given(
    col=st.sampled_from(["created_at", "updated_at", "dropped", "insertion"]),
    table=st.sampled_from(sorted(TABLES)),
)
@settings(**_SETTINGS)
def test_blocklist_words_as_identifiers_pass(spark, col, table):
    """The reference's substring check falsely rejects these
    (core/ai_query_generator.py:301-302); the plan validator must not."""
    out = validate_select(spark, f"SELECT {col} FROM {table}", TABLES)
    assert col in out.sql


@given(tail=st.text(alphabet="';-\n) ", max_size=12))
@settings(**_SETTINGS)
def test_statement_smuggling_is_never_executable(spark, tail):
    """Injection shape: a DROP appended after a legitimate SELECT behind
    randomized separator noise. Outcome must be one of exactly two safe
    states: rejected outright (multi-statement / trailing garbage), or
    accepted *because the noise syntactically neutralized the payload*
    (e.g. a ``--`` turns it into a comment) — in which case the accepted
    text must itself re-validate as a pure allowlisted query, i.e. the
    DROP can never reach execution."""
    sql = f"SELECT name FROM employees{tail}; DROP TABLE employees"
    try:
        out = validate_select(spark, sql, TABLES)
    except SqlValidationError:
        return
    re_out = validate_select(spark, out.sql, TABLES)
    assert re_out.tables <= {t.lower() for t in TABLES}


#: Fragments that print forged node lines in a plan's text form.
FORGE_TEXT = st.lists(
    st.sampled_from(
        ["\n", "\r", "[", "]", ",", "'", "`", " ", "+- ", ":- ", "x",
         "CTE", "UnresolvedRelation", "secret", "employees"]
    ),
    min_size=1,
    max_size=12,
).map("".join)


def _literal(text: str) -> str:
    return "'" + text.replace("'", "\\'") + "'"


def _quoted(text: str) -> str:
    return "`" + text.replace("`", "``") + "`"


@given(lit=FORGE_TEXT, alias=FORGE_TEXT, ident=FORGE_TEXT, sub=st.booleans())
@settings(**{**_SETTINGS, "max_examples": 100})
def test_forged_plan_text_never_admits_or_excuses(spark, lit, alias, ident, sub):
    """Text that looks like plan nodes, inside a literal, a column alias or
    a quoted table alias, neither admits a non-allowlisted relation nor
    stops an allowlisted SELECT from validating. (Three backticks in a row
    are a markdown fence, stripped before parsing, so they are not drawn.)"""
    where = f"WHERE {_literal(lit)} <> ''"
    secret = f"SELECT name AS {_quoted(alias)} FROM secret AS {_quoted(ident)} {where}"
    if sub:
        secret = f"SELECT * FROM employees WHERE name IN (SELECT * FROM ({secret}) t)"
    allowed = f"SELECT name AS {_quoted(alias)} FROM employees AS {_quoted(ident)} {where}"
    assume("```" not in secret + allowed)
    with pytest.raises(SqlValidationError):
        validate_select(spark, secret, TABLES)
    assert validate_select(spark, allowed, TABLES).tables == {"employees"}
