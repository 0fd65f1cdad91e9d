"""Deterministic NL->SQL planner — a rule-for-rule port of the reference's
fallback generator (``core/ai_query_generator.py:178-281``), emitting
Spark-SQL-compatible text — and NL plan selection: :class:`Plan` is the one
planned-query type every planner returns, and :meth:`Planner.plan` tries
the LLM provider, the star rules and this cascade in that order.

This *is* the reference's actual engine: six keyword intent detectors (N1,
``:183-188``), intent-driven column selection (N2, ``:190-214``), and an
ordered rule cascade (N3, ``:216-281``) with the same hardcoded department
list, limits, orderings and defaults. Differences, documented per SURVEY.md
section 7.2:

- date arithmetic pins ``add_months(current_date(), -12)`` as the meaning of
  ``CURRENT_DATE - INTERVAL '1 year'`` (leap-year-stable, same in DuckDB);
- a ``today`` override makes date-relative branches testable;
- the LLM path (N4) is a pluggable provider, off by default — when absent,
  this deterministic cascade is the whole contract, exactly like the
  reference running without an API key;
- the reference's date branches also reference a ``hire_date`` column
  (``:256-257,263-265``) that does not exist in its own ``employees`` model
  (``core/models.py:13-19``) — those queries fail at execution there. We
  emit only ``date_of_join`` (the column that exists), which is the behavior
  a working system must have; deviation recorded here.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

#: The reference's hardcoded department list (core/ai_query_generator.py:219,234).
DEPARTMENTS = ["IT", "HR", "Sales", "Marketing", "Finance", "Engineering", "Operations"]

SALARY_WORDS = ["salary", "pay", "wage", "earning", "income"]
DEPARTMENT_WORDS = ["department", "dept"]
POSITION_WORDS = ["position", "job", "title", "role"]
DATE_WORDS = ["joined", "hired", "date", "when"]
DETAILS_WORDS = ["details", "information", "everything", "all details"]
COUNT_WORDS = ["count", "how many", "number of"]
COMPARATIVE_WORDS = ["greater", "more than", "above", "over"]


@dataclass
class Intent:
    """N1 — the six boolean keyword-group detectors (``:183-188``)."""

    salary: bool
    department: bool
    position: bool
    date: bool
    details: bool
    count: bool

    @classmethod
    def detect(cls, query_lower: str) -> "Intent":
        has = lambda words: any(w in query_lower for w in words)
        return cls(
            salary=has(SALARY_WORDS),
            department=has(DEPARTMENT_WORDS),
            position=has(POSITION_WORDS),
            date=has(DATE_WORDS),
            details=has(DETAILS_WORDS),
            count=has(COUNT_WORDS),
        )


@dataclass
class Plan:
    """One planned question, whichever planner produced it."""

    sql: str
    #: the rule that answered (``llm`` for the LLM path)
    branch: str
    #: the views it reads; empty for an LLM plan, whose tables only
    #: validation knows
    tables: tuple[str, ...]
    #: When set, the plan routes to a library OPERATOR instead of executing
    #: ``sql`` — for questions whose Spark-side answer is an algorithm SQL
    #: cannot express scalably (MinHash+LSH near-dup, ANN). ``sql`` then
    #: holds the REFERENCE semantics of the question (the quadratic ground
    #: truth, DuckDB-runnable), which is what the engine reports for
    #: transparency and what the driver gate runs as the oracle — so the
    #: NL->operator dispatch is differentially verified against the exact
    #: SQL meaning of the question, the strongest contract available for a
    #: non-SQL route. Dispatch lives in operators/nl.py::run_nl_operator.
    operator: str | None = None
    operator_args: tuple = ()

    @property
    def key(self) -> tuple:
        """The engine's SQL-tier cache key: the SQL string, or an operator
        route's name and args (its ``sql`` is only the reference text it
        reports)."""
        if self.operator:
            return ("operator", self.operator, tuple(self.operator_args))
        return ("sql", self.sql)


# After Plan: star_planner builds Plans. Planner.plan calls star rules
# through this module attribute, so a wrapper patched onto it is seen.
from . import star_planner  # noqa: E402


def _select_clause(intent: Intent, query_lower: str) -> str:
    """N2 — column selection (``:190-214``): always ``name``, plus columns
    per detected intent; ``*`` for details; ``COUNT(*)`` for counts."""
    columns = ["name"]
    if intent.department or "department" in query_lower:
        if "department" not in columns:
            columns.append("department")
    if intent.salary and "salary" not in columns:
        columns.append("salary")
    if intent.position and "position" not in columns:
        columns.append("position")
    if intent.date and "date_of_join" not in columns:
        columns.append("date_of_join")

    if intent.details:
        return "*"
    if intent.count:
        return "COUNT(*) as count"
    return ", ".join(columns)


def plan(user_query: str, table: str = "employees") -> Plan:
    """N3 — the ordered rule cascade (``:216-281``), emitting Spark SQL.

    Branch order is semantic: count -> list-all -> department -> salary ->
    date -> name -> email -> position -> default. Reproduced exactly,
    including the limits (100/50/20) and orderings.
    """
    query_lower = user_query.lower()
    intent = Intent.detect(query_lower)
    select_clause = _select_clause(intent, query_lower)
    mk = lambda sql, branch: Plan(sql=sql, branch=branch, tables=(table,))

    # --- count branches (:217-226)
    if intent.count:
        if "department" in query_lower:
            for dept in DEPARTMENTS:
                if dept.lower() in query_lower:
                    return mk(
                        f"SELECT COUNT(*) as count FROM {table} "
                        f"WHERE LOWER(department) LIKE '%{dept.lower()}%'",
                        "count_department_match",
                    )
            return mk(
                f"SELECT department, COUNT(*) as count FROM {table} "
                "WHERE department IS NOT NULL GROUP BY department "
                "ORDER BY count DESC",
                "count_by_department",
            )
        return mk(
            f"SELECT COUNT(*) as total_employees FROM {table}", "count_total"
        )

    # --- list-all branch (:229-230)
    if (
        any(p in query_lower for p in ["all employees", "show employees", "list employees"])
        and not intent.details
    ):
        return mk(
            f"SELECT {select_clause} FROM {table} ORDER BY name LIMIT 100",
            "list_all",
        )

    # --- department match branch (:233-237)
    if "department" in query_lower:
        for dept in DEPARTMENTS:
            if dept.lower() in query_lower:
                return mk(
                    f"SELECT {select_clause} FROM {table} "
                    f"WHERE LOWER(department) LIKE '%{dept.lower()}%' "
                    "ORDER BY name LIMIT 50",
                    "department_match",
                )

    # --- salary threshold branch (:240-246)
    if intent.salary and any(op in query_lower for op in COMPARATIVE_WORDS):
        numbers = re.findall(r"\d+", query_lower)
        if numbers:
            amount = numbers[0]
            return mk(
                f"SELECT {select_clause} FROM {table} WHERE salary > {amount} "
                "ORDER BY salary DESC LIMIT 50",
                "salary_threshold",
            )

    # --- date branches (:249-266)
    if any(p in query_lower for p in ["joined", "hired", "recent", "new"]):
        if not intent.date:
            select_clause = "name, department, date_of_join"
        if "last year" in query_lower or "2023" in query_lower:
            return mk(
                f"SELECT {select_clause} FROM {table} "
                "WHERE date_of_join >= add_months(current_date(), -12) "
                "ORDER BY date_of_join DESC LIMIT 50",
                "joined_last_year",
            )
        if "this year" in query_lower or "2024" in query_lower:
            return mk(
                f"SELECT {select_clause} FROM {table} "
                "WHERE EXTRACT(YEAR FROM date_of_join) = EXTRACT(YEAR FROM current_date()) "
                "ORDER BY date_of_join DESC LIMIT 50",
                "joined_this_year",
            )

    # --- name search branch (:269-270)
    if "name" in query_lower and any(
        w in query_lower for w in ["contains", "like", "starts", "ends"]
    ):
        return mk(
            f"SELECT name FROM {table} WHERE name IS NOT NULL ORDER BY name LIMIT 100",
            "name_search",
        )

    # --- email branch (:273-274)
    if "email" in query_lower:
        return mk(
            f"SELECT name, email, department FROM {table} "
            "WHERE email IS NOT NULL ORDER BY name LIMIT 100",
            "email_search",
        )

    # --- position branch (:277-278)
    if intent.position:
        return mk(
            f"SELECT name, position, department FROM {table} "
            "WHERE position IS NOT NULL ORDER BY name LIMIT 100",
            "position_search",
        )

    # --- default (:281)
    return mk(f"SELECT name FROM {table} ORDER BY name LIMIT 20", "default_names")


#: Optional LLM provider type (N4): (question, schema_text) -> SQL or None.
LLMProvider = Callable[[str, str], "str | None"]


@dataclass
class Planner:
    """NL plan selection: the optional LLM provider, the star rules and
    the deterministic cascade, tried in that order by :meth:`plan`."""

    #: the engine's allowlist; star rules answer only over these views
    tables: frozenset[str]
    table: str = "employees"
    llm_provider: LLMProvider | None = None
    schema_text: str = field(default="")

    def plan(self, user_query: str) -> Plan:
        """Precedence mirrors the reference lifecycle (:379-393): the
        configured LLM path first, then deterministic rules — star rules
        (multi-table, inert unless all their tables are allowlisted) ahead
        of the single-table cascade, which always answers."""
        planned = self.plan_llm(user_query)
        if planned is None:
            planned = star_planner.plan_star(user_query)
            if planned is None or not self.tables.issuperset(planned.tables):
                planned = self.plan_cascade(user_query)
        return planned

    def plan_llm(self, user_query: str) -> Plan | None:
        """The N4 path alone: None when no provider is configured or it
        returns nothing (caller falls through to star rules / cascade)."""
        if self.llm_provider is None:
            return None
        generated = self.llm_provider(user_query, self.schema_text)
        if not generated:
            return None
        return Plan(sql=generated.strip().rstrip(";"), branch="llm", tables=())

    def plan_cascade(self, user_query: str) -> Plan:
        """The deterministic N3 cascade alone."""
        return plan(user_query, table=self.table)
