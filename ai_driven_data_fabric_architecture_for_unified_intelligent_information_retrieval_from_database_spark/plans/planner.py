"""Deterministic NL->SQL planner — a rule-for-rule port of the reference's
fallback generator (``core/ai_query_generator.py:178-281``), emitting
Spark-SQL-compatible text.

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
class PlannedQuery:
    sql: str
    branch: str
    intent: Intent
    table: str = "employees"


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


def plan(user_query: str, table: str = "employees") -> PlannedQuery:
    """N3 — the ordered rule cascade (``:216-281``), emitting Spark SQL.

    Branch order is semantic: count -> list-all -> department -> salary ->
    date -> name -> email -> position -> default. Reproduced exactly,
    including the limits (100/50/20) and orderings.
    """
    query_lower = user_query.lower()
    intent = Intent.detect(query_lower)
    select_clause = _select_clause(intent, query_lower)
    mk = lambda sql, branch: PlannedQuery(sql=sql, branch=branch, intent=intent, table=table)

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
    """The single-table planning paths: the optional LLM provider and the
    deterministic cascade. ``DataFabricEngine._plan`` orders them (mirrors
    ``:379-393``), with the star rules in between."""

    table: str = "employees"
    llm_provider: LLMProvider | None = None
    schema_text: str = field(default="")

    def plan_llm(self, user_query: str) -> "PlannedQuery | None":
        """The N4 path alone: None when no provider is configured or it
        returns nothing (caller falls through to star rules / cascade)."""
        if self.llm_provider is None:
            return None
        generated = self.llm_provider(user_query, self.schema_text)
        if not generated:
            return None
        intent = Intent.detect(user_query.lower())
        return PlannedQuery(
            sql=generated.strip().rstrip(";"),
            branch="llm",
            intent=intent,
            table=self.table,
        )

    def plan_cascade(self, user_query: str) -> PlannedQuery:
        """The deterministic N3 cascade alone."""
        return plan(user_query, table=self.table)
