"""Plan-level SQL validation — the sound replacement for the reference's
substring blocklist (``core/ai_query_generator.py:283-313``).

The reference rejects any SQL containing ``drop``/``create``/... *as a
substring anywhere* (``:301-302`` — which falsely rejects a column named
``updated_at``) and requires the literal substring ``employees``
(``:305-307``). Per SURVEY.md section 4.2 we instead parse the statement
with Spark's own SQL parser and walk the parsed, unresolved plan as JSON
(``LogicalPlan.toJSON``: each tree is a pre-order list of nodes with
``class`` and ``num-children``). The printed ``treeString`` is never read:
a newline inside a literal, an alias or a quoted identifier prints a
forged node line there, while in JSON it is only an escaped string.

- Every plan node must be a known pure-query node (allowlist — an
  unrecognized or future command node is rejected, not silently admitted).
- Every relation must be allowlisted by its full multipart name, or be a
  single-part plain identifier naming a CTE in scope. Scope is exact: the
  query under a ``WITH`` sees all of its names; CTE body *i* sees the names
  defined before it, plus its own name only under ``WITH RECURSIVE``
  (``allowRecursion``). Names in scope are inherited by nested queries,
  including subquery expressions (their plans sit under a ``plan`` field).
  Subquery aliases do NOT excuse a relation: ``FROM (SELECT ...) x`` never
  produces an ``UnresolvedRelation [x]``, so an alias that shares a name
  with a non-allowlisted table must not legitimize reading that table.
- The walk fails closed: a missing or ill-typed field, a node left over in
  a pre-order list, or any ``LogicalPlan`` node in the JSON that the walk
  did not reach (a plan nested where the walk does not look) rejects the
  statement.

Validation is parse-only: its verdict depends on nothing but the SQL text
and the caller's allowlist, never on the catalog or session state.

This is strictly stronger (catches ``SELECT``-prefixed injections the
substring check misses) and strictly fairer (admits legitimate text that
merely contains a blocklisted word). Markdown-fence stripping and the
must-start-with-SELECT gate are preserved from the reference.
"""

from __future__ import annotations

import json
import math
import re
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession

from ..cache import TTLCache


class SqlValidationError(ValueError):
    pass


#: Logical-plan node class names that can appear in the parsed (unresolved)
#: tree of a pure query. Anything else — DDL/DML/command nodes, SHOW/DESCRIBE,
#: and node types introduced by future Spark versions — is rejected by name.
#: (Inverted from a denylist: a denylist admits what it forgot to name.)
_ALLOWED_NODES = frozenset(
    {
        # leaf relations / row generators
        "UnresolvedRelation",
        "UnresolvedInlineTable",
        "UnresolvedTableValuedFunction",
        "OneRowRelation",
        "LocalRelation",
        "Range",
        # projection / predicates / aggregation
        "Project",
        "Filter",
        "Aggregate",
        "UnresolvedHaving",
        # ordering / limiting
        "Sort",
        "GlobalLimit",
        "LocalLimit",
        "Offset",
        "Tail",
        # duplicate elimination & set operations
        "Distinct",
        "Deduplicate",
        "Union",
        "Intersect",
        "Except",
        # joins & scoping
        "Join",
        "SubqueryAlias",
        "UnresolvedSubqueryColumnAliases",
        # common table expressions
        "UnresolvedWith",
        # windows / generators / reshaping
        "Window",
        "WithWindowDefinition",
        "Generate",
        "Pivot",
        "Unpivot",
        # sampling / hints / distribution (pure — affect physical layout only)
        "Sample",
        "UnresolvedHint",
        "Repartition",
        "RepartitionByExpression",
    }
)


def strip_markdown_fences(sql: str) -> str:
    """Reference behavior ``:288-291``: remove ```sql fences from LLM output."""
    sql = re.sub(r"```sql\n?", "", sql)
    sql = re.sub(r"```\n?", "", sql)
    return sql.strip()


@dataclass
class ValidatedSql:
    sql: str
    tables: set[str]


#: JVM class name -> whether it is a ``LogicalPlan``. The set of class
#: names is bounded by the classpath.
_PLAN_CLASSES = TTLCache(math.inf, 4096)


def _is_plan_class(spark: SparkSession, name: str) -> bool:
    """Whether the JVM class ``name`` is a ``LogicalPlan``."""
    hit = _PLAN_CLASSES.get(name)
    if hit is None:
        jclass = spark._jvm.java.lang.Class
        plan = jclass.forName("org.apache.spark.sql.catalyst.plans.logical.LogicalPlan")
        try:
            hit = plan.isAssignableFrom(jclass.forName(name, False, plan.getClassLoader()))
        except Py4JError:
            return True  # a class the JVM cannot load counts as a plan node: fail closed
        _PLAN_CLASSES.set(name, hit)
    return hit


def _subquery_plans(value: Any) -> Iterator[list]:
    """The ``plan`` of every subquery expression (EXISTS, IN, scalar, ...)
    under ``value``, without descending into those plans or into CTE
    bodies (which :meth:`_PlanWalk.node` walks in their own scope)."""
    if isinstance(value, dict):
        for k, v in value.items():
            if k == "plan":
                yield v
            elif k != "cteRelations":
                yield from _subquery_plans(v)
    elif isinstance(value, list):
        for v in value:
            yield from _subquery_plans(v)


class _PlanWalk:
    """One pass over a parsed plan's JSON: checks every node's class and
    every relation, and counts the nodes it visited."""

    def __init__(self, allowed: set[str], sql: str | None):
        #: each allowlist entry as the parts its dots separate
        self.allowed = {tuple(name.split(".")) for name in allowed}
        self.sql = sql
        self.tables: set[str] = set()
        self.visited = 0
        self.saw_cte = False

    def plan(self, nodes: list, scope: frozenset[str]) -> None:
        """Walk one pre-order node list, which must hold exactly one tree."""
        if self.node(nodes, 0, scope) != len(nodes):
            raise SqlValidationError("plan JSON has nodes outside its tree")

    def node(self, nodes: list, pos: int, scope: frozenset[str]) -> int:
        """Walk the subtree rooted at ``nodes[pos]``; returns the position
        after it. ``scope`` holds the CTE names visible here."""
        node = nodes[pos]
        name = node["class"].rsplit(".", 1)[-1]
        if name not in _ALLOWED_NODES:
            raise SqlValidationError(f"non-query operation in plan: {name}")
        self.visited += 1
        inner = scope
        if name == "UnresolvedRelation":
            self.relation(node["multipartIdentifier"], scope)
        elif name == "UnresolvedWith":
            self.saw_cte = True
            for cte in node["cteRelations"]:
                own = {cte["_1"].lower()}
                self.plan(cte["_2"], inner | (own if node["allowRecursion"] is True else set()))
                inner = inner | own
        for sub in _subquery_plans(node):
            self.plan(sub, scope)
        pos += 1
        for _ in range(node["num-children"]):
            pos = self.node(nodes, pos, inner)
        return pos

    def relation(self, ident: str, scope: frozenset[str]) -> None:
        # Spark prints the multipart name as "[part, part, ...]": [table],
        # [db, table], or a file source like [parquet, /some/path].
        # Matching only the last part would let `db.employees` or
        # parquet.`/x` impersonate an allowlisted `employees`, so a
        # multipart name must be allowlisted in full, and a single-part
        # name must be a plain identifier (as every CTE name is). Parts
        # are compared, not dotted names: a quoted `a.b` is one part. The
        # printed string is ambiguous for a quoted part holding ", ": the
        # one part `a, b` prints like a.b.
        if not (ident.startswith("[") and ident.endswith("]")):
            raise SqlValidationError(f"unrecognized relation name: {ident!r}")
        printed = ident[1:-1].split(", ")
        parts = tuple(p.lower() for p in printed)
        full = ".".join(parts)
        if parts in self.allowed:
            if len(parts) > 1 and self.may_join(printed):
                raise SqlValidationError(f"ambiguous multipart relation name: {ident!r}")
            self.tables.add(full)
        elif len(parts) > 1:
            raise SqlValidationError(f"multipart relation name not allowlisted: {full!r}")
        elif not re.fullmatch(r"[a-z_][a-z0-9_]*", full):
            raise SqlValidationError(f"relation name is not a plain identifier: {full!r}")
        elif full not in scope:
            raise SqlValidationError(f"references a non-allowlisted table: {full!r}")

    def may_join(self, printed: list[str]) -> bool:
        """Whether two adjacent printed parts may be one quoted part. Such a
        part is written as an opening quote (a backtick, or a double quote
        under ANSI identifiers) and its text with that quote doubled, so
        the SQL text holds the quote and the pair joined by ", " exactly.
        Without the text, fail closed."""
        if self.sql is None:
            return True
        return any(
            q + f"{a}, {b}".replace(q, q + q) in self.sql
            for q in '`"' for a, b in zip(printed, printed[1:])
        )


def _plan_tables(
    spark: SparkSession,
    plan_json: str,
    allowed_tables: set[str] | frozenset[str],
    sql: str | None = None,
) -> set[str]:
    """The allowlisted tables a parsed plan's JSON reads; raises
    :class:`SqlValidationError` unless the walk admits every node. ``sql``
    is the parsed text: without it a multipart name never matches a dotted
    allowlist entry."""
    objects: list[dict] = []  # every JSON object, in any position
    walk = _PlanWalk({t.lower() for t in allowed_tables}, sql)
    try:
        tree = json.loads(plan_json, object_hook=lambda o: objects.append(o) or o)
        walk.plan(tree, frozenset())
        plan_nodes = sum(_is_plan_class(spark, o["class"]) for o in objects if "class" in o)
    except (json.JSONDecodeError, KeyError, TypeError, AttributeError, IndexError,
            RecursionError) as exc:
        raise SqlValidationError(f"unexpected plan JSON: {exc!r}") from exc
    if plan_nodes != walk.visited:
        raise SqlValidationError("plan has a node the validator did not reach")
    if not walk.tables and not walk.saw_cte:
        raise SqlValidationError("query references no known table")
    return walk.tables


def validate_select(
    spark: SparkSession,
    sql: str,
    allowed_tables: set[str] | frozenset[str],
) -> ValidatedSql:
    """Parse ``sql`` and verify it is a pure SELECT over allowlisted tables.

    Raises :class:`SqlValidationError` otherwise. Returns the cleaned SQL
    (fences stripped, trailing semicolon removed — ``spark.sql`` wants a
    single statement).
    """
    if not sql or not sql.strip():
        raise SqlValidationError("empty SQL")
    cleaned = strip_markdown_fences(sql).rstrip(";").strip()

    # Reference gate :297: must start with SELECT (we also admit WITH/ CTEs
    # and parenthesized set-op queries, which are still pure queries).
    head = cleaned.lstrip("( \n\t").lower()
    if not (head.startswith("select") or head.startswith("with")):
        raise SqlValidationError("only SELECT statements are allowed")

    try:
        plan_json = spark._jsparkSession.sessionState().sqlParser().parsePlan(cleaned).toJSON()
    except Exception as exc:  # parse failure
        raise SqlValidationError(f"SQL does not parse: {exc}") from exc
    return ValidatedSql(sql=cleaned, tables=_plan_tables(spark, plan_json, allowed_tables, cleaned))
