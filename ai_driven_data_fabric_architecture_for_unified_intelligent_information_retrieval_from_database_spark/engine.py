"""The engine lifecycle: ``process(query)`` — cache probe, NL->SQL planning,
validation, Spark execution, serialization, logging — reproducing the
reference's end-to-end path (``core/views.py:14-63`` +
``core/ai_query_generator.py:379-445``) with Spark as the executor.

Response shape matches ``core/ai_query_generator.py:410-417`` +
``core/views.py:48``: ``{success, original_query, sql_query, data, columns,
row_count, cached}`` (plus ``error`` on failure).

Deviations (SURVEY.md 7.2):

- schema introspection is cached catalog metadata instead of per-request
  ``information_schema`` queries;
- BOTH planner paths are validated (the reference trusts its fallback
  unvalidated, ``:391-407``), and validation is plan-based, not
  substring-based;
- the query-log sink is written in batches off the request thread
  (``sources/connectors.py``), so a crash without
  :meth:`DataFabricEngine.close` loses at most ~``LOG_FLUSH_SECONDS`` of log
  rows;
- SQL tier: behind the reference's question-keyed result cache sits a
  second tier keyed on the planned query (the SQL string, or an operator
  route's name and args), so questions that plan to one query share one
  Spark execution. An entry exists only after its SQL passed validation
  under this engine's allowlist and ran, so a hit skips validation and
  starts no Spark job. Skipping is sound only because validation is
  parse-only: its verdict depends on nothing but the SQL text and the
  engine's fixed allowlist. Both tiers drop an entry whose input files
  changed since it was computed.
"""

from __future__ import annotations

import hashlib
import threading
import time
from collections import deque
from dataclasses import astuple, dataclass, field
from datetime import datetime, timezone
from typing import Any, NamedTuple

from pyspark.sql import SparkSession

from .cache import CACHE_MAX_ENTRIES, CACHE_TTL_SECONDS, TTLCache  # noqa: F401
from .functions.serialization import serialize_rows
from .plans.planner import Plan, Planner
from .plans.validator import validate_select
from .sources.catalog import file_stat, input_signature, inspect_table
from .sources.connectors import QueryLogBuffer

#: Hard cap on rows materialized at the driver per query. The deterministic
#: cascade always emits a LIMIT, but the LLM path executes *validated
#: arbitrary SELECTs* and the validator (correctly) does not require one —
#: without a cap, a validated ``SELECT * FROM lineitem`` is an unbounded
#: driver collect. Engine-side twin of the reference's prompt rule 9
#: ("limit results to reasonable numbers",
#: core/ai_query_generator.py:110).
MAX_RESULT_ROWS = 10_000

#: In-memory query-log bound: a long-lived service keeps the newest entries;
#: the durable record is the parquet sink.
QUERY_LOG_MAX_ENTRIES = 1000


@dataclass
class QueryLogEntry:
    """Schema mirror of the reference's query_logs sink (core/models.py:58-72);
    fields are in ``QUERY_LOG_SCHEMA`` order. ``timestamp`` is the request
    time, so a batched flush keeps it."""

    original_query: str
    generated_sql: str
    success: bool
    error_message: str | None
    execution_time: float
    result_count: int
    cached: bool
    timestamp: datetime = field(default_factory=lambda: datetime.now(timezone.utc))


class CacheEntry(NamedTuple):
    """A successful answer in the result cache. Both tiers hold the same
    entry, or copies whose payload differs only in ``original_query``, so
    they share one ``data``/``columns`` list."""

    payload: dict[str, Any]
    #: ``catalog.input_signature`` of the files it read
    inputs: tuple[tuple[str, tuple[int, int] | None], ...]
    #: ``time.time()`` of the request that computed it; the TTL counts from here
    created: float


class DataFabricEngine:
    """Library-first engine facade over a SparkSession.

    ``tables``: allowlist of queryable temp views (the validator enforces
    it, generalizing the reference's single-table rule to multi-table).
    """

    def __init__(
        self,
        spark: SparkSession,
        tables: set[str] | None = None,
        default_table: str = "employees",
        llm_provider=None,
        log_sink_path: str | None = None,
        max_result_rows: int = MAX_RESULT_ROWS,
    ):
        self.spark = spark
        self.tables = frozenset(tables or {default_table})
        if llm_provider is None:
            # Reference posture (core/ai_query_generator.py:128-131): the
            # LLM path turns on iff an API key is configured; otherwise the
            # deterministic cascade handles everything.
            from .plans.llm_provider import from_env

            llm_provider = from_env(table=default_table)
        elif llm_provider is False:
            # Explicit off: never read the environment, never make network
            # calls — distinct from None="from env", so offline/test runs
            # can't be flipped live by a leaked OPENROUTER_API_KEY.
            llm_provider = None
        self.planner = Planner(tables=self.tables, table=default_table,
                               llm_provider=llm_provider,
                               schema_text=self._schema_text(default_table))
        #: Result cache tiers: question text -> :class:`CacheEntry`, and
        #: planned query (:attr:`Plan.key`) -> :class:`CacheEntry`.
        self.cache = TTLCache()
        self.sql_cache = TTLCache()
        self._stats = dict.fromkeys(("question_hits", "sql_hits", "misses", "stale"), 0)
        self._stats_lock = threading.Lock()
        self.query_log: deque[QueryLogEntry] = deque(maxlen=QUERY_LOG_MAX_ENTRIES)
        self.log_sink_path = log_sink_path
        self.log_buffer = QueryLogBuffer(spark, log_sink_path) if log_sink_path else None
        self.max_result_rows = max_result_rows

    # -- schema context (replaces per-request introspection, SURVEY 7.2) ----
    def _schema_text(self, table: str) -> str:
        try:
            df = self.spark.table(table)
        except Exception:
            return ""
        lines = [f"Database Schema for '{table}' table:"]
        for f_ in df.schema.fields:
            lines.append(f"- {f_.name} ({f_.dataType.simpleString().upper()})")
        return "\n".join(lines)

    # -- main lifecycle (core/views.py:14-63 + generator :379-445) ----------
    def process(self, user_query: str) -> dict[str, Any]:
        user_query = (user_query or "").strip()
        if not user_query:
            return {"success": False, "error": "Query cannot be empty"}

        cache_key = "ai_query_" + hashlib.md5(user_query.encode()).hexdigest()
        hit = self._fresh(self.cache, cache_key)
        if hit is not None:
            self._count("question_hits")
            return self._hit(user_query, hit.payload)

        start = time.time()
        sql_query: str | None = None
        outcome = "misses"
        try:
            planned = self.planner.plan(user_query)
            sql_query = planned.sql
            query_key = planned.key
            hit = self._fresh(self.sql_cache, query_key)
            if hit is not None:
                outcome = "sql_hits"
                payload = {**hit.payload, "original_query": user_query}
                # expires with the SQL-tier entry: an answer never outlives
                # the TTL counted from its execution
                self.cache.set(cache_key, hit._replace(payload=payload), now=hit.created)
                return self._hit(user_query, payload)
            columns, data, truncated, inputs = self._execute_df(self._dataframe(planned))
        except Exception as exc:  # mirrors the catch-all envelope :432-445
            self._log(user_query, sql_query, False, str(exc), time.time() - start, 0)
            return {
                "success": False,
                "error": f"Query processing failed: {exc}",
                "original_query": user_query,
                "sql_query": sql_query,
                "data": [],
                "columns": [],
                "row_count": 0,
                "cached": False,
            }
        finally:
            self._count(outcome)
        response: dict[str, Any] = {
            "success": True,
            "original_query": user_query,
            "sql_query": sql_query,
            "data": data,
            "columns": columns,
            "row_count": len(data),
            "truncated": truncated,
        }
        self._log(user_query, sql_query, True, None, time.time() - start, len(data))
        entry = CacheEntry(response, inputs, start)
        self.cache.set(cache_key, entry, now=start)
        self.sql_cache.set(query_key, entry, now=start)
        return {**response, "cached": False}

    # -- result cache tiers ---------------------------------------------------
    def _fresh(self, tier: TTLCache, key) -> CacheEntry | None:
        """The tier's entry for ``key``, unless one of the files it read has
        changed since (then it counts as ``stale`` and the caller misses).
        Only ``os.stat`` calls: no Spark job, no JVM call."""
        entry = tier.get(key)
        if entry is None:
            return None
        if any(file_stat(path) != stat for path, stat in entry.inputs):
            self._count("stale")
            return None
        return entry

    def _hit(self, user_query: str, payload: dict) -> dict[str, Any]:
        self._log(user_query, payload.get("sql_query"), True, None, 0.0,
                  payload.get("row_count", 0), cached=True)
        return {**payload, "cached": True}

    def _count(self, name: str) -> None:
        with self._stats_lock:
            self._stats[name] += 1

    @property
    def cache_stats(self) -> dict[str, int]:
        """Requests answered by the question tier (``question_hits``) or the
        SQL tier (``sql_hits``), requests that missed both (``misses``,
        failures included), and entries dropped because an input file had
        changed (``stale``)."""
        with self._stats_lock:
            return dict(self._stats)

    def _dataframe(self, planned: Plan):
        """The planned query as a DataFrame: validated SQL through Catalyst,
        or a library operator for operator-routed star plans."""
        if planned.operator:
            # LSH near-dup, ANN: algorithms SQL cannot express scalably.
            # planned.sql holds the question's reference SQL semantics,
            # reported for transparency (and run as the differential
            # oracle by the parity suite). SQL validation does not apply —
            # no SQL executes; the operator reads only the plan's tables,
            # which the allowlist gate in Planner.plan checked.
            from .operators.nl import run_nl_operator

            return run_nl_operator(
                self.spark,
                {n: self.spark.table(n) for n in planned.tables},
                planned.operator,
                planned.operator_args,
            )
        validated = validate_select(self.spark, planned.sql, self.tables)
        return self.spark.sql(validated.sql)

    def _execute_df(self, df) -> tuple[list[str], list[dict], bool, tuple]:
        """Collect + serialize under a HARD cap of ``max_result_rows``: the
        deterministic cascade emits its own LIMITs, but the LLM path runs
        validated arbitrary SELECTs, and an unbounded collect there runs
        out of memory at scale. One sentinel row past the cap distinguishes
        "exactly cap rows" from truncation. Returns ``(columns, rows,
        truncated, inputs)`` with ``inputs`` the input signature of ``df``;
        failures raise."""
        cap = self.max_result_rows
        columns = df.columns
        limited = df.limit(cap + 1)
        # Stat the inputs before the collect, so a file rewritten while it
        # runs fails the next hit's check. Same DataFrame: the collect
        # reuses the plan inputFiles() optimized.
        inputs = input_signature(limited)
        rows = [tuple(r) for r in limited.collect()]
        return columns, serialize_rows(columns, rows[:cap]), len(rows) > cap, inputs

    # -- logging sink (core/ai_query_generator.py:364-377) ------------------
    def _log(self, q, sql, success, err, secs, n, cached=False) -> None:
        entry = QueryLogEntry(
            original_query=q, generated_sql=sql or "", success=success,
            error_message=err, execution_time=secs, result_count=n, cached=cached,
        )
        self.query_log.append(entry)
        if self.log_buffer is not None:
            self.log_buffer.add(astuple(entry))  # flushed off the request thread

    def flush_log(self) -> None:
        """Write the buffered log rows to the sink now, as one file."""
        if self.log_buffer is not None:
            self.log_buffer.flush()

    def close(self) -> None:
        """Drain the log buffer and stop its flusher. Idempotent, and safe
        after ``spark.stop()``."""
        if self.log_buffer is not None:
            self.log_buffer.close()

    # -- metadata endpoints (core/views.py:65-121) ---------------------------
    def examples(self) -> dict[str, Any]:
        return {"success": True, "examples": EXAMPLE_QUERIES}

    def health(self) -> dict[str, Any]:
        return {
            "status": "healthy",
            "service": "DataFabric Spark Query Engine",
            "version": "1.0.0",
        }

    def info(self) -> dict[str, Any]:
        return {
            "name": "DataFabric Spark Query Engine",
            "version": "1.0.0",
            "description": (
                "Convert natural language queries to Spark SQL and execute "
                "them on the session catalog"
            ),
            "supported_queries": [
                "Employee listings and filtering",
                "Department-based queries",
                "Salary-based filtering",
                "Date-based filtering (joining dates)",
                "Aggregation queries (count, average)",
                "Sorting and limiting results",
            ],
        }

    def inspect(self, table: str, sample_size: int = 5) -> dict[str, Any]:
        return inspect_table(self.spark, table, sample_size)

    def explain(self, user_query: str) -> dict[str, Any]:
        """Planning transparency: the SQL the NL path would run, which rule
        produced it, and Spark's physical plan — without executing. The
        introspection counterpart of :meth:`process` (the reference exposes
        only the final SQL in its response; at 100 TB you want to read the
        plan before paying for the query)."""
        user_query = (user_query or "").strip()
        if not user_query:
            return {"success": False, "error": "Query cannot be empty"}
        try:
            planned = self.planner.plan(user_query)
            df = self._dataframe(planned)
            physical = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            return {
                "success": True,
                "original_query": user_query,
                "sql_query": planned.sql,
                "branch": planned.branch,
                "physical_plan": physical,
            }
        except Exception as exc:
            return {"success": False, "error": str(exc)}


#: The reference's canonical 15-question corpus (core/views.py:68-84) — the
#: de-facto acceptance set for the planner.
EXAMPLE_QUERIES = [
    "Show me all employees in the company",
    "Give me the list of all employees who joined last year",
    "How many employees work in the IT department?",
    "Show me employees with salary greater than 50000",
    "List all employees who joined this year",
    "Find employees in the Sales department",
    "Show me the highest paid employees",
    "Count of employees in each department",
    "Employees who joined in 2023",
    "Show me all employees with their salaries sorted by name",
    "Find all software engineers",
    "Show me employees earning between 40000 and 80000",
    "List employees who have been with company for more than 5 years",
    "Show me the average salary by department",
    "Find employees with Gmail addresses",
]
