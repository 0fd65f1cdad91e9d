"""Source/sink connectors beyond the parquet catalog.

Reference parity: the reference's only live connector is its PostgreSQL
connection (``datafabric/settings.py:77-86``), consumed through a raw
cursor; its only sink is the ``query_logs`` append
(``core/ai_query_generator.py:367-375``). Here:

- :func:`read_jdbc` builds the equivalent Spark JDBC reader (predicate
  pushdown + partitioned parallel reads — the distributed upgrade of the
  single cursor). No database exists in this environment, so it is
  config-construction only, exercised by tests for option wiring.
- File formats (csv/json/orc/parquet) come via :func:`read_table`, always
  schema-explicit (schema inference is a full extra pass at 100 TB).
- :func:`append_query_log` is the engine's one query-log writer (the
  durable form of its in-memory log), serialized across threads. The
  engine reaches it through :class:`QueryLogBuffer`: requests only append
  a row in memory, and a background flusher writes the buffered rows as
  one parquet file when ``LOG_FLUSH_ROWS`` are buffered or the oldest has
  waited ``LOG_FLUSH_SECONDS``.

  Deviation: the reference writes each row synchronously
  (``QueryLog.objects.create``, ``core/ai_query_generator.py:367-375``).
  Here a process that dies without ``DataFabricEngine.close()`` loses the
  rows of its last flush interval, at most ~``LOG_FLUSH_SECONDS`` of them.
  Each row keeps its request time in ``timestamp``, not its flush time.

Lakehouse formats (Delta/Iceberg/Hudi) need jars absent from this image;
:func:`read_table` raises a clear error for them rather than guessing.
"""

from __future__ import annotations

import logging
import math
import re
import threading
import time
from collections import deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_LAKEHOUSE = {"delta", "iceberg", "hudi"}
_logger = logging.getLogger(__name__)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    fetch_size: int = 10_000,
):
    """Configured JDBC reader (lazy — nothing connects until an action).

    With ``partition_column`` + bounds, Spark issues ``num_partitions``
    range-sliced queries in parallel; without them, a single-cursor read
    (exactly the reference's behavior — fine for dimension tables only).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
    )
    if driver is not None:
        reader = reader.option("driver", driver)
    if user is not None:
        reader = reader.option("user", user)
    if password is not None:
        reader = reader.option("password", password)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC reads need lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
    **options,
) -> DataFrame:
    """Schema-explicit reader over the file formats in this image."""
    fmt = fmt.lower()
    if fmt in _LAKEHOUSE:
        raise NotImplementedError(
            f"{fmt} requires its connector jars on the classpath (not in this "
            "environment); parquet/orc/csv/json are available"
        )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt in {"csv", "json"}:
        raise ValueError(
            f"{fmt} reads require an explicit schema (inference is a full "
            "extra data pass and type-unstable)"
        )
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.format(fmt).options(**options).load(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "error",
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    batch_size: int = 10_000,
) -> None:
    """JDBC table writer (the engine's live-DB sink twin of
    :func:`read_jdbc`). ``batchsize`` batches inserts — the distributed
    upgrade of the reference's row-at-a-time cursor writes."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    if driver is not None:
        writer = writer.option("driver", driver)
    if user is not None:
        writer = writer.option("user", user)
    if password is not None:
        writer = writer.option("password", password)
    writer.save()


# -- vendor introspection (reference parity: N8 over live databases) --------
#
# The reference probes table existence and structure per vendor
# (core/management/commands/inspect_table.py:30-98: information_schema for
# postgresql, SHOW TABLES/DESCRIBE for mysql, sqlite_master/PRAGMA for
# sqlite). Spark's JDBC source takes a single pushed-down SQL text, so each
# branch is expressed as the *query form* of the same probe (DESCRIBE and
# bare PRAGMA are not SELECTs and cannot ride a JDBC subquery; their
# information_schema / pragma_table_info() equivalents are).


def vendor_from_url(url: str) -> str:
    """JDBC vendor from the url scheme, e.g. jdbc:postgresql://... ."""
    parts = url.split(":")
    if len(parts) < 2 or parts[0] != "jdbc":
        raise ValueError(f"not a JDBC url: {url!r}")
    return parts[1].lower()


_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?$")


def _safe_identifier(table: str) -> str:
    """Reject table names that are not plain (optionally schema-qualified)
    identifiers — the probes interpolate them into SQL text, and quoting
    rules differ per vendor (backticks vs double quotes), so validation is
    the portable defense."""
    if not _IDENT_RE.fullmatch(table):
        raise ValueError(f"not a plain SQL identifier: {table!r}")
    return table


def _split_qualified(table: str) -> tuple[str | None, str]:
    """Split an (already validated) identifier into (schema, name).
    information_schema's ``table_name`` never contains a schema, so a
    dotted name must probe ``table_schema`` separately — comparing the
    full dotted string against ``table_name`` would report every
    qualified table as absent."""
    t = _safe_identifier(table).replace("'", "''").lower()
    if "." in t:
        schema, name = t.split(".", 1)
        return schema, name
    return None, t


def table_exists_sql(vendor: str, table: str) -> str:
    """The reference's per-vendor existence probe, as a SELECT.

    Matching is case-insensitive on the PROBE side (``LOWER(table_name) =
    '<lower>'``) rather than by lowercasing the stored literal — vendors
    with case-sensitive catalogs (MySQL on Linux, quoted Postgres
    identifiers) store mixed-case names that a lowercased equality would
    falsely report as absent. Schema-qualified names probe
    ``table_schema`` and ``table_name`` separately.
    """
    schema, t = _split_qualified(table)
    if vendor == "postgresql":
        extra = (
            f" AND LOWER(table_schema) = '{schema}'" if schema is not None else ""
        )
        return (
            "SELECT COUNT(*) AS n FROM information_schema.tables "
            f"WHERE LOWER(table_name) = '{t}'{extra}"
        )
    if vendor == "mysql":
        scope = (
            f"LOWER(table_schema) = '{schema}'"
            if schema is not None
            else "table_schema = DATABASE()"
        )
        return (
            "SELECT COUNT(*) AS n FROM information_schema.tables "
            f"WHERE LOWER(table_name) = '{t}' AND {scope}"
        )
    if vendor == "sqlite":
        if schema is not None:
            # sqlite_master is per-attached-database; a dotted probe would
            # silently never match, so refuse rather than mislead.
            raise ValueError(
                f"sqlite existence probe does not support qualified names: {table!r}"
            )
        return (
            "SELECT COUNT(*) AS n FROM sqlite_master "
            f"WHERE type='table' AND LOWER(name) = '{t}'"
        )
    raise ValueError(f"no existence probe for vendor {vendor!r}")


def table_columns_sql(vendor: str, table: str) -> str:
    """The reference's per-vendor structure probe, as a SELECT with
    normalized output columns (column_name, data_type, is_nullable).
    Case-insensitive on the probe side, like :func:`table_exists_sql`;
    schema-qualified names probe table_schema/table_name separately."""
    schema, t = _split_qualified(table)
    if vendor == "postgresql":
        extra = (
            f" AND LOWER(table_schema) = '{schema}'" if schema is not None else ""
        )
        return (
            "SELECT column_name, data_type, is_nullable "
            "FROM information_schema.columns "
            f"WHERE LOWER(table_name) = '{t}'{extra} ORDER BY ordinal_position"
        )
    if vendor == "mysql":  # DESCRIBE's queryable twin
        scope = (
            f"LOWER(table_schema) = '{schema}'"
            if schema is not None
            else "table_schema = DATABASE()"
        )
        return (
            "SELECT column_name, data_type, is_nullable "
            "FROM information_schema.columns "
            f"WHERE LOWER(table_name) = '{t}' AND {scope} "
            "ORDER BY ordinal_position"
        )
    if vendor == "sqlite":  # PRAGMA table_info's queryable twin; pragma
        # lookup is itself case-insensitive, keep the literal as given
        if schema is not None:
            raise ValueError(
                f"sqlite structure probe does not support qualified names: {table!r}"
            )
        return (
            "SELECT name AS column_name, type AS data_type, "
            "CASE WHEN \"notnull\" = 0 THEN 'YES' ELSE 'NO' END AS is_nullable "
            f"FROM pragma_table_info('{t}')"
        )
    raise ValueError(f"no structure probe for vendor {vendor!r}")


def inspect_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
) -> dict:
    """Live-DB introspection: structure + row count for ``table`` at ``url``
    (the JDBC twin of catalog.inspect_table).

    Known vendors run the reference's metadata probes; any other vendor
    (e.g. embedded Derby, used by the integration tests) falls back to the
    JDBC driver's own ResultSetMetaData via Spark's schema — the probe every
    compliant driver answers.
    """

    def _q(sql: str):
        reader = spark.read.format("jdbc").option("url", url).option("query", sql)
        if driver is not None:
            reader = reader.option("driver", driver)
        if user is not None:
            reader = reader.option("user", user)
        if password is not None:
            reader = reader.option("password", password)
        return reader.load()

    vendor = vendor_from_url(url)
    out: dict = {"table": table, "vendor": vendor}
    try:
        exists_probe = table_exists_sql(vendor, table)
    except ValueError:
        exists_probe = None

    if exists_probe is not None:
        out["exists"] = _q(exists_probe).head()[0] > 0
        if not out["exists"]:
            out["columns"] = []
            out["row_count"] = 0
            return out
        cols = _q(table_columns_sql(vendor, table)).collect()
        out["columns"] = [
            {
                "name": r["column_name"],
                "type": r["data_type"],
                "nullable": str(r["is_nullable"]).upper().startswith("Y"),
            }
            for r in cols
        ]
    else:  # generic vendor: the driver's ResultSetMetaData, via Spark
        try:
            schema = read_jdbc(
                spark, url, table, user=user, password=password, driver=driver
            ).load().schema
        except Exception:
            out["exists"] = False
            out["columns"] = []
            out["row_count"] = 0
            return out
        out["exists"] = True
        out["columns"] = [
            {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in schema.fields
        ]
    out["row_count"] = _q(
        f"SELECT COUNT(*) AS n FROM {_safe_identifier(table)}"
    ).head()[0]
    return out


#: Schema of the query-log sink — mirror of the reference's query_logs table
#: (core/models.py:58-72 / FIXTURES.md section 2). ``timestamp`` is the
#: request time the engine stamped, not the time the row was flushed.
QUERY_LOG_SCHEMA = (
    "original_query string, generated_sql string, success boolean, "
    "error_message string, execution_time double, result_count int, "
    "cached boolean, timestamp timestamp"
)

#: A :class:`QueryLogBuffer` flushes when it holds this many rows, or when its
#: oldest row has waited this many seconds, whichever comes first.
LOG_FLUSH_ROWS = 256
LOG_FLUSH_SECONDS = 1.0
#: Rows a buffer keeps while its sink fails; past it the oldest are dropped.
LOG_BUFFER_MAX_ROWS = 10_000


#: Concurrent parquet appends to one path abort each other's write tasks
#: (the losers' rows are lost), so appends run one at a time.
_QUERY_LOG_LOCK = threading.Lock()


def append_query_log(spark: SparkSession, path: str, entries: list[tuple]) -> None:
    """Append log rows (``QUERY_LOG_SCHEMA`` order, a non-empty list) to a
    parquet sink as one file — the reference's append-only QueryLog
    semantics, durable. A naive ``timestamp`` is read in the session time
    zone; the engine stamps aware UTC times."""
    import pyarrow as pa

    # An Arrow table reaches the JVM directly; a list of tuples is unpickled
    # by a Python worker per partition (a ~1 s write instead of ~0.15 s on a
    # 4-core host), which stretches how late the last rows land.
    names = [column.split()[0] for column in QUERY_LOG_SCHEMA.split(", ")]
    table = pa.table([list(column) for column in zip(*entries)], names=names)
    with _QUERY_LOG_LOCK:
        (
            spark.createDataFrame(table, QUERY_LOG_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )


class QueryLogBuffer:
    """Bounded in-memory buffer in front of :func:`append_query_log`.

    :meth:`add` runs on the request thread and starts no Spark job. A daemon
    flusher, started on the first ``add``, writes the buffered rows as one
    file per flush. A failed write is swallowed, like the reference's
    (``core/ai_query_generator.py:376-377``), and logged once per run of
    failures: its rows stay buffered for the next flush, at most
    ``LOG_BUFFER_MAX_ROWS`` of them, and the oldest past that bound are
    dropped and counted in :attr:`dropped`.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.dropped = 0
        self._rows: deque[tuple] = deque()
        self._cond = threading.Condition()
        self._flush_lock = threading.Lock()  # a flush returns after any in flight
        self._flusher: threading.Thread | None = None
        self._closed = False
        self._failing = False
        self._oldest = 0.0  # time.monotonic() of the oldest buffered row

    def __len__(self) -> int:
        return len(self._rows)

    def add(self, row: tuple) -> None:
        with self._cond:
            if not self._rows:
                self._oldest = time.monotonic()
            self._rows.append(row)
            self._trim()
            if self._flusher is None and not self._closed:
                self._flusher = threading.Thread(
                    target=self._run, name="query-log-flusher", daemon=True
                )
                self._flusher.start()
            self._cond.notify()

    def _trim(self) -> None:
        while len(self._rows) > LOG_BUFFER_MAX_ROWS:
            self._rows.popleft()
            self.dropped += 1

    def flush(self) -> None:
        """Write every buffered row now, as one file. If the write fails,
        its rows are buffered again."""
        with self._flush_lock:
            with self._cond:
                rows = list(self._rows)
                self._rows.clear()
            if not rows:
                return
            try:
                append_query_log(self.spark, self.path, rows)
            except Exception:
                if not self._failing:
                    _logger.warning("query-log write to %s failed; its rows stay buffered",
                                    self.path, exc_info=True)
                self._failing = True
                with self._cond:
                    self._rows.extendleft(reversed(rows))
                    self._trim()
            else:
                self._failing = False

    def _run(self) -> None:
        while True:
            with self._cond:
                self._cond.wait_for(lambda: self._rows or self._closed)
                if self._failing:  # retry a failed write a full interval later
                    full, wait = math.inf, LOG_FLUSH_SECONDS
                else:
                    full = LOG_FLUSH_ROWS
                    wait = self._oldest + LOG_FLUSH_SECONDS - time.monotonic()
                self._cond.wait_for(
                    lambda: self._closed or len(self._rows) >= full, max(wait, 0.0)
                )
                if self._closed:
                    return
            self.flush()

    def close(self) -> None:
        """Stop the flusher and write what is buffered. Idempotent; after
        ``spark.stop()`` the final write fails and is swallowed. Rows
        added after ``close`` are written only by :meth:`flush`."""
        with self._cond:
            self._closed = True
            self._cond.notify_all()
        self.flush()
