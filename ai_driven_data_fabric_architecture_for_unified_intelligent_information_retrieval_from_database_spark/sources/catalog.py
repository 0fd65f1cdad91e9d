"""Parquet catalog over the driver-generated star-schema test tables, plus
the synthesized ``employees`` fixture and schema introspection.

Reference parity: the reference's only source is a raw-cursor scan of a
single Postgres table (``core/ai_query_generator.py:320-323``) and its
introspection reads ``information_schema`` per request
(``core/ai_query_generator.py:26-38`` — one extra round-trip per query!).
Here the catalog is schema-on-read parquet registered once as temp views;
introspection comes from the cached ``StructType`` (a deliberate
improvement documented in SURVEY.md section 7.2).

Scale posture: views are lazy, and their schemas come from a process-wide
cache keyed on the tables' file signatures (sorted ``(file, size,
mtime_ns)``) plus the session's parquet schema-inference confs. The first
session of a process to read a table pays one schema-inference job and one
pyarrow footer read for it; every later session — and every operator call
that re-reads a source table — reads it with the cached ``StructType`` and
starts no Spark job. Rewriting a file changes its signature, so the next
read infers again. All filtering/projection later benefits from parquet
predicate pushdown and column pruning; nothing here materializes data.
"""

from __future__ import annotations

import hashlib
import math
import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import TTLCache
from ..plans.planner import DEPARTMENTS

#: Tables generated by the driver at /root/testdata/sf*/ (TESTDATA.md).
STAR_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Bound on the process-wide schema cache (one entry per table path, file
#: signature and inference confs).
SCHEMA_CACHE_MAX_ENTRIES = 256

#: Bound on the per-session view sets and view owners.
VIEW_CACHE_MAX_ENTRIES = 64

#: Session confs that change what parquet schema inference returns for the
#: same files, so they are part of the schema-cache key. The last one types
#: the partition columns of the partitioned layouts read through
#: :func:`read_parquet`.
INFERENCE_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)


#: (table path, file signature, inference confs) -> (StructType, nanos
#: columns). Process-wide: a new session reads known files without
#: re-inferring their schema (the reason the engine replaced the
#: reference's per-request schema introspection, SURVEY.md 7.2).
_SCHEMA_CACHE = TTLCache(math.inf, SCHEMA_CACHE_MAX_ENTRIES)

#: (session UUID, sf_dir) -> registered table dict. Operators call
#: register_views per query; a hit skips the reads and the conf sets. Keyed
#: on the JVM session's UUID, which — unlike ``id()`` of a Python object —
#: is never reused by a later session.
_VIEW_CACHE = TTLCache(math.inf, VIEW_CACHE_MAX_ENTRIES)

#: session UUID -> sf_dir whose tables currently own the temp-view names.
#: Needed because the cache can hit while another sf_dir's registration has
#: overwritten the views in between — SQL-text paths (spark.sql over view
#: names) would silently read the wrong scale factor.
_VIEW_OWNER = TTLCache(math.inf, VIEW_CACHE_MAX_ENTRIES)


def file_stat(path: str) -> tuple[int, int] | None:
    """``(size, mtime_ns)`` of one local file; ``None`` when it has no
    local ``os.stat``."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def file_signature(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """Sorted ``(file, size, mtime_ns)`` of every file at or under
    ``path`` — the freshness key of anything cached about a table's files.
    ``None`` for a path with no local ``os.stat`` (``hdfs://``, ``s3a://``,
    a glob, a missing path): such a path is never cached."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        return None
    root = os.path.abspath(parsed.path if parsed.scheme else path)
    if os.path.isdir(root):
        files = [os.path.join(d, f) for d, _, names in os.walk(root) for f in names]
    elif os.path.isfile(root):
        files = [root]
    else:
        return None
    out = []
    for f in files:
        st = file_stat(f)
        if st is None:
            return None
        out.append((f, *st))
    return tuple(sorted(out))


def _input_record(uri: str) -> tuple[str, tuple[int, int] | None]:
    parsed = urlparse(uri)
    if parsed.scheme == "file":
        path = unquote(parsed.path)
        return path, file_stat(path)
    return uri, None if parsed.scheme else file_stat(uri)


def input_signature(*dfs: DataFrame) -> tuple[tuple[str, tuple[int, int] | None], ...]:
    """Sorted ``(file, (size, mtime_ns))`` of every file the DataFrames
    read (``inputFiles()``): the freshness key of a cached answer, layout,
    probe count or footer verdict built from them. A ``file:`` URI is
    percent-decoded once; a plain path is stat'ed as given (so a file
    named ``a#b`` still stats); a non-local URI keeps stat ``None``, so
    only its name counts."""
    records = dict(_input_record(uri) for df in dfs for uri in df.inputFiles())
    return tuple(sorted(records.items()))


def signature_digest(signature) -> str:
    """Short md5 of an :func:`input_signature`: a freshness key that fits
    in a table or directory name."""
    return hashlib.md5(repr(signature).encode()).hexdigest()[:16]


def input_digest(*dfs: DataFrame) -> str:
    """:func:`signature_digest` of the DataFrames' input files."""
    return signature_digest(input_signature(*dfs))


def _inference_confs(spark: SparkSession) -> tuple[str | None, ...]:
    return tuple(spark.conf.get(k, None) for k in INFERENCE_CONFS)


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, tuple[str, ...]]:
    """``spark.read.parquet(path)`` plus its TIMESTAMP(NANOS) columns,
    from the schema cache when the path's files and the session's
    inference confs are known: a hit starts no Spark job and reads no
    footer. A miss is cached only when the footer read succeeded; files
    rewritten during the read change the signature, so the entry stored
    under the old one is never hit."""
    sig = file_signature(path)
    key = None
    if sig is not None:
        key = (os.path.abspath(path), sig, _inference_confs(spark))
        hit = _SCHEMA_CACHE.get(key)
        if hit is not None:
            schema, nanos = hit
            return spark.read.schema(schema).parquet(path), nanos
    df = spark.read.parquet(path)
    nanos = _nanos_columns(df.schema, path)
    if key is not None and nanos is not None:
        _SCHEMA_CACHE.set(key, (df.schema, nanos))
    return df, nanos or ()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A source table read as ``spark.read.parquet(path)`` would, with its
    schema from the process-wide cache (no inference job on a hit).
    TIMESTAMP(NANOS) columns stay the raw longs ``nanosAsLong`` gives; use
    :func:`register_views` for the converted catalog view."""
    return _read_parquet(spark, path)[0]


def register_views(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] = STAR_TABLES,
) -> dict[str, DataFrame]:
    """Register each parquet table under ``sf_dir`` as a temp view.

    Also pins the session timezone to UTC — timestamp columns must mean the
    same instant in Spark and in the DuckDB oracle — and enables reading the
    driver tables' TIMESTAMP(NANOS) parquet columns (illegal for Spark by
    default; with ``nanosAsLong`` Spark 4 surfaces them as TIMESTAMP_NTZ,
    which matches DuckDB's naive-timestamp semantics exactly).
    """
    session_id = spark._jsparkSession.sessionUUID()
    cache_key = (session_id, sf_dir)
    cached = _VIEW_CACHE.get(cache_key)
    if cached is not None and tables == STAR_TABLES:
        if _VIEW_OWNER.get(session_id) != sf_dir:
            # another sf_dir overwrote the view names since this dict was
            # built — restore them so SQL-text paths resolve to this scale
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
            _VIEW_OWNER.set(session_id, sf_dir)
        return cached
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in tables:
        df, nanos = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        df = _convert_nanos_columns(df, nanos)
        df.createOrReplaceTempView(name)
        out[name] = df
    if tables == STAR_TABLES:
        _VIEW_CACHE.set(cache_key, out)
        _VIEW_OWNER.set(session_id, sf_dir)
    return out


def _nanos_columns(schema: T.StructType, path: str) -> tuple[str, ...] | None:
    """The TIMESTAMP(NANOS) parquet columns that ``nanosAsLong`` surfaced
    as longs in ``schema``, from one pyarrow footer read; ``None`` when the
    footer cannot be read (so the result is not cached)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        file_path = path
        if os.path.isdir(path):
            inner = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if not inner:
                return ()
            file_path = os.path.join(path, inner[0])
        arrow_schema = pq.read_schema(file_path)
    except Exception:
        return None
    longs = {f.name for f in schema.fields if isinstance(f.dataType, T.LongType)}
    return tuple(
        f.name
        for f in arrow_schema
        if pat.is_timestamp(f.type) and f.type.unit == "ns" and f.name in longs
    )


def _convert_nanos_columns(df: DataFrame, columns: tuple[str, ...]) -> DataFrame:
    """Restore timestamp semantics for TIMESTAMP(NANOS) parquet columns.

    With ``nanosAsLong`` those columns surface as epoch-nanosecond longs
    (:func:`_nanos_columns` finds them); convert: floor-divide to micros
    (matching DuckDB's ns->us truncation) -> TIMESTAMP_NTZ under the pinned
    UTC session. The per-row conversion is a codegen'd integer op, and the
    column keeps min/max pruning via the underlying long stats.
    """
    for name in columns:
        df = df.withColumn(
            name,
            F.timestamp_micros(F.expr(f"`{name}` div 1000")).cast("timestamp_ntz"),
        )
    return df


# ---------------------------------------------------------------------------
# employees fixture (FIXTURES.md section 1)
# ---------------------------------------------------------------------------

_FIRST = ["Alice", "Bob", "Carol", "David", "Eve", "Frank", "Grace", "Heidi",
          "Ivan", "Judy", "Mallory", "Niaj", "Olivia", "Peggy", "Rupert",
          "Sybil", "Trent", "Victor", "Wendy", "Yara"]
_LAST = ["Smith", "Jones", "Chen", "Garcia", "Patel", "Kim", "Okafor",
         "Novak", "Silva", "Tanaka", "Mueller", "Rossi", "Dubois"]
_POSITIONS = ["Software Engineer", "Data Analyst", "Manager", "Sales Rep",
              "Accountant", "HR Specialist", "DevOps Engineer", "Designer",
              "Product Manager", "Support Agent"]
_DOMAINS = ["gmail.com", "yahoo.com", "outlook.com", "company.com"]


def synthesize_employees(spark: SparkSession, n: int = 1000) -> DataFrame:
    """Deterministic ``employees`` fixture matching the reference schema
    (core/models.py:13-19): nullable name/department/salary/date_of_join/
    email/position, departments drawn from the planner's hardcoded list plus
    NULLs and an unlisted value, salaries straddling the 40k/50k/80k
    thresholds the example corpus uses (core/views.py:72,80).

    Built from ``spark.range`` with pure-arithmetic column derivations (no
    RNG, no driver-side loop) so it is reproducible at any ``n`` and
    distributes: each partition derives its rows from ``id`` alone.
    """
    first = F.element_at(F.array(*[F.lit(x) for x in _FIRST]), (F.col("id") % len(_FIRST) + 1).cast("int"))
    last = F.element_at(F.array(*[F.lit(x) for x in _LAST]), (F.col("id") * 7 % len(_LAST) + 1).cast("int"))
    dept_arr = F.array(*[F.lit(d) for d in DEPARTMENTS + ["Legal"]])
    position_arr = F.array(*[F.lit(p) for p in _POSITIONS])
    domain_arr = F.array(*[F.lit(d) for d in _DOMAINS])

    df = (
        spark.range(1, n + 1)
        .select(
            F.col("id").cast("int").alias("id"),
            F.when(F.col("id") % 53 == 0, F.lit(None)).otherwise(
                F.concat_ws(" ", first, last)
            ).alias("name"),
            F.when(F.col("id") % 41 == 0, F.lit(None)).otherwise(
                F.element_at(dept_arr, (F.col("id") * 13 % 8 + 1).cast("int"))
            ).alias("department"),
            F.when(F.col("id") % 37 == 0, F.lit(None)).otherwise(
                (F.lit(25000) + (F.col("id") * 7919) % 125001
                 + ((F.col("id") % 100) / 100.0)).cast(T.DecimalType(10, 2))
            ).alias("salary"),
            F.when(F.col("id") % 31 == 0, F.lit(None)).otherwise(
                F.date_add(F.lit("2016-09-01").cast("date"), (F.col("id") * 1597 % 3650).cast("int"))
            ).alias("date_of_join"),
            F.when(F.col("id") % 23 == 0, F.lit(None)).otherwise(
                F.concat(
                    F.lower(first), F.lit("."), F.lower(last),
                    F.col("id").cast("string"), F.lit("@"),
                    F.element_at(domain_arr, (F.col("id") * 3 % 4 + 1).cast("int")),
                )
            ).alias("email"),
            F.when(F.col("id") % 29 == 0, F.lit(None)).otherwise(
                F.element_at(position_arr, (F.col("id") * 11 % 10 + 1).cast("int"))
            ).alias("position"),
        )
    )
    return df


def register_employees(spark: SparkSession, n: int = 1000) -> DataFrame:
    df = synthesize_employees(spark, n)
    df.createOrReplaceTempView("employees")
    return df


# ---------------------------------------------------------------------------
# introspection (reference: manage.py inspect_table,
# core/management/commands/inspect_table.py:22-194)
# ---------------------------------------------------------------------------

def inspect_table(spark: SparkSession, table: str, sample_size: int = 5) -> dict:
    """Spark-native equivalent of the reference's ``inspect_table`` command:
    existence check, column structure, row count, sample rows, distinct
    departments (when present), numeric stats on a salary-like column.

    All from catalog metadata + four bounded jobs; no
    ``information_schema`` round-trips.
    """
    existing = {t.name for t in spark.catalog.listTables()}
    if table not in existing:
        return {"table": table, "exists": False}
    df = spark.table(table)
    schema = [
        {"name": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
        for f in df.schema.fields
    ]
    out: dict = {
        "table": table,
        "exists": True,
        "columns": schema,
        "row_count": df.count(),
        "sample": [r.asDict() for r in df.limit(sample_size).collect()],
    }
    names = {f.name for f in df.schema.fields}
    if "department" in names:
        out["departments"] = [
            r[0]
            for r in df.select("department").where(F.col("department").isNotNull())
            .distinct().limit(10).collect()
        ]
    numeric_like = [f.name for f in df.schema.fields
                    if "salary" in f.name.lower()
                    and isinstance(f.dataType, (T.DecimalType, T.DoubleType, T.FloatType,
                                                T.IntegerType, T.LongType))]
    if numeric_like:
        c = numeric_like[0]
        stats = df.where(F.col(c).isNotNull()).agg(
            F.min(c).alias("min"), F.max(c).alias("max"),
            F.round(F.avg(c), 2).alias("avg"),
        ).collect()[0]
        out["salary_stats"] = {"column": c, **stats.asDict()}
    return out
