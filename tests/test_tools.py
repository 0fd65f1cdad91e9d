"""Lint for tools/ (the repo has no CI), for the package's parquet reads
and environment reads, and the A/B harness's output fingerprint."""

from __future__ import annotations

import ast
import importlib.util
import os
import py_compile
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(ROOT, "tools")
PACKAGE = os.path.join(
    ROOT, "ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark"
)

#: Direct ``<session>.read.parquet(...)`` calls left in the package, per
#: file. Source tables go through ``sources.catalog.read_parquet`` (schema
#: from the process-wide cache); these read the catalog's own misses,
#: operator state, scratch stages and sinks.
DIRECT_PARQUET_READS = {
    "sources/catalog.py": 1,
    "sources/sinks.py": 3,
    "streaming/rollup.py": 1,
    "operators/streaming_entries.py": 4,
}

#: Session confs bench.bench_conf owns; a tool that sets one by hand has
#: forked the bench session.
BENCH_CONF_KEYS = (
    "spark.sql.shuffle.partitions",
    "autoBroadcastJoinThreshold",
    "adaptive.enabled",
    "files.maxPartitionBytes",
)


def _entries() -> list[str]:
    return sorted(e for e in os.listdir(TOOLS) if e != "__pycache__")


def test_tools_compile_and_take_session_conf_from_bench(tmp_path):
    for name in _entries():
        path = os.path.join(TOOLS, name)
        if name.endswith(".py"):
            py_compile.compile(path, cfile=str(tmp_path / f"{name}c"), doraise=True)
        with open(path) as fh:
            text = fh.read()
        for key in BENCH_CONF_KEYS:
            assert key not in text, f"tools/{name} sets {key}; use bench.bench_session"


def test_direct_parquet_reads_are_allowlisted():
    found = {}
    for d, _, names in os.walk(PACKAGE):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(d, name)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            n = sum(
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "read"
                for node in ast.walk(tree)
            )
            if n:
                found[os.path.relpath(path, PACKAGE)] = n
    assert found == DIRECT_PARQUET_READS


#: The environment variables the package reads, all deployment settings
#: (where the corpus lives, how many cores, how much memory). A
#: behaviour switch belongs in code, or in an argument its caller passes.
DEPLOYMENT_ENV = {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"}


def _env_read_name(node: ast.AST) -> ast.AST | None:
    """The name argument of ``os.environ.get(...)``, ``os.getenv(...)`` or
    ``os.environ[...]``, else None."""
    if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.args:
        f = node.func
        if f.attr == "getenv" or (
            f.attr == "get" and isinstance(f.value, ast.Attribute) and f.value.attr == "environ"
        ):
            return node.args[0]
    if isinstance(node, ast.Subscript) and isinstance(node.value, ast.Attribute):
        if node.value.attr == "environ":
            return node.slice
    return None


def test_package_reads_only_deployment_settings_from_env():
    """Only ``plans/llm_provider.py`` reads a computed name: the API key
    and URL variables its caller names."""
    literal, computed = set(), set()
    for d, _, names in os.walk(PACKAGE):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(d, name)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                arg = _env_read_name(node)
                if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
                    literal.add(arg.value)
                elif arg is not None:
                    computed.add(os.path.relpath(path, PACKAGE))
    assert literal == DEPLOYMENT_ENV
    assert computed == {"plans/llm_provider.py"}


def test_core_count_is_read_in_one_place():
    """``session.local_cores`` is the one read of SPARK_GRAFT_CPUS, so the
    package, ``bench.py`` and ``tools/`` share one default core count."""
    paths = [os.path.join(ROOT, "bench.py")]
    paths += [os.path.join(TOOLS, n) for n in _entries() if n.endswith(".py")]
    paths += [os.path.join(d, n) for d, _, names in os.walk(PACKAGE)
              for n in names if n.endswith(".py")]
    reads = []
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            arg = _env_read_name(node)
            if isinstance(arg, ast.Constant) and arg.value == "SPARK_GRAFT_CPUS":
                reads.append(os.path.relpath(path, PACKAGE))
    assert reads == ["session.py"], reads


def test_tools_stay_few():
    assert len(_entries()) <= 6, _entries()


@pytest.fixture(scope="module")
def ab():
    spec = importlib.util.spec_from_file_location("tools_ab", os.path.join(TOOLS, "ab.py"))
    mod = importlib.util.module_from_spec(spec)
    dont_write, sys.dont_write_bytecode = sys.dont_write_bytecode, True
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.dont_write_bytecode = dont_write
    return mod


ROWS = [(1, "a", 2.5), (2, None, -1.0), (2, None, -1.0), (3, "c", None)]
SCHEMA = "k long, s string, x double"


def test_fingerprint_ignores_order_and_partitioning(spark, ab):
    one = spark.createDataFrame(ROWS, SCHEMA).coalesce(1)
    many = spark.createDataFrame(ROWS[::-1], SCHEMA).repartition(3)
    fp = ab.fingerprint(one)
    assert fp == ab.fingerprint(many)
    assert fp[:2] == (4, (4, 2, 3))


def test_fingerprint_sees_a_changed_value(spark, ab):
    changed = ROWS[:-1] + [(3, "c", 0.0)]
    assert ab.fingerprint(spark.createDataFrame(ROWS, SCHEMA)) != ab.fingerprint(
        spark.createDataFrame(changed, SCHEMA)
    )


def test_fingerprint_sees_a_null_moving_between_columns(spark, ab):
    # xxhash64 skips NULLs, so (7, NULL) and (NULL, 7) hash alike: only
    # the per-column non-null counts tell these multisets apart.
    left = ab.fingerprint(spark.createDataFrame([(7, None)], "a long, b long"))
    right = ab.fingerprint(spark.createDataFrame([(None, 7)], "a long, b long"))
    assert (left[0], left[2]) == (right[0], right[2])
    assert left != right


def test_package_modules_import_no_private_names():
    """Each shared decision has one home with public names: no package
    module imports an underscore name from another package module. A
    public name imported under an ``_alias`` is fine."""
    package = os.path.basename(PACKAGE)
    found = []
    for d, _, names in os.walk(PACKAGE):
        for name in names:
            if not name.endswith(".py"):
                continue
            path = os.path.join(d, name)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if not isinstance(node, ast.ImportFrom):
                    continue
                if node.level == 0 and not (node.module or "").startswith(package):
                    continue
                found += [
                    f"{os.path.relpath(path, PACKAGE)}:{node.lineno} {alias.name}"
                    for alias in node.names
                    if alias.name.startswith("_")
                ]
    assert not found, found
