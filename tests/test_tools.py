"""Lint for tools/ (the repo has no CI) and the A/B harness's output
fingerprint."""

from __future__ import annotations

import importlib.util
import os
import py_compile
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

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
