"""Pins bench.bench_conf, the one bench session conf, and the timing rule
of bench.timed_pass. Needs no Spark: the corpora are sparse files whose
sizes put the largest table in each regime."""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), os.pardir))
import bench

MiB = 1024 * 1024
SPLIT = str(256 * MiB)


def _corpus(tmp_path, name: str, largest: int) -> str:
    d = tmp_path / name
    d.mkdir()
    for table, size in (("lineitem.parquet", largest), ("nation.parquet", MiB)):
        with open(d / table, "wb") as fh:
            fh.truncate(size)
    with open(d / "notes.txt", "wb") as fh:  # not a table: ignored
        fh.truncate(4096 * MiB)
    return str(d)


def _conf(partitions: str, aqe: str, bcast: int) -> dict[str, str]:
    return {
        "spark.sql.files.maxPartitionBytes": SPLIT,
        "spark.sql.files.openCostInBytes": SPLIT,
        "spark.sql.shuffle.partitions": partitions,
        "spark.sql.adaptive.enabled": aqe,
        "spark.sql.autoBroadcastJoinThreshold": str(bcast),
        "spark.driver.memory": "24g",
        "spark.ui.showConsoleProgress": "false",
    }


@pytest.fixture
def bench_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)


def test_bench_conf_small_scale(tmp_path, bench_env):
    # ~sf0.1: 8 partitions, AQE off, the 10 MB broadcast floor.
    sf = _corpus(tmp_path, "small", 11 * MiB)
    assert bench.bench_conf(sf) == _conf("8", "false", 10 * MiB)


def test_bench_conf_mid_scale(tmp_path, bench_env):
    # Past the cutoff: one partition per core, AQE on, largest // 16.
    sf = _corpus(tmp_path, "mid", 320 * MiB)
    assert bench.bench_conf(sf) == _conf("6", "true", 20 * MiB)


def test_bench_conf_large_scale(tmp_path, bench_env, monkeypatch):
    # The broadcast threshold caps at 64 MB; the driver heap is settable.
    sf = _corpus(tmp_path, "large", 2048 * MiB)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    want = _conf("6", "true", 64 * MiB)
    want["spark.driver.memory"] = "6g"
    assert bench.bench_conf(sf) == want


def test_bench_conf_counts_part_file_directories(tmp_path, bench_env):
    # The re-chunked layout stores each table as a directory of parts:
    # 4 x 20 MB is past the cutoff, and 80 MB // 16 is under the floor.
    d = tmp_path / "rechunked" / "lineitem.parquet"
    d.mkdir(parents=True)
    for i in range(4):
        with open(d / f"part-{i:04d}.parquet", "wb") as fh:
            fh.truncate(20 * MiB)
    assert bench.bench_conf(str(tmp_path / "rechunked")) == _conf(
        "6", "true", 10 * MiB
    )


class _Sink:
    def __init__(self, log, seconds):
        self.log, self.seconds = log, seconds

    def format(self, fmt):
        self.log.append(fmt)
        return self

    def mode(self, mode):
        return self

    def save(self):
        time.sleep(self.seconds)


class _Frame:
    def __init__(self, log, seconds):
        self.write = _Sink(log, seconds)


@pytest.mark.parametrize("cell", ["tpch_q1_pricing_summary", "dedup_components"])
def test_timed_pass_times_construction_only_for_timed_cells(cell):
    log: list[str] = []

    def build(spark, sf_dir):
        time.sleep(0.2)
        return _Frame(log, 0.05)

    elapsed, construction = bench.timed_pass(cell, build, None, "sf")
    assert log == ["noop"]
    if cell in bench.TIMED_CONSTRUCTION:
        assert elapsed >= 0.25 and construction == 0
    else:
        assert 0.05 <= elapsed < 0.2 and construction >= 0.2
