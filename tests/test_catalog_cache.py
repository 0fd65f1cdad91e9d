"""The catalog's process-wide schema cache and its per-session view cache:
a new session registers known tables without a Spark job, views never
cross sessions, and a changed file or inference conf is read afresh."""

from __future__ import annotations

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.cache import TTLCache
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources import (
    catalog,
)
from conftest import SF_SMOKE


def _next_job(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _uuid(session) -> str:
    return session._jsparkSession.sessionUUID()


def test_new_session_registers_views_without_a_job(spark):
    first = catalog.register_views(spark.newSession(), SF_SMOKE)
    second_session = spark.newSession()
    before = _next_job(spark)
    second = catalog.register_views(second_session, SF_SMOKE)
    assert _next_job(spark) - before == 0
    # a hit re-applies the TIMESTAMP(NANOS) conversion the miss found
    assert dict(second["events"].dtypes)["ts"] == "timestamp_ntz"
    for name in catalog.STAR_TABLES:
        assert second[name].dtypes == first[name].dtypes, name
    assert second_session.table("events").count() == first["events"].count()


def test_evicted_session_registers_its_own_views_again(spark, monkeypatch):
    monkeypatch.setattr(catalog, "_VIEW_CACHE", TTLCache(math.inf, 1))
    a, b = spark.newSession(), spark.newSession()
    catalog.register_views(a, SF_SMOKE)
    catalog.register_views(b, SF_SMOKE)  # evicts a's view set
    assert len(catalog._VIEW_CACHE) == 1
    before = _next_job(spark)
    out = catalog.register_views(a, SF_SMOKE)
    assert _next_job(spark) - before == 0  # schemas still come from the cache
    assert {_uuid(df.sparkSession) for df in out.values()} == {_uuid(a)}
    assert a.table("region").count() == out["region"].count()


def _write(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def test_rewritten_table_file_shows_its_new_column(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    _write(path, {"r_regionkey": pa.array([0, 1], pa.int64())})
    before = catalog.register_views(spark.newSession(), str(tmp_path), ("region",))
    assert before["region"].columns == ["r_regionkey"]
    _write(path, {"r_regionkey": pa.array([0, 1], pa.int64()),
                  "r_name": pa.array(["AFRICA", "ASIA"])})
    after = catalog.register_views(spark.newSession(), str(tmp_path), ("region",))
    assert after["region"].columns == ["r_regionkey", "r_name"]
    assert after["region"].count() == 2


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    _write(str(tmp_path / "blobs.parquet"), {"b": pa.array([b"x", b"y"], pa.binary())})
    plain = spark.newSession()
    as_string = spark.newSession()
    as_string.conf.set("spark.sql.parquet.binaryAsString", "true")
    for _ in range(2):  # second round reads both from the cache
        for session, want in ((plain, "binary"), (as_string, "string")):
            out = catalog.register_views(session, str(tmp_path), ("blobs",))
            assert out["blobs"].dtypes == [("b", want)]


def test_failed_footer_read_is_not_cached(spark, tmp_path, monkeypatch):
    ns = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    _write(str(tmp_path / "events.parquet"), {"ts": ns})

    def broken(*args, **kwargs):
        raise OSError("footer unreadable")

    monkeypatch.setattr(pq, "read_schema", broken)
    out = catalog.register_views(spark.newSession(), str(tmp_path), ("events",))
    assert out["events"].dtypes == [("ts", "bigint")]
    monkeypatch.undo()
    out = catalog.register_views(spark.newSession(), str(tmp_path), ("events",))
    assert out["events"].dtypes == [("ts", "timestamp_ntz")]


def test_file_signature(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-1.parquet").write_bytes(b"abc")
    (d / "part-0.parquet").write_bytes(b"de")
    sig = catalog.file_signature(str(d))
    assert [(os.path.basename(f), size) for f, size, _ in sig] == [
        ("part-0.parquet", 2), ("part-1.parquet", 3)]
    assert catalog.file_signature(f"file:{d}") == sig
    assert catalog.file_signature("hdfs://namenode/t.parquet") is None
    assert catalog.file_signature("s3a://bucket/t.parquet") is None
    assert catalog.file_signature(str(tmp_path / "missing")) is None


def test_input_signature_decodes_uris_once(tmp_path):
    """``file:`` URIs are percent-decoded exactly once, a plain path is
    stat'ed as given (``#`` is no fragment there), and a non-local URI
    keeps its name with no stat."""
    files = {name: tmp_path / name for name in ("a#b", "with space", "pct%41")}
    for i, path in enumerate(files.values()):
        path.write_bytes(b"x" * (i + 1))

    class Frame:
        def inputFiles(self):
            return [
                str(files["a#b"]),
                files["with space"].as_uri(),
                files["pct%41"].as_uri(),
                "hdfs://namenode/t.parquet",
            ]

    sig = dict(catalog.input_signature(Frame()))
    for path in files.values():
        assert sig.pop(str(path)) == catalog.file_stat(str(path)) is not None
    assert sig == {"hdfs://namenode/t.parquet": None}
