"""HTTP shell round-trips, connector config wiring, query-log parquet sink,
and skew-helper equivalence."""

from __future__ import annotations

import glob
import itertools
import json
import os
import sys
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

import pytest

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark import (
    DataFabricEngine,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.api import (
    serve,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources import (
    connectors,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
    register_employees,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.connectors import (
    QUERY_LOG_SCHEMA,
    append_query_log,
    read_jdbc,
    read_table,
)


@pytest.fixture(scope="module")
def server(spark):
    register_employees(spark, n=200)
    engine = DataFabricEngine(spark, tables={"employees"})
    srv = serve(engine)
    yield srv
    srv.shutdown()


def _get(server, path):
    host, port = server.server_address
    try:
        with urllib.request.urlopen(f"http://{host}:{port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(server, path, payload, raw=None):
    host, port = server.server_address
    body = raw if raw is not None else json.dumps(payload).encode()
    req = urllib.request.Request(
        f"http://{host}:{port}{path}", data=body,
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health_info_examples(server):
    assert _get(server, "/api/health/")[1]["status"] == "healthy"
    assert len(_get(server, "/api/examples/")[1]["examples"]) == 15
    assert "supported_queries" in _get(server, "/api/info/")[1]
    assert _get(server, "/api/nope")[0] == 404


def test_query_roundtrip(server):
    status, out = _post(server, "/api/query/", {"query": "how many employees"})
    assert status == 200 and out["success"] is True
    assert out["columns"] == ["total_employees"]


def test_query_error_envelopes(server):
    assert _post(server, "/api/query/", {"query": "  "})[0] == 400
    assert _post(server, "/api/query/", None, raw=b"{not json")[0] == 400


def test_jdbc_reader_config(spark):
    reader = read_jdbc(
        spark,
        url="jdbc:postgresql://localhost:5432/db",
        table="employees",
        user="u",
        password="p",
        partition_column="id",
        lower_bound=1,
        upper_bound=100000,
        num_partitions=16,
    )
    # lazy: no connection yet; option wiring is inspectable via the plan on
    # load() failure (no driver) — here assert construction succeeded
    assert reader is not None
    with pytest.raises(ValueError):
        read_jdbc(spark, "jdbc:x", "t", partition_column="id")


def test_read_table_guards(spark, tmp_path):
    with pytest.raises(NotImplementedError):
        read_table(spark, "/x", fmt="delta")
    with pytest.raises(ValueError):
        read_table(spark, "/x", fmt="csv")  # schema required
    # round-trip csv with explicit schema
    p = str(tmp_path / "t.csv")
    spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string").write.option(
        "header", True
    ).csv(p)
    back = read_table(spark, p, fmt="csv", schema="id int, s string")
    assert {tuple(r) for r in back.collect()} == {(1, "a"), (2, "b")}


@pytest.fixture
def held_flusher(monkeypatch):
    """Keep the background log flusher from writing during the test, so the
    test's own ``flush_log()`` is the only write to the sink."""
    monkeypatch.setattr(connectors, "LOG_FLUSH_SECONDS", 3600.0)


def _parquet_files(path):
    return glob.glob(os.path.join(path, "*.parquet"))


def test_query_log_parquet_sink(spark, tmp_path):
    path = str(tmp_path / "query_logs")
    t = datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    append_query_log(spark, path, [("q1", "SELECT 1", True, None, 0.1, 1, False, t)])
    append_query_log(spark, path, [("q2", "SELECT 2", False, "boom", 0.2, 0, False, t)])
    logs = spark.read.parquet(path)
    assert logs.count() == 2
    assert len(_parquet_files(path)) == 2
    cols = set(logs.columns)
    assert {"original_query", "generated_sql", "success", "error_message",
            "execution_time", "result_count", "cached", "timestamp"} == cols


def test_engine_log_sink_path(spark, tmp_path):
    register_employees(spark, n=50)
    path = str(tmp_path / "engine_logs")
    eng = DataFabricEngine(spark, tables={"employees"}, log_sink_path=path)
    eng.process("how many employees")
    eng.flush_log()
    eng.close()
    logs = spark.read.parquet(path)
    assert logs.count() == 1
    assert logs.collect()[0].success is True


def test_concurrent_requests_keep_every_log_row(spark, tmp_path):
    """ThreadingHTTPServer runs requests concurrently, and concurrent
    parquet appends to one sink path abort each other's write tasks: the
    log writer serializes its appends, so every request leaves its row."""
    register_employees(spark, n=200)
    path = str(tmp_path / "concurrent_logs")
    eng = DataFabricEngine(spark, tables={"employees"}, llm_provider=False,
                           log_sink_path=path)
    srv = serve(eng)

    def client(c):
        return [
            _post(srv, "/api/query/", {
                "query": f"Show me employees with salary greater than {40000 + 100 * c + i}"
            })[0]
            for i in range(12)
        ]

    try:
        with ThreadPoolExecutor(4) as pool:
            statuses = [s for batch in pool.map(client, range(4)) for s in batch]
    finally:
        srv.shutdown()
        srv.server_close()
    eng.flush_log()
    eng.close()
    assert statuses == [200] * 48
    assert len(eng.query_log) == 48
    assert spark.read.parquet(path).count() == 48


def test_request_path_starts_no_log_job(spark, tmp_path, held_flusher):
    """With the sink on, a cache hit starts no Spark job: its log row is
    only buffered, and the background flusher writes it later."""
    register_employees(spark, n=50)
    eng = DataFabricEngine(spark, tables={"employees"}, llm_provider=False,
                           log_sink_path=str(tmp_path / "logs"))
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    try:
        assert eng.process("how many employees")["success"] is True
        before = int(scheduler.nextJobId())
        assert eng.process("how many employees")["cached"] is True
        assert int(scheduler.nextJobId()) - before == 0
    finally:
        eng.close()


def test_log_flush_is_one_file(spark, tmp_path, held_flusher):
    register_employees(spark, n=200)
    path = str(tmp_path / "logs")
    eng = DataFabricEngine(spark, tables={"employees"}, llm_provider=False,
                           log_sink_path=path)
    try:
        for i in range(20):
            q = f"Show me employees with salary greater than {40000 + i}"
            assert eng.process(q)["success"] is True
        eng.flush_log()
    finally:
        eng.close()
    assert spark.read.parquet(path).count() == 20
    assert len(_parquet_files(path)) == 1


def test_log_rows_keep_request_time(spark, tmp_path, held_flusher):
    """Rows flushed together keep their own request times, not the flush's."""
    register_employees(spark, n=50)
    path = str(tmp_path / "logs")
    eng = DataFabricEngine(spark, tables={"employees"}, llm_provider=False,
                           log_sink_path=path)
    try:
        eng.process("how many employees")
        time.sleep(1.1)
        eng.process("Find employees in the Sales department")
        eng.flush_log()
    finally:
        eng.close()
    sink = {r.original_query: r.timestamp for r in spark.read.parquet(path).collect()}
    assert len(_parquet_files(path)) == 1
    assert len(sink) == 2 and len(set(sink.values())) == 2
    assert abs((sink["how many employees"] - sink["Find employees in the Sales department"])
               .total_seconds()) >= 1.0
    for entry in eng.query_log:
        # to the second; collect() returns naive local times
        assert int(sink[entry.original_query].timestamp()) == int(entry.timestamp.timestamp())


def test_failing_sink_keeps_buffer_bounded(spark, tmp_path, monkeypatch, held_flusher):
    """A sink that cannot be written (its path is a regular file) neither
    fails requests nor grows the buffer past its cap: the failed flush keeps
    the newest rows for a retry, and the oldest are dropped and counted."""
    monkeypatch.setattr(connectors, "LOG_BUFFER_MAX_ROWS", 8)
    register_employees(spark, n=50)
    blocker = tmp_path / "not_a_directory"
    blocker.write_text("x")
    eng = DataFabricEngine(spark, tables={"employees"}, llm_provider=False,
                           log_sink_path=str(blocker))
    try:
        outs = [eng.process("how many employees") for _ in range(20)]
        eng.flush_log()
        assert all(o["success"] for o in outs)
        assert len(eng.log_buffer) == 8
        assert eng.log_buffer.dropped == 12
    finally:
        eng.close()
    eng.close()  # idempotent


def test_log_buffer_concurrent_adds_write_every_row_once(monkeypatch):
    """Request threads add while the flusher writes and every third write
    fails: each row reaches the sink exactly once (a lost update or a double
    requeue breaks the multiset), and close() stops the flusher."""
    written, calls = [], itertools.count()

    def flaky_append(spark, path, rows):
        if next(calls) % 3 == 0:
            raise OSError("sink unavailable")
        written.extend(rows)

    monkeypatch.setattr(connectors, "append_query_log", flaky_append)
    monkeypatch.setattr(connectors, "LOG_FLUSH_ROWS", 16)
    monkeypatch.setattr(connectors, "LOG_FLUSH_SECONDS", 0.005)
    buf = connectors.QueryLogBuffer(spark=None, path="unused")
    expected = [(k, i) for k in range(8) for i in range(500)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=lambda k=k: [buf.add((k, i)) for i in range(500)])
                   for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
        buf.close()
        buf._flusher.join(timeout=10)
        assert not buf._flusher.is_alive()
        buf.flush()  # two writes in a row never both fail
        buf.flush()
    finally:
        sys.setswitchinterval(switch)
    assert len(buf) == 0 and buf.dropped == 0
    assert sorted(written) == expected


def test_salted_group_count_matches_plain(spark):
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.skew import (
        salted_group_count,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )
    from conftest import SF_SMOKE

    orders = register_views(spark, SF_SMOKE)["orders"]
    plain = {
        (r.o_orderpriority, r["count"])
        for r in orders.groupBy("o_orderpriority").count().collect()
    }
    salted = {
        (r.o_orderpriority, r["count"])
        for r in salted_group_count(orders, "o_orderpriority").collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark):
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.functions.skew import (
        salted_join_counts,
    )
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )
    from conftest import SF_SMOKE

    t = register_views(spark, SF_SMOKE)
    o, c = t["orders"], t["customer"].select("c_custkey", "c_mktsegment")
    plain = o.join(c, o.o_custkey == c.c_custkey).count()
    salted = salted_join_counts(o, c, "o_custkey", "c_custkey").count()
    assert plain == salted


def test_view_names_track_latest_registration(spark):
    """Interleaving two scale factors in one session must leave the temp
    views pointing at whichever sf_dir was requested LAST — SQL-text paths
    (the NL queries) resolve table names through the views."""
    from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.sources.catalog import (
        register_views,
    )
    from conftest import SF_ORACLE, SF_SMOKE

    n_smoke = register_views(spark, SF_SMOKE)["lineitem"].count()
    n_oracle = register_views(spark, SF_ORACLE)["lineitem"].count()
    assert n_smoke != n_oracle
    assert spark.table("lineitem").count() == n_oracle
    # cache-hit path must re-register the views, not just return the dict
    register_views(spark, SF_SMOKE)
    assert spark.table("lineitem").count() == n_smoke


def test_csv_json_roundtrip_value_fidelity(spark, tmp_path):
    """CSV and JSON writes read back value-identical under an explicit
    schema (read_table refuses inference by design) — longs, strings, and
    doubles survive the text serialization."""
    rows = [(1, "alpha", 1.5), (2, "be,ta", -0.000001), (3, None, 123456.654321)]
    df = spark.createDataFrame(rows, "id long, name string, score double")
    want = sorted((tuple((v is None, v) for v in r) for r in rows))

    for fmt in ("csv", "json"):
        p = str(tmp_path / fmt)
        w = df.write.mode("overwrite")
        (w.option("header", "true").csv(p) if fmt == "csv" else w.json(p))
        back = read_table(spark, p, fmt=fmt, schema=df.schema)
        got = sorted(
            (tuple((v is None, v) for v in r) for r in (tuple(x) for x in back.collect()))
        )
        assert got == want, fmt
