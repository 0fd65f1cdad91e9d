"""HTTP shell round-trips, connector config wiring, query-log parquet sink,
and skew-helper equivalence."""

from __future__ import annotations

import json
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pytest

from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark import (
    DataFabricEngine,
)
from ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark.api import (
    serve,
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


def test_query_log_parquet_sink(spark, tmp_path):
    path = str(tmp_path / "query_logs")
    append_query_log(spark, path, [("q1", "SELECT 1", True, None, 0.1, 1, False)])
    append_query_log(spark, path, [("q2", "SELECT 2", False, "boom", 0.2, 0, False)])
    logs = spark.read.parquet(path)
    assert logs.count() == 2
    cols = set(logs.columns)
    assert {"original_query", "generated_sql", "success", "error_message",
            "execution_time", "result_count", "cached", "timestamp"} == cols


def test_engine_log_sink_path(spark, tmp_path):
    register_employees(spark, n=50)
    path = str(tmp_path / "engine_logs")
    eng = DataFabricEngine(spark, tables={"employees"}, log_sink_path=path)
    eng.process("how many employees")
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
    assert statuses == [200] * 48
    assert len(eng.query_log) == 48
    assert spark.read.parquet(path).count() == 48


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
