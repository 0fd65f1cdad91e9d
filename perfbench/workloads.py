"""The workloads. Each one sets up ``SETUPS`` times (the last set-up
serves the timed window), runs a closed-loop window, then checks answers
outside the window.

Single-client workloads run whole rounds (every template once, seeded
order) until the window has lasted ``seconds``, so every run times the
same mix of routes. The HTTP workload runs closed-loop clients until
the deadline and waits for the requests in flight; a request still running
at the deadline counts towards throughput by the share of it inside the
window.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.error
import urllib.request

import checks
import sparkstats
import traffic
from tracing import Tracer

SETUPS = 3
EMPLOYEES_ROWS = 100_000
#: Closed-loop HTTP clients of ``nl_mixed_http_logged``. One: with four,
#: concurrent appends to the one log-sink path abort each other's write
#: tasks, and p50 and throughput of a 10-second window moved 15-35% between
#: runs of the same seed.
HTTP_CLIENTS = 1
MIXED_POOL = 1200
MIXED_CHECKS = 25
COUNTED_REQUESTS = 8

#: Registry cells of ``operator_cells_sf01``, one or two per operator
#: module: TPC-H q3/q5, the star join, MinHash-LSH dedup, bucketed ANN and
#: the CDC merge (a durable write). A cold pass takes 10-15 s and a warm one
#: about 7 s; a 20-second window times three passes (``PASS_SECONDS``), so
#: the median operation is a warm one.
#: They run in this fixed order: the first cell pays the most JIT warm-up,
#: and a seeded order would move that cost between cells from run to run.
#: The corpus is fixed, so the seed does not change this workload's input.
OPERATOR_CELLS = [
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "join_star_flagship",
    "dedup_minhash_lsh",
    "similarity_bucketed_ann",
    "cdc_merge_incremental",
]

PASS_SECONDS = 7
WARM_STAR = [
    "How many parts are in the catalog?",
    "How many suppliers do we have?",
    "Give me the event breakdown by type",
    "Show document counts by language",
    "Who are the top 5 customers by spending?",
    "Export all orders priced over 450000",
]

#: Planner branches whose answer depends on today's date, so an empty
#: answer is not a failure.
DATE_RELATIVE = ("joined_last_year", "joined_this_year")


def percentile(xs, q):
    """Nearest-rank percentile and the number of samples above it."""
    if not xs:
        return 0.0, 0
    s = sorted(xs)
    rank = max(1, -(-len(s) * q // 100))
    return s[int(rank) - 1], len(s) - int(rank)


class TimedEngine:
    """What ``api.serve`` and the single-client loops call: the engine,
    optionally wrapped in an ``engine.process`` span."""

    def __init__(self, engine, tracer: Tracer | None = None):
        self.engine = engine
        self.tracer = tracer

    def process(self, query):
        if self.tracer is None or not self.tracer.enabled:
            return self.engine.process(query)
        span = self.tracer.open("engine.process")
        span.attrs["query"] = query
        try:
            out = self.engine.process(query)
        finally:
            self.tracer.close(span)
        span.attrs["cached"] = bool(out.get("cached"))
        return out

    def __getattr__(self, name):
        return getattr(self.engine, name)


class Run:
    """State of one benchmark run: the package, the base session, paths."""

    def __init__(self, fabric, spark, data_dir, work_dir, seed, seconds):
        self.fabric = fabric
        self.base = spark
        self.data_dir = data_dir
        self.work = work_dir
        self.seed = seed
        self.seconds = seconds
        self.setups: list[dict] = []
        self.servers: list = []
        self._sessions: list = []  # kept alive: the catalog keys views by session id

    # -- set-up ---------------------------------------------------------
    def _session(self):
        spark = self.base.newSession()
        self._sessions.append(spark)
        return spark

    def _employees(self, spark, i) -> float:
        t = time.perf_counter()
        path = os.path.join(self.work, f"employees_{i}")
        self.fabric.sources.catalog.synthesize_employees(spark, EMPLOYEES_ROWS) \
            .write.mode("overwrite").parquet(path)
        spark.read.parquet(path).createOrReplaceTempView("employees")
        return time.perf_counter() - t

    def _views(self, spark) -> float:
        t = time.perf_counter()
        self.fabric.sources.catalog.register_views(spark, self.data_dir)
        return time.perf_counter() - t

    def setup(self, workload: str, i: int, tracer: Tracer | None = None):
        """One set-up; returns the callable target the window drives."""
        t0 = time.perf_counter()
        spark = self._session()
        phases = {"register_views_s": 0.0, "fixture_s": 0.0}
        STAR = set(self.fabric.sources.catalog.STAR_TABLES)
        Engine = self.fabric.DataFabricEngine
        target = None
        if workload == "nl_employees":
            phases["fixture_s"] = self._employees(spark, i)
            engine = Engine(spark, tables={"employees"}, llm_provider=False)
            warm = next(traffic.rounds(workload, self.seed, 1, f"warm{i}"))
        elif workload == "nl_star_sf01":
            phases["register_views_s"] = self._views(spark)
            engine = Engine(spark, tables=STAR, default_table="orders", llm_provider=traffic.stub_llm)
            warm = [q + traffic.tag(f"warm{i}", j) for j, q in enumerate(WARM_STAR)]
        elif workload == "nl_mixed_http_logged":
            phases["register_views_s"] = self._views(spark)
            phases["fixture_s"] = self._employees(spark, i)
            sink = os.path.join(self.work, f"query_log_{i}")
            engine = Engine(spark, tables=STAR | {"employees"}, llm_provider=traffic.stub_llm,
                            log_sink_path=sink)
            if tracer is not None:
                tracer.sink_path = sink
            server = self.fabric.api.serve(TimedEngine(engine, tracer))
            self.servers.append(server)
            target = HttpClient(f"http://127.0.0.1:{server.server_address[1]}/api/query/")
            warm = (next(traffic.rounds("nl_employees", self.seed, 1, f"warm{i}"))[:2]
                    + [WARM_STAR[0] + traffic.tag(f"warm{i}", 0)])
        else:  # operator_cells_sf01
            phases["register_views_s"] = self._views(spark)
            engine = None
            warm = []
            t = time.perf_counter()
            self.fabric.operators.registry.queries()["agg_count_star"](spark, self.data_dir).collect()
            phases["warmup_s"] = time.perf_counter() - t
        if engine is not None:
            target = target or TimedEngine(engine, tracer)
            t = time.perf_counter()
            for q in warm:
                target.process(q)
            phases["warmup_s"] = time.perf_counter() - t
        phases["total_s"] = time.perf_counter() - t0
        self.setups.append(phases)
        return spark, engine, target

    # -- windows --------------------------------------------------------
    def rounds_window(self, workload, target, tracer=None):
        """Whole rounds through ``target.process`` until ``seconds`` passed;
        with a tracer, every second round is traced. Returns per-request
        records and the job-id bracket of round 1."""
        sc = self.base.sparkContext
        records, round1 = [], None
        start = time.perf_counter()
        first_job = sparkstats.next_job_id(sc)
        for n, questions in enumerate(traffic.rounds(workload, self.seed, 10_000)):
            traced = tracer is not None and n % 2 == 1
            if tracer is not None:
                tracer.enabled = traced
            for q in questions:
                t = time.perf_counter()
                out = target.process(q)
                records.append(dict(q=q, ms=(time.perf_counter() - t) * 1000.0, status=200, out=out,
                                    traced=traced))
            if round1 is None:
                round1 = (first_job, sparkstats.next_job_id(sc), len(records))
            if time.perf_counter() - start >= self.seconds:
                break
        return records, time.perf_counter() - start, round1

    def cells_window(self, spark):
        """``seconds / PASS_SECONDS`` whole passes over the cells (at least
        one). A fixed pass count keeps the work of a run the same on a host
        where a pass happens to end just before or after the deadline."""
        qs = self.fabric.operators.registry.queries()
        sc = self.base.sparkContext
        records, round1 = [], None
        start = time.perf_counter()
        first_job = sparkstats.next_job_id(sc)
        for _ in range(max(1, round(self.seconds / PASS_SECONDS))):
            for name in OPERATOR_CELLS:
                c0 = time.perf_counter()
                df = qs[name](spark, self.data_dir)
                c1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                c2 = time.perf_counter()
                records.append(dict(q=name, ms=(c2 - c0) * 1000.0, status=200,
                                    construction_s=c1 - c0, exec_s=c2 - c1,
                                    out={"success": True, "row_count": 0}))
            if round1 is None:
                round1 = (first_job, sparkstats.next_job_id(sc), len(records))
        return records, time.perf_counter() - start, round1

    def http_window(self, client, pool, tracer=None):
        """``HTTP_CLIENTS`` closed-loop clients drawing Zipf ranks from
        ``pool`` until the deadline; requests in flight are awaited. With a
        tracer, every second request of client 0 is traced. Also
        returns the job-id bracket of client 0's first ``COUNTED_REQUESTS``
        requests, which repeats exactly for a seed when there is one client."""
        records: list[list[dict]] = [[] for _ in range(HTTP_CLIENTS)]
        sc = self.base.sparkContext
        bracket = [sparkstats.next_job_id(sc), None, COUNTED_REQUESTS]
        start = time.perf_counter()
        deadline = start + self.seconds

        def loop(k):
            # Draws are seed-independent: with the route at each rank fixed
            # too (traffic.MIXED_ORDER), every seed replays the same route and
            # repeat pattern; the seed varies the literals.
            sampler = traffic.ZipfSampler(len(pool), f"zipf:{k}")
            while time.perf_counter() < deadline:
                q = pool[sampler.draw()]
                traced = tracer is not None and k == 0 and len(records[0]) % 2 == 1
                if tracer is not None and k == 0:
                    tracer.enabled = traced
                t = time.perf_counter()
                status, body = client.post(q)
                records[k].append(dict(q=q, t0=t, t1=time.perf_counter(), status=status, body=body,
                                       deadline=deadline, traced=traced))
                if k == 0 and len(records[0]) == COUNTED_REQUESTS:
                    bracket[1] = sparkstats.next_job_id(sc)

        threads = [threading.Thread(target=loop, args=(k,), daemon=True) for k in range(HTTP_CLIENTS)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=180)
        flat = []
        for rs in records:
            for r in rs:
                r["ms"] = (r["t1"] - r["t0"]) * 1000.0
                try:
                    r["out"] = json.loads(r["body"])
                except ValueError:
                    r["out"] = {"success": False}
                flat.append(r)
        flat.sort(key=lambda r: r["t0"])
        if bracket[1] is None:
            bracket[1:] = [sparkstats.next_job_id(sc), len(flat)]
        return flat, deadline - start, tuple(bracket)

    def close(self):
        for server in self.servers:
            server.shutdown()
            server.server_close()
        self.servers.clear()


class HttpClient:
    def __init__(self, url):
        self.url = url

    def post(self, query):
        req = urllib.request.Request(self.url, data=json.dumps({"query": query}).encode(),
                                     headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                return resp.status, resp.read()
        except urllib.error.HTTPError as exc:
            return exc.code, exc.read()

    def process(self, query):
        status, body = self.post(query)
        return json.loads(body) if status == 200 else {"success": False}


# ---------------------------------------------------------------------------
# answer checks
# ---------------------------------------------------------------------------

def _duck(run):
    return checks.duckdb_views(run.data_dir, run.fabric.sources.catalog.STAR_TABLES)


def _check_response(run, spark, engine, con, out) -> list[str]:
    if not out.get("success"):
        return [f"failed: {str(out.get('error'))[:120]}"]
    sql = out.get("sql_query") or ""
    if "FROM employees" in sql:
        errs = checks.check_employees(spark, run.fabric.engine.serialize_rows, out)
        vacuous_ok = any(b in _branch(engine, out) for b in DATE_RELATIVE)
    else:
        export = traffic.stub_llm(out.get("original_query") or "", "") is not None
        errs = checks.check_star(con, out, cap=engine.max_result_rows if export else None)
        if export and not (out.get("truncated") and out["row_count"] == engine.max_result_rows):
            errs.append("export did not reach the result cap")
        vacuous_ok = False
    if out.get("row_count", 0) == 0 and not vacuous_ok:
        errs.append(f"vacuous answer for {out.get('original_query')!r}")
    return errs


def _branch(engine, out) -> str:
    q = out.get("original_query") or ""
    return engine.planner.plan_cascade(q).branch if q else ""


def check_rounds(run, workload, spark, engine, records, n_round1) -> tuple[int, list[str]]:
    """Every window answer must succeed and miss the cache; round 1's
    answers (one per route) are compared with an engine-independent run."""
    failed, notes = 0, []
    for r in records:
        out = r["out"]
        if not out.get("success") or out.get("cached"):
            failed += 1
            notes.append(f"{r['q'][:60]!r}: success={out.get('success')} cached={out.get('cached')}")
    con = _duck(run) if workload != "nl_employees" else None
    for r in records[:n_round1]:
        errs = _check_response(run, spark, engine, con, r["out"]) if r["out"].get("success") else []
        if errs:
            failed += 1
            notes.extend(errs)
    return failed, notes


def check_cells(run, spark) -> tuple[int, list[str]]:
    con = _duck(run)
    qs = run.fabric.operators.registry.queries()
    oracles = run.fabric.operators.registry.oracle_sql()
    failed, notes = 0, []
    for name in OPERATOR_CELLS:
        rows = [tuple(r) for r in qs[name](spark, run.data_dir).collect()]
        errs = checks.check_cell(con, name, rows, oracles.get(name))
        failed += bool(errs)
        notes.extend(errs)
    return failed, notes


def check_http(run, spark, engine, records) -> tuple[int, list[str], dict]:
    """Statuses, cache-hit payload identity, and up to ``MIXED_CHECKS``
    first answers checked like the single-client workloads."""
    failed, notes = 0, []
    first: dict[str, dict] = {}
    stats = dict(hits=0, repeats=0, repeat_misses=0, non200=0)
    con = _duck(run)
    checked = 0
    for r in records:
        out = r["out"]
        if r["status"] != 200:
            stats["non200"] += 1
        if r["status"] != 200 or not out.get("success"):
            failed += 1
            notes.append(f"{r['q'][:60]!r}: status={r['status']} error={str(out.get('error'))[:100]}")
            continue
        payload = {k: v for k, v in out.items() if k != "cached"}
        stats["hits"] += bool(out.get("cached"))
        if r["q"] in first:
            stats["repeats"] += 1
            stats["repeat_misses"] += not out.get("cached")
            if out.get("cached") and payload != first[r["q"]]:
                failed += 1
                notes.append(f"cache hit differs from its miss: {r['q'][:60]!r}")
            continue
        first[r["q"]] = payload
        if checked < MIXED_CHECKS:
            checked += 1
            errs = _check_response(run, spark, engine, con, out)
            if errs:
                failed += 1
                notes.extend(errs)
    return failed, notes, stats


def sink_accounting(spark, sink: str, logged: int) -> dict:
    """Files, bytes and readable rows in the query-log sink directory."""
    files = []
    for dirpath, _, names in os.walk(sink):
        files += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    error = None
    try:
        rows = spark.read.parquet(sink).count() if files else 0
    except Exception as exc:  # a torn append leaves the sink unreadable: report it
        rows, error = 0, str(exc)[:200]
    size = sum(os.path.getsize(f) for f in files)
    return dict(files=len(files), bytes=size, rows=rows, logged=logged, read_error=error,
                files_per_request=len(files) / logged if logged else 0.0,
                bytes_per_logged_row=size / rows if rows else 0.0,
                rows_readable_share=rows / logged if logged else 0.0)
