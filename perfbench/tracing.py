"""Spans around the calls the engine makes into each layer, recorded from the
benchmark's side only: :meth:`Tracer.install` replaces the module and
instance attributes the engine resolves at call time with timing wrappers,
and :meth:`Tracer.uninstall` puts the originals back. Nothing in the package
is edited.

A span is ``(id, request, name, parent, start, end)``; the spans of one
request share the request id. Spans stay in memory until the run ends.
While :attr:`Tracer.enabled` is false the wrappers call straight through,
so one window can alternate traced and untraced requests.
"""

from __future__ import annotations

import itertools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    request: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


#: Span name -> layer reported in the per-layer metrics.
LAYER_OF = {
    "api.request": "api",
    "engine.process": "engine",
    "plans.plan_llm": "plans",
    "plans.plan_star": "plans",
    "plans.plan_cascade": "plans",
    "validator.validate_select": "validator",
    "operators.run_nl_operator": "operators",
    "execute.collect": "execute",
    "serialize.serialize_rows": "serialize",
    "log.write": "log",
}


class Tracer:
    def __init__(self, sink_path: str | None = None):
        self.spans: list[Span] = []
        self.sink_path = sink_path
        self._ids = itertools.count(1)
        self._requests = itertools.count(1)
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []
        self.enabled = False

    # -- recording ------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, request: int | None = None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else None
        if request is None:
            request = parent.request if parent else next(self._requests)
        span = Span(next(self._ids), request, name, parent.id if parent else None,
                    time.perf_counter())
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        self.spans.append(span)

    def parent_name(self) -> str | None:
        stack = self._stack()
        return stack[-1].name if stack else None

    def wrap(self, name: str, fn, after=None):
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.open(name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self.close(span)
            if after is not None:
                after(span, args, result)
            return result

        traced.__wrapped__ = fn
        return traced

    # -- installing the wrappers ----------------------------------------
    def _patch(self, owner, attr: str, replacement) -> None:
        self._restore.append((owner, attr, owner.__dict__.get(attr, _ABSENT)))
        setattr(owner, attr, replacement)

    def install(self, fabric, engine) -> None:
        """Wrap the layer entry points ``engine.process`` reaches."""
        probe = engine.spark.range(1)
        DataFrame, DataFrameWriter, SparkSession = type(probe), type(probe.write), type(engine.spark)
        engine_mod = fabric.engine
        star_planner = fabric.plans.star_planner
        nl = fabric.operators.nl
        self._patch(engine_mod, "validate_select",
                    self.wrap("validator.validate_select", engine_mod.validate_select))
        self._patch(engine_mod, "serialize_rows",
                    self.wrap("serialize.serialize_rows", engine_mod.serialize_rows,
                              after=lambda s, a, r: s.attrs.update(rows=len(r))))
        self._patch(star_planner, "plan_star", self.wrap("plans.plan_star", star_planner.plan_star))
        self._patch(nl, "run_nl_operator", self.wrap("operators.run_nl_operator", nl.run_nl_operator))
        planner = engine.planner
        self._patch(planner, "plan_llm", self.wrap(
            "plans.plan_llm", planner.plan_llm,
            after=lambda s, a, r: s.attrs.update(answered=r is not None)))
        self._patch(planner, "plan_cascade", self.wrap(
            "plans.plan_cascade", planner.plan_cascade,
            after=lambda s, a, r: s.attrs.update(branch=r.branch)))

        tracer = self
        original_collect = DataFrame.collect
        original_sql = SparkSession.sql
        original_parquet = DataFrameWriter.parquet

        def collect(df):
            if not tracer.enabled or tracer.parent_name() != "engine.process":
                return original_collect(df)
            span = tracer.open("execute.collect")
            try:
                return original_collect(df)
            finally:
                tracer.close(span)
                span.attrs.update(_phases(df))

        def sql(session, query, *args, **kwargs):
            df = original_sql(session, query, *args, **kwargs)
            stack = tracer._stack()
            if tracer.enabled and stack and stack[-1].name == "engine.process":
                stack[-1].attrs["analysis_ms"] = _phases(df).get("analysis_ms", 0.0)
            return df

        def parquet(writer, path, *args, **kwargs):
            if not tracer.enabled or path != tracer.sink_path:
                return original_parquet(writer, path, *args, **kwargs)
            span = tracer.open("log.write")
            try:
                return original_parquet(writer, path, *args, **kwargs)
            finally:
                tracer.close(span)

        self._patch(DataFrame, "collect", collect)
        self._patch(SparkSession, "sql", sql)
        self._patch(DataFrameWriter, "parquet", parquet)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            if original is _ABSENT:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)

    # -- analysis -------------------------------------------------------
    def self_ms(self) -> dict[int, float]:
        """Span id -> duration minus the time its direct children cover."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                covered[s.parent] = covered.get(s.parent, 0.0) + s.ms
        return {s.id: s.ms - covered.get(s.id, 0.0) for s in self.spans}

    def layer_self_ms(self) -> dict[str, float]:
        own = self.self_ms()
        out: dict[str, float] = {}
        for s in self.spans:
            layer = LAYER_OF.get(s.name, s.name)
            out[layer] = out.get(layer, 0.0) + own[s.id]
        return out

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [dict(id=s.id, request=s.request, name=s.name, parent=s.parent,
                     start=s.start, end=s.end, **s.attrs) for s in self.spans]


_ABSENT = object()


def _phases(df) -> dict[str, float]:
    """Catalyst phase durations from the DataFrame's QueryPlanningTracker."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            out[f"{kv._1()}_ms"] = float(kv._2().durationMs())
    except Exception:  # tracker shape differs across Spark versions
        pass
    return out
