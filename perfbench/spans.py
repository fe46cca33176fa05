"""In-memory spans around the program's public entry points.

`Tracer.wrap` turns a function into one that records a span (name,
start, end, parent span, op id) per call. Spans nest per thread; a
span opened with no enclosing span starts a new op, and every span
below it shares that op id. Spans stay in memory and are written out
once, at exit. `install` wraps the entry points of the fql, store,
server, maintenance and Spark layers in place, including every module
attribute that refers to the same function object.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def wrap(self, name: str, fn, extra=None):
        """`extra(args, kwargs)` may add fields to the span, e.g. rows."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            span = {"id": next(self._ids), "name": name,
                    "parent": parent["id"] if parent else None,
                    "op": parent["op"] if parent else next(self._ops)}
            if extra is not None:
                span.update(extra(args, kwargs))
            stack.append(span)
            span["start"] = time.perf_counter_ns()
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.perf_counter_ns()
                stack.pop()
                with self._lock:
                    self.spans.append(span)

        return traced

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            json.dump(spans, f)


def self_times(spans: list[dict]) -> dict[int, int]:
    """span id -> self time in ns: the span's duration minus the part of
    its interval covered by its child spans (overlapping children are
    counted once)."""
    kids: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def _replace_everywhere(orig, new) -> None:
    """Point every fossil_spark module attribute bound to `orig` at `new`
    (functions imported by name into other modules included)."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("fossil_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)


def install(tracer: Tracer) -> None:
    """Wrap the public entry points each layer exposes to the next."""
    import fossil_spark.fql  # noqa: F401  (binds parse/compile_query)
    import fossil_spark.fql.compiler as compiler
    import fossil_spark.fql.parser as parser
    import fossil_spark.maintenance as maintenance
    import fossil_spark.server as server
    import fossil_spark.store as store
    from pyspark.sql.classic.dataframe import DataFrame

    for orig, name in ((parser.parse, "fql.parse"),
                       (compiler.compile_query, "fql.compile"),
                       (maintenance.compact, "store.compact")):
        _replace_everywhere(orig, tracer.wrap(name, orig))

    def rows(args, kwargs):
        return {"rows": len(args[1])}

    def command(args, kwargs):
        return {"cmd": args[2]}

    for cls, attr, name, extra in (
        (store.EventStore, "query", "store.query", None),
        (store.EventStore, "query_typed", "store.query_typed", None),
        (store.EventStore, "append_rows", "store.append_rows", rows),
        (server.FossilServer, "_dispatch", "server.request", command),
        (server._Database, "flush", "server.flush", None),
        (DataFrame, "collect", "spark.collect", None),
        (DataFrame, "toPandas", "spark.collect", None),
    ):
        setattr(cls, attr, tracer.wrap(name, getattr(cls, attr), extra))
