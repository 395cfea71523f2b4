"""Spans around calls into the program's layers, recorded from outside.

``Tracer.install`` rebinds each layer function under every name it is
bound to in the program's modules.  Operator modules import helpers by
name (``from ..tables import table``,
``from ..session_cache import session_shared as _session_shared``), so
patching ``tables.table`` alone would miss most calls; rebinding is done
by identity over every ``dataengineer_scripts_spark`` module attribute.
``Tracer.uninstall`` restores the original bindings.

A span is ``(id, parent, name, query, start, end)`` with
``time.perf_counter`` times.  Spans are kept in memory and written out once
when the run ends.  A span's self time is its duration minus the union of
the intervals its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager

PROGRAM = "dataengineer_scripts_spark"

#: Public functions of each traced layer, by module path under PROGRAM.
LAYER_FUNCTIONS = {
    "tables": ("table",),
    "session_cache": ("session_shared",),
    "sources.rest": ("login", "rest_read", "rest_read_stream", "register_rest_source"),
    "streaming.runtime": ("stream_events", "run_to_memory", "stream_events_split"),
}

#: Span-name prefix per module (``sources.rest`` spans read ``rest.*``).
LAYER_NAMES = {
    "tables": "tables",
    "session_cache": "session_cache",
    "sources.rest": "rest",
    "streaming.runtime": "streaming",
}


def _merged_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, int | None, str, str | None, float, float]] = []
        self.query: str | None = None
        self.query_span: int | None = None
        self.counts: Counter[str] = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._tables_seen: dict[tuple, object] = {}

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str) -> Iterator[int]:
        stack = self._stack()
        parent = stack[-1] if stack else self.query_span
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append((sid, parent, name, self.query, start, end))

    @contextmanager
    def query_scope(self, query: str) -> Iterator[None]:
        self.query = query
        with self.span("query") as sid:
            self.query_span = sid
            try:
                yield
            finally:
                self.query_span = None
        self.query = None

    # -- wrapping ----------------------------------------------------------
    def _wrap(self, span_name: str, fn: Callable) -> Callable:
        tracer = self
        if span_name == "session_cache.session_shared":

            @functools.wraps(fn)
            def shared(spark, sf_dir, key, build):
                def counted_build():
                    tracer.counts["session_cache.builds"] += 1
                    with tracer.span("session_cache.build"):
                        return build()

                tracer.counts["session_cache.calls"] += 1
                with tracer.span(span_name):
                    return fn(spark, sf_dir, key, counted_build)

            return shared
        if span_name == "tables.table":

            @functools.wraps(fn)
            def table(spark, sf_dir, name):
                with tracer.span(span_name):
                    df = fn(spark, sf_dir, name)
                # A memo hit hands back the very DataFrame object an earlier
                # call returned for the same session, directory and table.
                key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
                if tracer._tables_seen.get(key) is not df:
                    tracer.counts["tables.misses"] += 1
                    tracer._tables_seen[key] = df
                return df

            return table

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Rebind every layer function under each name it has in the
        program's modules."""
        import importlib

        targets: dict[int, tuple[object, Callable]] = {}
        for mod_path, names in LAYER_FUNCTIONS.items():
            mod = importlib.import_module(f"{PROGRAM}.{mod_path}")
            for n in names:
                fn = getattr(mod, n)
                targets[id(fn)] = (fn, self._wrap(f"{LAYER_NAMES[mod_path]}.{n}", fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PROGRAM or mod_name.startswith(PROGRAM + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                hit = targets.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._patched.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for _sid, parent, _n, _q, s, e in spans:
        if parent is not None:
            children[parent].append((s, e))
    return {sid: (e - s) - _merged_length(children.get(sid, [])) for sid, _p, _n, _q, s, e in spans}


def layer_summary(spans: list[tuple]) -> dict[str, dict[str, float]]:
    """Per layer: span count, busy seconds (union of the layer's span
    intervals) and self seconds."""
    selfs = self_times(spans)
    by_layer: dict[str, list[tuple]] = defaultdict(list)
    for sp in spans:
        by_layer[layer_of(sp[2])].append(sp)
    return {
        layer: {
            "calls": float(len(sps)),
            "busy_s": _merged_length([(s, e) for *_x, s, e in sps]),
            "self_s": sum(selfs[sp[0]] for sp in sps),
        }
        for layer, sps in by_layer.items()
    }


def write_spans(spans: list[tuple], path: str) -> None:
    """One JSON object per span, times relative to the first span."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    selfs = self_times(spans)
    t0 = min((s for *_x, s, _e in spans), default=0.0)
    with open(path, "w") as fh:
        for sid, parent, name, query, s, e in spans:
            row = {
                "id": sid,
                "parent": parent,
                "name": name,
                "query": query,
                "start_s": round(s - t0, 6),
                "end_s": round(e - t0, 6),
                "self_s": round(selfs[sid], 6),
            }
            fh.write(json.dumps(row) + "\n")
