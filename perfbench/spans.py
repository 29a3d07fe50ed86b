"""Spans around the calls the benchmark makes into the engine's layers.

The engine carries no instrumentation of its own, so the traced run
wraps the public functions of each layer module from outside (the
package files stay untouched) and the benchmark's own calls (CLI
commands, query build and action, micro-batches) in spans. A span
records name, layer, start, end, parent and run id; spans stay in
memory and :meth:`Tracer.dump` writes them as JSON lines at the end.

Every span on the benchmark's thread opens its own Spark job group, so
the status-store counters of a span are exactly the jobs it ran
itself, not its children's; :meth:`Tracer.inclusive` adds a subtree.
Spans opened on another thread (a streaming sink's ``foreachBatch``)
take the benchmark thread's open span as parent and share its group.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import threading
import time

from counters import add, empty, union_length

PKG = "dataflow_python_etl_spark"

# (module, attribute, layer): the public calls a span is taken around.
# Callers import these at call time (``from ... import write_and_swap``
# inside the function body), so replacing the module attribute is
# enough; ``cli`` and ``session`` bind ``get_spark`` at import, so both
# names are wrapped.
WRAPPED = (
    ("session", "get_spark", "session"),
    ("cli", "get_spark", "session"),
    ("sources.csv_ingest", "ingest_csv", "sources.csv_ingest"),
    ("operators.mart", "build_mart", "operators.mart"),
    ("operators.compensation", "apply_compensation", "operators.compensation"),
    ("operators.compensation", "with_compensation", "operators.compensation"),
    ("operators.upsert", "write_and_swap", "operators.upsert"),
    ("operators.dedup", "ngram_jaccard_pairs", "operators.dedup"),
    ("streaming.pipeline", "apply_search_index_batch", "streaming.pipeline"),
)


class Span:
    __slots__ = ("id", "name", "layer", "parent", "group", "pass_no", "start", "end", "counters")

    def __init__(self, sid, name, layer, parent, group, pass_no):
        self.id, self.name, self.layer, self.parent, self.group = sid, name, layer, parent, group
        self.pass_no = pass_no
        self.start = time.perf_counter()
        self.end = None
        self.counters = None

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, counters, run_id: str):
        self._sc = spark.sparkContext
        self.counters = counters
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._undo: list = []
        self.pass_no = None  # set by the caller; stamped on every span
        self.t0 = time.perf_counter()

    # -- spans -------------------------------------------------------------
    def open(self, name: str, layer: str) -> Span:
        with self._lock:
            on_main = threading.get_ident() == self._main
            parent = self._stack[-1] if self._stack else None
            sid = len(self.spans)
            group = f"pb-{self.run_id}-{sid}" if on_main else (parent.group if parent else None)
            span = Span(sid, name, layer, parent.id if parent else None, group, self.pass_no)
            self.spans.append(span)
            if on_main:
                self._stack.append(span)
                self._sc.setJobGroup(group, name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        if threading.get_ident() != self._main:
            return
        with self._lock:
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def span_cost(self, n: int = 200) -> float:
        """Seconds one span adds to the traced thread: the mean of ``n``
        spans opened and closed around nothing (each sets and resets the
        Spark job group through py4j). The probe spans are dropped."""
        t0 = time.perf_counter()
        for _ in range(n):
            self.close(self.open("trace.probe", "trace"))
        cost = (time.perf_counter() - t0) / n
        del self.spans[-n:]
        return cost

    def collect_counters(self) -> None:
        """Read the status-store counters of every span that owns a group."""
        for s in self.spans:
            if s.counters is None:
                own = s.group is not None and (s.parent is None or self.spans[s.parent].group != s.group)
                s.counters = self.counters.read(s.group) if own else empty()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out = []
        for c in self.children(span):
            out += [c] + self.subtree(c)
        return out

    def in_pass(self, k) -> list[Span]:
        return [s for s in self.spans if s.pass_no == k]

    def inclusive(self, span: Span) -> dict:
        total = span.counters or empty()
        for c in self.children(span):
            total = add(total, self.inclusive(c))
        return total

    def self_time(self, span: Span) -> float:
        """Span wall minus the part of it its children cover."""
        return span.wall - union_length([(c.start, c.end) for c in self.children(span)])

    # -- wrapping ----------------------------------------------------------
    def install(self) -> None:
        """Replace each WRAPPED attribute by a span-taking wrapper."""
        for mod_name, attr, layer in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, attr)
            setattr(mod, attr, self._wrap(orig, f"{layer}.{attr}", layer))
            self._undo.append((mod, attr, orig))
        from dataflow_python_etl_spark.operators.dedup import BandIndexStore

        orig_append = BandIndexStore.append
        BandIndexStore.append = self._wrap(orig_append, "operators.dedup.BandIndexStore.append",
                                           "operators.dedup")
        self._undo.append((BandIndexStore, "append", orig_append))

    def uninstall(self) -> None:
        while self._undo:
            obj, attr, orig = self._undo.pop()
            setattr(obj, attr, orig)

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return wrapper

    # -- output ------------------------------------------------------------
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = {"run_id": self.run_id, "id": s.id, "parent": s.parent, "name": s.name,
                       "layer": s.layer, "start_s": round(s.start - self.t0, 6),
                       "end_s": round(s.end - self.t0, 6) if s.end else None, "group": s.group,
                       "counters": s.counters, "pass": s.pass_no}
                f.write(json.dumps(rec) + "\n")
