"""Spans recorded from outside the program.

In a traced run, ``Tracer.install`` replaces the public functions named
in ``WRAPPED`` with thin wrappers that record a span (name, start, end,
parent, operation id) around each call, and ``Tracer.uninstall`` puts
the originals back. Nothing in the package is edited; the wrappers sit
on the module attributes the package itself calls through.

A span around a function that returns a lazy DataFrame measures plan
construction plus any jobs the function runs eagerly (checkpoints,
counts, collects), not the execution of the returned plan: that is
timed by the benchmark's own ``action`` span around the materialising
call.

Spans are kept in memory and written out, one JSON object per line,
when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (module or class, attribute, span name). ``memvid_spark.api`` imports
# parse_query / compile_predicate by name, so those are patched on both
# modules; everything else is looked up on its module at call time.
WRAPPED = (
    ("memvid_spark.catalog", "load", "catalog.load"),
    ("memvid_spark.catalog.Catalog", "table", "catalog.load"),  # 1st read
    ("memvid_spark.plans.parser", "parse_query", "plans.parser"),
    ("memvid_spark.plans.parser", "compile_predicate", "plans.parser"),
    ("memvid_spark.api", "parse_query", "plans.parser"),
    ("memvid_spark.api", "compile_predicate", "plans.parser"),
    ("memvid_spark.operators.search", "bm25_topk",
     "operators.search.bm25_build"),
    ("memvid_spark.operators.ask", "ask", "operators.ask.ask"),
    ("memvid_spark.operators.hnsw", "nsw_knn_pruned",
     "operators.hnsw.probe"),
    ("memvid_spark.operators.hnsw", "apply_delta_ivf",
     "operators.hnsw.delta"),
    ("memvid_spark.operators.hnsw", "ivf_needs_retrain",
     "operators.hnsw.retrain_check"),
    ("memvid_spark.operators.hnsw", "build_nsw_index_ivf",
     "operators.hnsw.build"),
    ("memvid_spark.operators.hnsw", "train_cell_centroids",
     "operators.hnsw.train"),
)
# facade methods: (method, span name)
API_METHODS = (
    ("put", "api.put"),
    ("search", "api.search"),
    ("ask", "api.ask"),
    ("search_embeddings", "api.search_embeddings"),
    ("add_embeddings", "api.add_embeddings"),
    ("refresh_ann_index", "api.refresh_ann_index"),
    ("build_ann_serving", "api.build_ann_serving"),
    ("save", "api.save"),
    ("open", "api.open"),  # a classmethod
)


def _resolve(path: str):
    """A module, or a class inside one (``pkg.mod.Class``)."""
    try:
        return importlib.import_module(path)
    except ModuleNotFoundError:
        mod, _, cls = path.rpartition(".")
        return getattr(importlib.import_module(mod), cls)


@dataclass
class Span:
    op: int
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float
    value: float | None = None  # a measurement taken inside the span

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span store with a call stack per operation."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = 0
        self._saved: list[tuple[object, str, object]] = []

    def begin_op(self, op: int) -> None:
        self._op = op
        self._stack = []

    @contextmanager
    def span(self, name: str):
        """Record a span around the body; yields the ``Span``."""
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(self._op, sid, parent, name, time.perf_counter(), 0.0)
        )
        self._stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            self.spans[sid].t1 = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _patch(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(
            owner, attr
        )
        self._saved.append((owner, attr, orig))
        if isinstance(orig, classmethod):
            wrapped = classmethod(self._wrap(orig.__func__, name))
        else:
            wrapped = self._wrap(orig, name)
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        for path, attr, name in WRAPPED:
            self._patch(_resolve(path), attr, name)
        from memvid_spark.api import MemvidSpark

        for attr, name in API_METHODS:
            self._patch(MemvidSpark, attr, name)

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(spans: list[Span], t0: float, t1: float) -> float:
    """Seconds of [t0, t1] covered by the union of ``spans``."""
    iv = sorted((max(s.t0, t0), min(s.t1, t1)) for s in spans)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def total_time(spans: list[Span], name: str) -> float:
    """Summed duration of spans called ``name``; a span nested in
    another span of the same name is not counted twice."""
    by_id = {s.sid: s for s in spans}
    total = 0.0
    for s in spans:
        if s.name != name:
            continue
        p, nested = s.parent, False
        while p is not None and not nested:
            nested = by_id[p].name == name
            p = by_id[p].parent
        if not nested:
            total += s.dur
    return total
