"""Spans around the engine's layer calls, and Spark job tagging.

The benchmark wraps the names that the engine's plan modules call — the
operator functions ``plans.pipeline`` and ``plans.incremental`` import,
``run_pipeline``, ``incremental_update`` and the ``StreamingER`` methods —
without changing engine code. A span covers one call. Most operators only
build a lazy plan; ``run_pipeline`` runs it in the ``materialize`` call
that follows, so that call gets a span of the layer whose call just
returned on the same thread. Work that a caller triggers itself (a
``count()`` inside ``incremental_update``) stays in the caller's span.

Every span sets the local property ``eventlog.LAYER_PROPERTY`` on its
thread, so each Spark job is tagged with the layer active on the thread
that submitted it; the engine's two concurrent pipeline branches run on
their own threads and keep separate tags. A thread with no span of its
own (a pool thread the engine started) works under the innermost span
of the thread that made the outermost call.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import threading
import time
from dataclasses import dataclass

from eventlog import LAYER_PROPERTY

PKG = "address_match_recommend_spark"

#: (module, attribute, layer); layer None takes the layer of the call that
#: last returned on the same thread
PATCHES = (
    ("plans.pipeline", "canonicalize", "canonicalize"),
    ("plans.pipeline", "dedup_exact", "dedup"),
    ("plans.pipeline", "exact_dup_edges", "dedup"),
    ("plans.pipeline", "explode_tokens", "tokenize"),
    ("plans.pipeline", "idf_table", "tfidf.idf"),
    ("plans.pipeline", "tfidf_vectors", "tfidf.vectors"),
    ("plans.pipeline", "postings", "blocking.postings"),
    ("plans.pipeline", "candidate_pairs", "blocking.candidate_pairs"),
    ("plans.pipeline", "score_pairs", "scoring"),
    ("plans.pipeline", "connected_components", "clustering"),
    ("plans.pipeline", "assign_entities", "clustering"),
    ("plans.pipeline", "materialize", None),
    ("plans.pipeline", "run_pipeline", "pipeline"),
    ("plans.incremental", "canonicalize", "canonicalize"),
    ("plans.incremental", "dedup_exact", "dedup"),
    ("plans.incremental", "explode_tokens", "tokenize"),
    ("plans.incremental", "tfidf_vectors", "tfidf.vectors"),
    # imported inside incremental_update, so wrapped at its home module
    ("operators.tfidf", "document_frequency", "tfidf.idf"),
    ("plans.incremental", "build_postings", "blocking.postings"),
    ("plans.incremental", "score_pairs", "scoring"),
    ("plans.incremental", "connected_components", "clustering"),
    ("streaming.incremental", "run_pipeline", "pipeline"),
    ("streaming.incremental", "incremental_update", "incremental"),
    ("streaming.incremental", "StreamingER.bootstrap", "streaming"),
    ("streaming.incremental", "StreamingER.apply_batch", "streaming"),
    ("streaming.incremental", "StreamingER.read_clusters", "streaming"),
)


@dataclass
class Span:
    id: int
    layer: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory; ``calls`` keeps (span, args, result) of
    every call to a named layer function (not of inherited spans)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.calls: list[tuple[Span, tuple, object]] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._owner: list[Span] | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
            self._tls.last = None
        return self._tls.stack

    def _tag(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(LAYER_PROPERTY, span and span.layer)

    def wrap(self, layer: str | None, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = self._stack()
            name = layer or self._tls.last
            if name is None:
                return fn(*args, **kwargs)
            owner = self._owner
            parent = stack[-1] if stack else (owner[-1] if owner else None)
            root = not stack and owner is None
            with self._lock:
                span = Span(next(self._ids), name, parent and parent.id, time.monotonic())
                self.spans.append(span)
            stack.append(span)
            if root:
                self._owner = stack
            self._tag(span)
            try:
                out = fn(*args, **kwargs)
                if layer is not None:
                    self.calls.append((span, args, out))
                return out
            finally:
                stack.pop()
                if root:
                    self._owner = None
                span.end = time.monotonic()
                self._tls.last = name
                self._tag(parent)

        return wrapper

    def results(self, layer: str) -> list:
        """Results of the recorded ``layer`` calls."""
        return [out for span, _, out in self.calls if span.layer == layer]


def _resolve(module: str, attr: str):
    obj = importlib.import_module(f"{PKG}.{module}")
    *path, name = attr.split(".")
    for part in path:
        obj = getattr(obj, part)
    return obj, name


@contextlib.contextmanager
def patched(replacements):
    """Temporarily set ``(module, attribute) → factory(original)`` on the
    engine's modules; originals are restored on exit."""
    saved = []
    try:
        for (module, attr), factory in replacements:
            obj, name = _resolve(module, attr)
            original = getattr(obj, name)
            saved.append((obj, name, original))
            setattr(obj, name, factory(original))
        yield
    finally:
        for obj, name, original in reversed(saved):
            setattr(obj, name, original)


def installed(tracer: Tracer):
    """Context manager wrapping every entry of ``PATCHES`` with ``tracer``."""
    return patched(
        ((module, attr), functools.partial(tracer.wrap, layer))
        for module, attr, layer in PATCHES
    )


# -- span arithmetic ------------------------------------------------------


def union_length(intervals) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover
    (children may overlap each other, e.g. on concurrent threads)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        )
        out[s.id] = s.duration - covered
    return out


def layer_times(spans: list[Span]) -> dict[str, dict]:
    """Per layer: ``wall_s`` (union of the layer's spans, so nested or
    concurrent spans of one layer count once) and ``self_s`` (sum of its
    spans' self times)."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s.layer, {"wall_s": [], "self_s": 0.0})
        d["wall_s"].append((s.start, s.end))
        d["self_s"] += selfs[s.id]
    for d in out.values():
        d["wall_s"] = union_length(d["wall_s"])
    return out
