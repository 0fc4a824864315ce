"""Spans around the engine's public functions, for the traced run.

``Tracer.install`` replaces each function ``wrapped_functions`` lists with
a wrapper
that records a span (name, start, end, parent, operation id) in memory;
``Tracer.restore`` puts the originals back. The engine's code is not
changed: its modules look the functions up at call time, so the
wrappers see every call the benchmark's operations make.

Spans of one operation share its id, which is also the Spark job group
of every job the operation launches (see ``eventlog``). A span opened on
a thread with no open span (an HTTP server thread) is a child of the
innermost open span of the thread that runs the operation.

A wrapper that a Spark task closure captures pickles as the original
function (``_Wrapped.__reduce__``), so tasks run unwrapped and untraced.
"""

from __future__ import annotations

import itertools
import os
import pydoc
import threading
import time
import types
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    op: str
    sid: int
    parent: int | None
    name: str
    t0: float  # epoch seconds
    t1: float
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class _Wrapped:
    def __init__(self, fn, tracer, name, ref, on_enter=None, on_exit=None):
        self.fn = fn
        self.tracer = tracer
        self.name = name
        self.ref = ref
        self.on_enter = on_enter
        self.on_exit = on_exit

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name) as attrs:
            entered = self.on_enter(args, kwargs) if self.on_enter else None
            out = self.fn(*args, **kwargs)
            if self.on_exit:
                out = self.on_exit(attrs, entered, args, kwargs, out)
            return out

    def __get__(self, obj, objtype=None):
        return self if obj is None else types.MethodType(self, obj)

    def __reduce__(self):
        return (pydoc.locate, (self.ref,))


class Tracer:
    def __init__(self, spark_context=None):
        self.spans: list[Span] = []
        self.sc = spark_context
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: tuple[str, int | None] = ("", None)
        self._op_stack: list | None = None  # open spans of the op's thread
        self._installed: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[tuple[int, str]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def parent_name(self) -> str | None:
        """Name of the span enclosing the innermost open one."""
        st = self._stack()
        return st[-2][1] if len(st) >= 2 else None

    def _ensure_job_group(self) -> None:
        op = self._op[0] or "untimed"
        if self.sc is not None and getattr(self._local, "group", None) != op:
            self.sc.setJobGroup(op, op)
            self._local.group = op

    @contextmanager
    def span(self, name: str):
        st = self._stack()
        if st:
            parent = st[-1][0]
        else:  # another thread serving the operation's open span
            parent = self._op_stack[-1][0] if self._op_stack else None
        sid = next(self._ids)
        attrs: dict = {}
        self._ensure_job_group()
        st.append((sid, name))
        t0 = time.time()
        try:
            yield attrs
        finally:
            t1 = time.time()
            st.pop()
            with self._lock:
                self.spans.append(Span(self._op[0], sid, parent, name, t0, t1, attrs))

    @contextmanager
    def op(self, op_id: str, name: str):
        """Root span of one operation; nested spans and Spark jobs carry
        ``op_id``."""
        self._op = (op_id, None)
        self._op_stack = None
        try:
            with self.span(name) as attrs:
                self._op_stack = self._stack()
                yield attrs
        finally:
            self._op = ("", None)
            self._op_stack = None
            self._ensure_job_group()

    # --------------------------------------------------------- wrappers
    def wrap(self, owner, attr: str, name: str, on_enter=None, on_exit=None):
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        mod = owner.__module__ if isinstance(owner, type) else owner.__name__
        qual = f"{owner.__qualname__}.{attr}" if isinstance(owner, type) else attr
        setattr(
            owner,
            attr,
            _Wrapped(original, self, name, f"{mod}.{qual}", on_enter, on_exit),
        )
        self._installed.append((owner, attr, original))

    def install(self) -> None:
        for owner, attr, name, on_enter, on_exit in wrapped_functions(self):
            self.wrap(owner, attr, name, on_enter, on_exit)

    def restore(self) -> None:
        while self._installed:
            owner, attr, original = self._installed.pop()
            setattr(owner, attr, original)


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, fn))
            except OSError:
                continue
    return total


def wrapped_functions(tracer: Tracer) -> list[tuple]:
    """(owner, attribute, span name, on_enter, on_exit) for every public
    function the traced run times. Span names are ``<layer>.<what>``."""
    from uci_searchengine_spark import http_api
    from uci_searchengine_spark.operators import (
        index_append,
        index_build,
        lifecycle,
        local_search,
        merge,
        prefix,
        serving,
        suggest,
        tombstones,
        wand,
    )

    def searcher_enter(args, kwargs):
        return args[0].cache_hits

    def searcher_exit(attrs, hits_before, args, kwargs, out):
        s = args[0]
        attrs["hit"] = s.cache_hits > hits_before
        attrs["plan"] = s.last_plan
        attrs["gens"] = int(getattr(s.meta, "gens", 1))
        return out

    def rows_exit(attrs, _entered, args, kwargs, out):
        attrs["rows"] = len(out)
        return out

    def merge_exit(attrs, _entered, args, kwargs, out):
        attrs["bytes"] = dir_bytes(args[2] if len(args) > 2 else kwargs["out_dir"])
        return out

    def envelope_exit(attrs, _entered, args, kwargs, make_fn):
        # time the per-bucket scoring closure on the in-process plan only;
        # on the Spark plan it runs inside tasks
        if tracer.parent_name() != "local_search.topk":
            return make_fn

        def traced_make_fn(excl):
            fn = make_fn(excl)

            def traced_fn(key, seg_pdf):
                with tracer.span("wand.score"):
                    return fn(key, seg_pdf)

            return traced_fn

        return traced_make_fn

    return [
        (index_build, "build_index", "index_build.build_index", None, None),
        (lifecycle, "ingest_round", "lifecycle.ingest_round", None, None),
        (index_append, "append_index", "lifecycle.append_index", None, None),
        (merge, "merge_generations", "merge.merge_generations", None, merge_exit),
        (tombstones, "delete_docs", "tombstones.delete_docs", None, None),
        (http_api.EngineState, "search", "http_api.search", None, None),
        (http_api.EngineState, "switch", "http_api.switch", None, None),
        (serving.Searcher, "__init__", "serving.load", None, None),
        (serving.Searcher, "search", "serving.search", searcher_enter, searcher_exit),
        (serving, "terms_for_index", "serving.analyze", None, None),
        (local_search, "local_topk_count_docs", "local_search.topk", None, None),
        (local_search, "read_pruned_segments_local", "local_search.segment_read",
         None, rows_exit),
        (local_search, "suggest_query_local", "suggest.query_local", None, None),
        (suggest, "suggest_query", "suggest.query", None, None),
        (prefix, "expand_prefix_local", "expand.prefix_local", None, None),
        (prefix, "expand_prefix", "expand.prefix", None, None),
        (wand, "topk_count_docs", "wand.topk_count_docs", None, None),
        (wand, "make_envelope_fn", "wand.make_envelope_fn", None, envelope_exit),
        (wand, "fetch_bucket_docs", "wand.doc_fetch", None, None),
    ]


# ------------------------------------------------------------ analysis
def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.t0, s.t0), min(c.t1, s.t1))
            for c in children.get(s.sid, ())
            if c.t1 > s.t0 and c.t0 < s.t1
        )
        out[s.sid] = (s.t1 - s.t0) - covered
    return out


def layer_report(spans: list[Span], wall_s: float) -> dict[str, float]:
    """Layer → summed self time (s) over ``spans``, plus ``unattributed``:
    the part of ``wall_s`` no span covers."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + selfs[s.sid]
    out["unattributed"] = max(0.0, wall_s - sum(out.values()))
    return out
