"""In-memory span recorder for the traced benchmark run.

Spans are recorded from outside the program: :meth:`Tracer.install`
swaps each layer's public function for a timing wrapper (in every
loaded module that bound it by name) and :meth:`Tracer.uninstall` puts
the originals back.  Spans stay in memory and are written out once, by
:meth:`Tracer.dump`, when the run ends.

Each span records ``name, start, end, parent, op``: ``parent`` is the
index of the enclosing span (``-1`` at top level) and ``op`` the id of
the benchmark operation that caused it (``-1`` outside operations).
A layer's self time is its duration minus the time its child spans
cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict

#: (module, attribute, span name).  Attributes given as ``Class.method``
#: are patched on the class.  Only driver-side calls are visible:
#: executor-side work shows up inside the enclosing driver span.
LAYER_FUNCTIONS = (
    ("zarr_datafusion_spark.session", "get_spark", "session.start"),
    ("zarr_datafusion_spark.engine", "Engine.sql", "engine.sql"),
    ("zarr_datafusion_spark.engine", "Engine.register_zarr", "engine.register"),
    ("zarr_datafusion_spark.engine", "Engine.register_parquet_dir", "engine.register"),
    ("zarr_datafusion_spark.zarr.metadata", "discover_arrays", "metadata.discover"),
    ("zarr_datafusion_spark.zarr.metadata", "infer_spark_schema", "metadata.discover"),
    ("zarr_datafusion_spark.zarr.datasource", "read_zarr", "datasource.read_zarr"),
    ("zarr_datafusion_spark.stats.chunk_stats", "compute_zarr_chunk_stats", "chunk_stats.build"),
    ("zarr_datafusion_spark.stats.shortcuts", "try_stats_shortcut", "stats.rewrite"),
    ("zarr_datafusion_spark.stats.agg_pushdown", "try_chunk_agg_pushdown", "stats.rewrite"),
    ("zarr_datafusion_spark.stats.topk", "try_topk_pushdown", "stats.rewrite"),
    ("zarr_datafusion_spark.stats.filter_rewrite", "try_filter_rewrite", "stats.rewrite"),
    ("zarr_datafusion_spark.stats.filter_rewrite", "try_pruned_agg_rewrite", "stats.rewrite"),
    ("zarr_datafusion_spark.zarr.sink", "write_zarr", "sink.write"),
    ("zarr_datafusion_spark.zarr.sink", "append_zarr", "sink.write"),
)


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def op(self, op_id: int):
        yield


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = -1
        self._patched: list[tuple[object, str, object]] = []
        #: attribute -> ``hook(args, kwargs) -> (args, kwargs, fields)``
        #: run before the wrapped call; ``fields`` are added to its span
        self.before_call: dict[str, object] = {}
        #: attribute -> ``hook(result) -> fields`` added to the span
        self.after_call: dict[str, object] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else -1, "op": self._op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def op(self, op_id: int):
        prev, self._op = self._op, op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = prev

    # -- patching ----------------------------------------------------------

    def _wrap(self, fn, name: str, attr: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            fields = {}
            before = tracer.before_call.get(attr)
            if before is not None:
                args, kwargs, fields = before(args, kwargs)
            with tracer.span(name) as rec:
                rec.update(fields)
                result = fn(*args, **kwargs)
                after = tracer.after_call.get(attr)
                if after is not None:
                    rec.update(after(result))
                return result

        return traced

    def install(self) -> None:
        """Wrap every function in :data:`LAYER_FUNCTIONS`, including the
        copies other package modules imported by name."""
        import importlib

        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._patched.append((cls, meth, orig))
                setattr(cls, meth, self._wrap(orig, span_name, attr))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name, attr)
            for other in list(sys.modules.values()):
                name = getattr(other, "__name__", "") or ""
                if not name.startswith("zarr_datafusion_spark"):
                    continue
                if getattr(other, attr, None) is orig:
                    self._patched.append((other, attr, orig))
                    setattr(other, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """name -> total self time (duration minus child-span time)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] >= 0 and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"]) - child[i]
        return dict(out)

    def per_op_totals(self, name: str) -> dict[int, float]:
        """op id -> total duration of the outermost ``name`` spans in it
        (nested same-name spans are not double counted)."""
        out: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["name"] != name or s["op"] < 0 or s["end"] is None:
                continue
            p = s["parent"]
            nested = False
            while p >= 0:
                if self.spans[p]["name"] == name:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            if not nested:
                out[s["op"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times()}, f)
