"""In-memory span recorder for the traced benchmark run.

Spans are installed from the benchmark's own files only: `install`
replaces a package function with a recording wrapper in every loaded
module that holds a reference to it (``from x import f`` copies the
reference, so patching the defining module alone would miss callers).
Nothing in the package itself is edited.

A span is (name, start, end, parent, op id, kind). The parent is the
innermost open span on the same thread; a span opened on a thread with
no open span (Structured Streaming runs ``foreachBatch`` on a py4j
callback thread) is parented to the innermost open span of the client
thread, so a layer's self time is still its duration minus the time its
children cover.

Spans around calls that return a DataFrame are relabelled
``plan-build``: Spark is lazy, so their work lands in the span of the
action that later executes the plan.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    kind: str = "call"
    attrs: dict = field(default_factory=dict)


class SpanRecorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_id: int | None = None
        self._op_root: int | None = None
        self._client: list[int] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, kind: str = "call", **attrs):
        """Record one span; yields its attrs dict (callers add counts)."""
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:  # another thread: the client thread's innermost open span
            parent = self._client[-1] if self._client else self._op_root
        sp = Span(name, time.perf_counter(), parent=parent, op_id=self._op_id,
                  kind=kind, attrs=dict(attrs))
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp.attrs
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    @contextmanager
    def op(self, op_id: int, traced: bool):
        """Root span of one op; `traced=False` runs the op untraced (the
        overhead comparison alternates traced and untraced ops)."""
        self.enabled = traced
        self._op_id = op_id
        try:
            with self.span("op") as attrs:
                self._client = self._stack()
                self._op_root = self._client[-1] if traced else None
                yield attrs
        finally:
            self._op_root = None
            self._client = []
            self.enabled = False

    def mark_plan_build(self) -> None:
        """Relabel the innermost open span on this thread as plan-build."""
        stack = self._stack()
        if stack:
            self.spans[stack[-1]].kind = "plan-build"

    # -- installation -------------------------------------------------

    def wrap(self, name: str, fn, on_result=None):
        """Recording wrapper around `fn`. `on_result(attrs, result, args)`
        may add counts to the span."""
        return _Traced(self, name, fn, on_result)

    def install(self, targets: dict[str, tuple[object, str]], on_result=None) -> None:
        """Patch each ``span name -> (owner, attribute)``: the owner (a
        module or class) gets the wrapper, and so does every loaded
        ``transit_feed_etl_spark`` module that imported the same object."""
        on_result = on_result or {}
        for name, (owner, attr) in targets.items():
            orig = getattr(owner, attr)
            wrapped = self.wrap(name, orig, on_result.get(name))
            setattr(owner, attr, wrapped)
            for mod_name, mod in list(sys.modules.items()):
                if not mod_name.startswith("transit_feed_etl_spark") or mod is None:
                    continue
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, wrapped)

    # -- reporting ----------------------------------------------------

    def self_times(self) -> list[float]:
        """Self time of every span: its duration minus the union of its
        children's intervals, clipped to it."""
        children: dict[int, list[tuple[float, float]]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        out = []
        for i, sp in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(children.get(i, [])):
                s, e = max(s, sp.start), min(e, sp.end)
                if e <= s:
                    continue
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append(max(sp.end - sp.start - covered, 0.0))
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for sp, st in zip(self.spans, selfs):
                f.write(json.dumps({
                    "name": sp.name, "start": sp.start, "end": sp.end,
                    "self_s": st, "parent": sp.parent, "op_id": sp.op_id,
                    "kind": sp.kind, "attrs": sp.attrs,
                }, default=str) + "\n")


class _Traced:
    """Callable wrapper. Pickles as a reference to the original function,
    so a traced function captured by a UDF closure runs untraced (and
    unwrapped) on the Python workers."""

    def __init__(self, rec: SpanRecorder, name: str, fn, on_result) -> None:
        functools.update_wrapper(self, fn)
        self._rec, self._name, self._fn, self._on_result = rec, name, fn, on_result

    def __call__(self, *args, **kwargs):
        rec = self._rec
        if not rec.enabled:
            return self._fn(*args, **kwargs)
        with rec.span(self._name) as attrs:
            out = self._fn(*args, **kwargs)
            if type(out).__name__ == "DataFrame":
                rec.mark_plan_build()
            if self._on_result is not None:
                self._on_result(attrs, out, args)
            return out

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        # cloudpickle sends the module by reference, so the worker looks
        # the (unpatched) function up in its own import of the module
        return (getattr, (sys.modules[self._fn.__module__], self._fn.__name__))
