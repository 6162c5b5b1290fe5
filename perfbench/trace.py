"""Spans around the calls into each layer, recorded from outside the program.

The traced run wraps the public functions of every module named in
``workloads.LAYER_MODULES``, the lineage-cut methods of the classic
DataFrame, the table memo and the py4j ``send_command`` entry point.
Each wrapped call opens a span (name, layer, start, end, parent,
request id); every py4j command is charged to the innermost open span.
Spans stay in memory until the run writes its dump.

When the tracer is inactive every wrapper calls straight through, so one
process can alternate untraced and traced passes and measure the
tracer's own overhead.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CUT_METHODS = ("localCheckpoint", "checkpoint", "cache", "persist")
MEMO_FUNCTIONS = (
    ("pyield_spark.queries", "tables"),
    ("pyield_spark.calendar_br", "df_cache_get"),
)
CC_FUNCTION = ("pyield_spark.operators.graph", "connected_components")


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    rid: str
    start: float
    end: float = 0.0
    py4j: int = 0  # commands sent while this span was the innermost one
    group: str | None = None  # job group opened by this span, if any


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover.

    Children are clipped to their parent and overlapping children are
    merged, so the result never goes negative.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted(children.get(s.sid, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.sid] = (s.end - s.start) - covered
    return out


@dataclass
class Tracer:
    active: bool = False
    rid: str = "-"
    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    py4j_elsewhere: int = 0  # no span open, or off-thread (py4j's object-release thread)
    wrapped: dict[str, int] = field(default_factory=dict)  # layer -> functions
    sc: object = None  # SparkContext, set once the session is up
    group: str | None = None
    _thread: int = field(default_factory=threading.get_ident)
    _muted: bool = False

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, group: str | None = None):
        if not self.active:
            yield None
            return
        parent = self.stack[-1].sid if self.stack else None
        s = Span(len(self.spans), name, layer, parent, self.rid, time.perf_counter())
        self.spans.append(s)
        self.stack.append(s)
        prev_group = self.group
        if group is not None and self.sc is not None:
            s.group = f"{self.rid}/{group}"
            self.set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if s.group is not None:
                self.set_group(prev_group)

    def set_group(self, group: str | None) -> None:
        """Tag the Spark jobs this thread submits from now on.

        The command that sets the tag is the tracer's own, so it is not
        charged to any span.
        """
        self.group = group
        if self.sc is not None:
            self._muted = True
            try:
                self.sc.setLocalProperty("spark.jobGroup.id", group)
            finally:
                self._muted = False

    # -- installation --------------------------------------------------
    def install(self, layer_modules: dict[str, tuple[str, ...]]) -> None:
        """Wrap every layer before ``load_all()`` imports the query modules.

        Modules imported here or earlier may have bound the original
        functions with ``from x import f``; the last step points those
        names at the wrappers too. Modules imported later bind the
        wrappers themselves.
        """
        self._patch_py4j()
        originals: dict[int, object] = {}
        for layer, modules in layer_modules.items():
            for modname in modules:
                mod = importlib.import_module(modname)
                for name, fn in list(vars(mod).items()):
                    if name.startswith("_") or not _plain_function(fn, modname):
                        continue
                    span_name = f"{layer}.{name}"
                    group = None
                    if (modname, name) == CC_FUNCTION:
                        span_name, group = "operators.cc", "build/cc"
                    w = self._wrap(fn, span_name, layer, group)
                    setattr(mod, name, w)
                    originals[id(fn)] = w
                    self.wrapped[layer] = self.wrapped.get(layer, 0) + 1
        for modname, name in MEMO_FUNCTIONS:
            mod = importlib.import_module(modname)
            fn = getattr(mod, name)
            w = self._wrap(fn, "queries.memo", "queries", None)
            setattr(mod, name, w)
            originals[id(fn)] = w
        self._patch_cuts()
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("pyield_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None and w is not obj:
                    setattr(mod, name, w)

    def _wrap(self, fn, span_name: str, layer: str, group: str | None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(span_name, layer, group):
                return fn(*args, **kwargs)

        return wrapper

    def _patch_py4j(self) -> None:
        import py4j.clientserver as cs

        orig = cs.ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            if tracer.active and not tracer._muted:
                if tracer.stack and threading.get_ident() == tracer._thread:
                    tracer.stack[-1].py4j += 1
                else:
                    tracer.py4j_elsewhere += 1
            return orig(conn, command)

        cs.ClientServerConnection.send_command = send_command

    def _patch_cuts(self) -> None:
        # On Spark 4.1 the concrete class is the classic one; patching
        # pyspark.sql.DataFrame would count nothing.
        from pyspark.sql.classic.dataframe import DataFrame

        for meth in CUT_METHODS:
            fn = getattr(DataFrame, meth)
            setattr(DataFrame, meth, self._wrap(fn, f"operators.cut.{meth}", "operators", None))


def _plain_function(obj, modname: str) -> bool:
    """A module's own public build-time function (not a class, UDF or generator)."""
    return (
        inspect.isfunction(obj)
        and obj.__module__ == modname
        and not inspect.isgeneratorfunction(obj)
    )
