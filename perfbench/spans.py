"""Spans around the calls into each dftly-spark layer, from outside the program.

``Tracer.install`` wraps the public entry points of every layer named in
``LAYERS`` (and ``DataFrameReader.parquet`` for table reads), so a traced run
records, per query execution, each layer's self time: its span's duration
minus the part covered by nested spans.  The contract's query function call and the
noop-sink action are timed by the runner around ``Tracer.query``; whatever
the spans do not cover is returned as ``unattributed_s``, never hidden.

Spark jobs are attributed through job groups named
``<case>#<rep>|<phase>|<layer>``: the phase is ``build`` or ``action`` and the
layer is the innermost of ``JOB_LAYERS`` open when the job was submitted
(``contract`` when none is).  The event-log reducer reads the group back from
each stage's properties.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager

#: Layers in the order their times are reported.  ``contract`` is the query
#: function call itself (self time only); ``action`` is the noop-sink execution.
LAYERS = ("contract", "strform", "parser", "nodes", "pipeline", "io", "ops", "action")
#: Layers whose spans get their own job group (the others launch no jobs).
JOB_LAYERS = ("io", "ops", "pipeline")
#: Per-execution counters: layer work done, as counts.
COUNTERS = (
    "strform.calls",
    "parser.nodes",
    "nodes.columns",
    "pipeline.steps",
    "io.reads",
    "ops.calls",
)


def group_id(qid: str, phase: str, layer: str) -> str:
    return f"{qid}|{phase}|{layer}"


def parse_group(group: str) -> tuple[str, str, str] | None:
    parts = group.rsplit("|", 2)
    return (parts[0], parts[1], parts[2]) if len(parts) == 3 else None


def _program_modules():
    return [
        m
        for name, m in list(sys.modules.items())
        if m is not None and (name == "__spark_entry__" or name.startswith("dftly_spark"))
    ]


def _called_by_queries(module: str) -> bool:
    """Modules whose calls into ``dftly_spark.ops`` count as ops calls: the
    package itself, the contract's query functions and pipeline steps, not ops' own calls
    between their submodules."""
    return module == "dftly_spark.ops" or module.startswith(
        ("dftly_spark.contract", "dftly_spark.pipeline"))


class Tracer:
    """Span stack plus per-execution accumulators for one Spark session."""

    def __init__(self, sc):
        self._sc = sc
        self._stack: list[list] = []  # [layer, start, child_time]
        self._groups: list[str] = []
        self._patches: list[tuple[object, str, object, object]] | None = None
        self._qid: str | None = None
        self.self_s: dict[str, float] = {}
        self.counts: dict[str, int] = {}

    # -- spans ------------------------------------------------------------

    @property
    def active(self) -> bool:
        return self._qid is not None

    def enter(self, layer: str) -> None:
        self._stack.append([layer, time.perf_counter(), 0.0])
        if layer in JOB_LAYERS:
            self._push_group(group_id(self._qid, "build", layer))

    def exit(self) -> None:
        layer, start, child = self._stack.pop()
        dur = time.perf_counter() - start
        self.self_s[layer] = self.self_s.get(layer, 0.0) + dur - child
        if self._stack:
            self._stack[-1][2] += dur
        if layer in JOB_LAYERS:
            self._pop_group()

    def top(self) -> str | None:
        return self._stack[-1][0] if self._stack else None

    def count(self, name: str, n: int) -> None:
        if self.active:
            self.counts[name] = self.counts.get(name, 0) + n

    def _push_group(self, group: str) -> None:
        self._groups.append(group)
        self._sc.setJobGroup(group, group)

    def _pop_group(self) -> None:
        self._groups.pop()
        self._sc.setJobGroup(self._groups[-1], self._groups[-1])

    @contextmanager
    def query(self, qid: str):
        """Trace one execution of a query: build, then action.

        Yields a callable that switches the job group from the build phase
        to the action; the runner calls it between the query function and the noop
        sink.  After the block, ``self_s`` and ``counts`` hold the
        execution's layer self times and counters.
        """
        self._qid = qid
        self.self_s, self.counts = {}, {c: 0 for c in COUNTERS}
        self._groups = []
        self._push_group(group_id(qid, "build", "contract"))

        def start_action() -> None:
            self._groups = []
            self._push_group(group_id(qid, "action", "action"))

        try:
            yield start_action
        finally:
            self._qid = None
            self._stack.clear()
            self._sc._jsc.clearJobGroup()

    # -- wrapping -----------------------------------------------------------

    def _span(self, layer: str, fn: Callable, counter: str | None = None,
              measure: Callable | None = None, outermost: bool = False) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.active or (outermost and tracer.top() == layer):
                return fn(*args, **kwargs)
            tracer.enter(layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.exit()
            if counter is not None:
                tracer.count(counter, measure(out) if measure else 1)
            return out

        return wrapped

    def _counting(self, counter: str, fn: Callable) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            tracer.count(counter, 1)
            return fn(*args, **kwargs)

        return wrapped

    def _plan(self) -> list[tuple[object, str, object, object]]:
        """(owner, attribute, original, wrapped) for every entry point of the
        currently imported program, including ``from x import f`` aliases."""
        import dftly_spark.io as io_mod
        import dftly_spark.ops as ops_mod
        import dftly_spark.parser as parser_mod
        import dftly_spark.pipeline as pipeline_mod
        from pyspark.sql.readwriter import DataFrameReader

        aliases: dict[int, list[tuple[object, str]]] = {}
        for m in _program_modules():
            for attr, val in vars(m).items():
                if inspect.isfunction(val):
                    aliases.setdefault(id(val), []).append((m, attr))
        plan = []

        def function(fn, wrapped, callers=lambda module: True) -> None:
            for m, attr in aliases.get(id(fn), []):
                if callers(m.__name__):
                    plan.append((m, attr, fn, wrapped))

        def attribute(owner, name: str, wrap) -> None:
            orig = owner.__dict__[name]
            plan.append((owner, name, orig, wrap(orig)))

        def method(layer: str, counter=None, measure=None):
            return lambda cm: classmethod(self._span(layer, cm.__func__, counter, measure))

        function(parser_mod.parse_str, self._span("strform", parser_mod.parse_str, "strform.calls"))
        P = parser_mod.Parser
        attribute(P, "to_nodes", method("parser", "parser.nodes", len))
        attribute(P, "__call__", lambda f: self._span("parser", f, outermost=True))
        attribute(P, "to_spark", method("nodes", "nodes.columns", len))
        attribute(P, "expr_to_spark", method("nodes", "nodes.columns"))
        function(pipeline_mod.run_pipeline, self._span("pipeline", pipeline_mod.run_pipeline))
        function(pipeline_mod._apply_step, self._counting("pipeline.steps", pipeline_mod._apply_step))
        attribute(DataFrameReader, "parquet", lambda f: self._span("io", f, "io.reads"))
        function(io_mod.normalize_event_ts, self._span("io", io_mod.normalize_event_ts))
        for name in ops_mod.__all__:
            fn = getattr(ops_mod, name, None)
            if inspect.isfunction(fn):
                function(fn, self._span("ops", fn, "ops.calls"), _called_by_queries)
        return plan

    def install(self) -> None:
        """Wrap the layers' entry points (the patch list is built once)."""
        if self._patches is None:
            self._patches = self._plan()
        for owner, attr, _, wrapped in self._patches:
            setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig, _ in self._patches or []:
            setattr(owner, attr, orig)
