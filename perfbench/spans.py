"""In-memory span recorder for the traced run.

Spans are recorded from the benchmark's side of each layer boundary:
the harness wraps the public functions of ``fletcher_spark.session``,
``io``, ``operators.*`` and ``pipeline.*`` and every registry callable,
and counts py4j round trips at the client's ``send_command``.  Nothing
inside ``fletcher_spark`` is edited; the wrappers are swapped into the
module namespaces (and into every ``from ... import`` binding already
taken) so calls made through any of them are seen.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import sys
import time
from dataclasses import dataclass

#: Layer of a module, by dotted-name prefix (first match wins).
LAYER_OF_MODULE = (
    ("fletcher_spark.session", "session"),
    ("fletcher_spark.io", "io"),
    ("fletcher_spark.operators", "operators"),
    ("fletcher_spark.pipeline", "pipeline"),
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for a root
    query: str  # "<pass>:<query>", "" outside a query


class Tracer:
    """Records spans while ``on``; a wrapper called while off only
    forwards the call, so one process can time traced and untraced
    passes over the same wrapped functions."""

    def __init__(self) -> None:
        self.on = False
        self.spans: list[Span] = []
        self.query = ""
        self.py4j_calls = 0
        self._stack: list[int] = []
        self._wrapped: dict[int, object] = {}  # id(original) -> its wrapper

    def open(self, name: str, layer: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self.query))
        sid = len(self.spans) - 1
        self._stack.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid].end = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = self.open(name, layer) if self.on else -1
        try:
            yield
        finally:
            if sid >= 0:
                self.close(sid)

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            sid = tracer.open(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sid)

        traced.__perfbench_original__ = fn
        return traced


def _layer(module_name: str) -> str | None:
    for prefix, layer in LAYER_OF_MODULE:
        if module_name == prefix or module_name.startswith(prefix + "."):
            return layer
    return None


def _is_public_function(mod, attr: str, obj) -> bool:
    return (
        not attr.startswith("_")
        and inspect.isfunction(obj)
        and obj.__module__ == mod.__name__
        # pandas_udf/udf results are functions carrying eval metadata;
        # Spark reads those attributes, so they stay unwrapped
        and not hasattr(obj, "evalType")
        and not hasattr(obj, "__perfbench_original__")
    )


def install(tracer: Tracer) -> int:
    """Wrap every public function of the traced layers and rebind every
    reference to it in loaded ``fletcher_spark`` modules.  Call before
    ``registry.load_all()``; call :func:`rebind` after it.  Returns the
    number of functions wrapped."""
    import fletcher_spark

    for info in pkgutil.walk_packages(fletcher_spark.__path__, "fletcher_spark."):
        if _layer(info.name) is not None:
            importlib.import_module(info.name)
    for name, mod in list(sys.modules.items()):
        layer = _layer(name)
        if layer is None or mod is None:
            continue
        for attr, obj in list(vars(mod).items()):
            if _is_public_function(mod, attr, obj):
                wrapped = tracer.wrap(obj, f"{name.rsplit('.', 1)[-1]}.{attr}", layer)
                setattr(mod, attr, wrapped)
                tracer._wrapped[id(obj)] = wrapped
    rebind(tracer)
    _count_py4j(tracer)
    return len(tracer._wrapped)


def rebind(tracer: Tracer) -> None:
    """Point every ``from ... import`` binding in loaded ``fletcher_spark``
    modules at the wrapper of the function it names."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == "fletcher_spark" or name.startswith("fletcher_spark.")):
            continue
        for attr, obj in list(vars(mod).items()):
            wrapped = tracer._wrapped.get(id(obj))
            if wrapped is not None and obj is wrapped.__perfbench_original__:
                setattr(mod, attr, wrapped)


def wrap_queries(tracer: Tracer, queries: dict) -> None:
    """Wrap each registry callable in place as a ``queries`` span."""
    for qname, fn in list(queries.items()):
        queries[qname] = tracer.wrap(fn, f"queries.{qname}", "queries")


def _count_py4j(tracer: Tracer) -> None:
    from py4j import clientserver, java_gateway

    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        send = cls.send_command

        def counted(self, command, *args, _send=send, **kwargs):
            if tracer.on:
                tracer.py4j_calls += 1
            return _send(self, command, *args, **kwargs)

        cls.send_command = counted
