"""In-memory spans around the program's public entry points.

Only the traced run installs any of this. A span records name, start,
end, parent span and op id, plus the py4j call commands sent while it
was the innermost open span. Each span runs under its own Spark job
group ``<op>/<span id>``, so jobs in the event log map back to spans.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (defining module, attribute, span name). Functions are re-bound in
# every module that imported them; ``Class.method`` entries patch the
# class once.
TARGETS = [
    ("lightlane_spark.sources.parquet", "read_table", "sources.read_table"),
    ("lightlane_spark.sources.jdbc", "read_jdbc", "sources.read_jdbc"),
    ("lightlane_spark.operators.extract", "range_partitioned_read", "extract.range_read"),
    ("lightlane_spark.jobspec", "build_pipeline", "jobspec.build"),
    ("lightlane_spark.pipeline", "Pipeline.run", "pipeline.run"),
    ("lightlane_spark.loaders.loader", "Loader.execute", "loader.execute"),
    ("lightlane_spark.loaders.text_sinks", "write_csv", "sinks.csv"),
    ("lightlane_spark.loaders.text_sinks", "write_hive_text", "sinks.hive_text"),
    ("lightlane_spark.cache", "tracked_persist", "cache.persist"),
]
SCANNED_PREFIXES = ("lightlane_spark", "__spark_entry__")


@dataclass
class Span:
    id: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc=None) -> None:
        self.spans: list[Span] = []
        self.op: str | None = None
        self._stack: list[Span] = []
        self._sc = sc
        self._paused = 0
        self._main = threading.get_ident()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, self.op, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    @contextmanager
    def paused(self):
        """The tracer's own py4j traffic is not counted."""
        self._paused += 1
        try:
            yield
        finally:
            self._paused -= 1

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        with self.paused():
            if s is None:
                self._sc._jsc.clearJobGroup()
            else:
                gid = group_id(s)
                self._sc.setJobGroup(gid, gid)

    def count_py4j(self, client) -> None:
        """Count py4j call commands (``c\\n``) per innermost span.
        Memory-release commands are not calls and are not counted."""
        send = client.send_command

        def send_command(command, *args, **kwargs):
            if (command.startswith("c\n") and not self._paused and self._stack
                    and threading.get_ident() == self._main):
                self._stack[-1].py4j += 1
            return send(command, *args, **kwargs)

        client.send_command = send_command


def group_id(s: Span) -> str:
    return f"{s.op or '-'}/{s.id}"


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover (overlapping
    children are counted once; parts outside the span are ignored)."""
    iv = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
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
    return span.dur - covered


def _resolve(target: tuple[str, str, str]):
    mod_name, attr, _ = target
    owner = importlib.import_module(mod_name)
    if "." in attr:
        cls_name, attr = attr.split(".")
        owner = getattr(owner, cls_name)
    return owner, attr, getattr(owner, attr)


def import_all() -> None:
    """Import every program module, so none binds a wrapper late."""
    import lightlane_spark

    for m in pkgutil.walk_packages(lightlane_spark.__path__, "lightlane_spark."):
        importlib.import_module(m.name)


def scanned_modules():
    return [m for name, m in list(sys.modules.items())
            if m is not None and name.startswith(SCANNED_PREFIXES)]


class Patcher:
    """Installs span wrappers at every place a caller looks a target up,
    and restores the originals on :meth:`uninstall`."""

    def __init__(self, tracer: Tracer, targets=TARGETS) -> None:
        self.tracer = tracer
        self.resolved = [(*_resolve(t), t[2]) for t in targets]
        self._undo: list[tuple[object, str, object]] = []

    @property
    def originals(self) -> list:
        return [orig for _, _, orig, _ in self.resolved]

    def install(self) -> None:
        for owner, attr, orig, name in self.resolved:
            w = self._wrap(orig, name)
            if isinstance(owner, type):
                self._set(owner, attr, w)
                continue
            for m in scanned_modules():
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._set(m, k, w)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _wrap(self, fn, name: str):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            attrs = {}
            if name == "loader.execute":
                attrs["mode"] = args[0].mode.value
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        wrapper.__traced_original__ = fn
        return wrapper
