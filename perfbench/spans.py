"""In-memory spans around the package's public layers.

The benchmark does not change package code.  ``Tracer.install`` replaces
every public function of ``pyjanitor_spark.sources``,
``pyjanitor_spark.operators`` and ``pyjanitor_spark.streaming`` (and the
re-exports in ``pyjanitor_spark``) with a wrapper that records a span,
and ``Tracer.uninstall`` puts the originals back.

Each span becomes the Spark job group of the jobs started inside it, so
the event-log reducer can attribute every job to the innermost span
(and from there to an operation, a phase and a layer).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGES = (
    "pyjanitor_spark.sources",
    "pyjanitor_spark.operators",
    "pyjanitor_spark.streaming",
)
GROUP_PREFIX = "pb-span-"
# one self-time metric per operators module; a module added later is
# reported as operators.other until it is listed here
OPERATOR_MODULES = (
    "chemistry", "classify", "clean_names", "columns", "complete", "dedup",
    "domain", "filters", "groupby", "importance", "joins", "missing",
    "multimodal", "privacy", "reshape", "sampling", "similarity", "sketches",
    "text_analysis", "timeseries", "tokenize", "transforms", "vectorize",
    "xarray_compat", "other",
)
_JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)


def layer_of(fn) -> str:
    """``sources.read`` / ``sources.write`` / ``operators.<module>`` /
    ``streaming`` for a package function."""
    mod = fn.__module__
    if mod.startswith("pyjanitor_spark.sources"):
        return "sources.write" if fn.__name__.startswith(("write_", "zorder")) else "sources.read"
    if mod.startswith("pyjanitor_spark.operators"):
        name = mod.rsplit(".", 1)[-1]
        return "operators." + (name if name in OPERATOR_MODULES else "other")
    return "streaming"


def _modules(pkgname: str):
    pkg = importlib.import_module(pkgname)
    yield pkg
    for m in pkgutil.iter_modules(pkg.__path__):
        yield importlib.import_module(f"{pkgname}.{m.name}")


class Tracer:
    """Records spans in memory; each span is the job group of the Spark
    jobs started inside it."""

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        # streaming queries run their jobs under their own run id
        self.group_alias: dict[str, int] = {}

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, layer, name, time.perf_counter())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.id)
        self._stack.append(s.id)
        self._sc.setLocalProperty(_JOB_GROUP, f"{GROUP_PREFIX}{s.id}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._sc.setLocalProperty(
                _JOB_GROUP, f"{GROUP_PREFIX}{self._stack[-1]}" if self._stack else None
            )

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    # -- wrapping ------------------------------------------------------
    def _wrap(self, fn):
        layer = layer_of(fn)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        import pyjanitor_spark

        wrappers: dict[object, object] = {}
        for pkgname in PACKAGES:
            for mod in _modules(pkgname):
                for attr, fn in list(vars(mod).items()):
                    if (
                        attr.startswith("_")
                        or not inspect.isfunction(fn)
                        or not fn.__module__.startswith(pkgname)
                    ):
                        continue
                    if fn not in wrappers:
                        wrappers[fn] = self._wrap(fn)
                    self._patched.append((mod, attr, fn))
                    setattr(mod, attr, wrappers[fn])
        for attr, fn in list(vars(pyjanitor_spark).items()):
            if inspect.isfunction(fn) and fn in wrappers:
                self._patched.append((pyjanitor_spark, attr, fn))
                setattr(pyjanitor_spark, attr, wrappers[fn])

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()
        self._sc.setLocalProperty(_JOB_GROUP, None)

    # -- self time -----------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds per layer, each span minus the time its children cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            covered = sum(self.spans[c].end - self.spans[c].start for c in s.children)
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def calls(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0) + 1
        return out

    def resolve(self, group: str | None) -> Span | None:
        """The span a job group names, or None for jobs outside spans."""
        if group is None:
            return None
        if group in self.group_alias:
            return self.spans[self.group_alias[group]]
        if group.startswith(GROUP_PREFIX):
            return self.spans[int(group[len(GROUP_PREFIX):])]
        return None

    def ancestors(self, s: Span):
        while s is not None:
            yield s
            s = self.spans[s.parent] if s.parent is not None else None
