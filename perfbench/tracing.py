"""Layer spans for the traced run.

:class:`Tracer` wraps every public function and public method defined in
each module of the engine package and records, per layer, the span count
and the self time (a span's duration minus the time its child spans
cover).  A layer is the package's first-level module or subpackage:
``drm``, ``kernels``, ``algorithms``, ``operators``, ``functions``,
``sources``, ``streaming``, ``cache`` and so on.

Modules that imported a function by name before tracing started
(``from ...sources.tables import load_table``) hold their own reference,
so :meth:`Tracer.install` also rebinds every such reference in every
loaded module, and :meth:`Tracer.uninstall` puts all of them back.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time
from collections import Counter, defaultdict


class Tracer:
    def __init__(self, package: str) -> None:
        self.package = package
        self.self_s: defaultdict[str, float] = defaultdict(float)
        self.calls: Counter[str] = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        # (owner, attribute, original) in installation order
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------- #

    def _wrap(self, layer: str, fn):
        local = self._local

        @functools.wraps(fn)
        def span(*args, **kwargs):
            stack = getattr(local, "stack", None)
            if stack is None:
                stack = local.stack = []
            stack.append(0.0)  # time covered by this span's children
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                child = stack.pop()
                if stack:
                    stack[-1] += dt
                with self._lock:
                    self.self_s[layer] += dt - child
                    self.calls[layer] += 1

        span.__perfbench_original__ = fn
        return span

    def take(self) -> tuple[dict[str, float], dict[str, int]]:
        """Return and reset the per-layer self times and span counts."""
        with self._lock:
            out = dict(self.self_s), dict(self.calls)
            self.self_s.clear()
            self.calls.clear()
        return out

    # -- installation ------------------------------------------------- #

    def _modules(self):
        root = importlib.import_module(self.package)
        for info in pkgutil.walk_packages(root.__path__, self.package + "."):
            importlib.import_module(info.name)
        prefix = self.package + "."
        return [
            m for n, m in sorted(sys.modules.items()) if n.startswith(prefix)
        ]

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, vars(owner)[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        if self._patches:
            raise RuntimeError("tracer already installed")
        wrapped: dict[int, object] = {}  # id(original function) -> span
        for mod in self._modules():
            layer = mod.__name__.split(".")[1]
            for name, obj in list(vars(mod).items()):
                defined_here = getattr(obj, "__module__", None) == mod.__name__
                if name.startswith("_") or not defined_here:
                    continue
                if inspect.isfunction(obj):
                    wrapped[id(obj)] = self._wrap(layer, obj)
                elif inspect.isclass(obj):
                    self._install_class(layer, obj)
        # rebind the module attributes and every by-name import of them
        for mod in list(sys.modules.values()):
            namespace = getattr(mod, "__dict__", None)
            if not isinstance(namespace, dict):
                continue
            for name, obj in list(namespace.items()):
                span = wrapped.get(id(obj))
                if span is not None and span.__perfbench_original__ is obj:
                    self._patch(mod, name, span)

    def _install_class(self, layer: str, cls: type) -> None:
        for name, obj in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            if inspect.isfunction(obj):
                self._patch(cls, name, self._wrap(layer, obj))
            elif isinstance(obj, (staticmethod, classmethod)):
                self._patch(cls, name, type(obj)(self._wrap(layer, obj.__func__)))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)
