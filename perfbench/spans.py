"""Span recorder for the traced run.

Spans nest run -> pass -> query -> phase (``construct`` / ``exec``) ->
call, where a call span covers one call into a public function of a
package module. :meth:`Tracer.instrument` installs the call wrappers by
replacing each plain Python function defined in a package module,
wherever a package module or the entry module holds a reference to it.
UDF objects are left alone. Around every query, phase and call span the
Spark job description is set to ``<query>/<phase>[/<layer>.<func>]``,
so the event log names what launched each job. Spans stay in memory
until the run writes them out.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import time
import uuid
from contextlib import contextmanager

DESC_KEY = "spark.job.description"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    def _description(self) -> str | None:
        named = {s["kind"]: s["name"] for s in self._stack}
        if "query" not in named or "phase" not in named:
            return None
        desc = f"{named['query']}/{named['phase']}"
        if "call" in named:
            desc += f"/{named['call']}"
        return desc

    @contextmanager
    def span(self, name: str, kind: str, layer: str | None = None):
        parent = self._stack[-1]["id"] if self._stack else None
        prev = self._description()
        rec = {"id": next(self._ids), "parent": parent, "run": self.run_id,
               "name": name, "kind": kind, "layer": layer,
               "start": time.time(), "end": None}
        self._stack.append(rec)
        desc = self._description()
        if desc is not None and desc != prev:
            self.sc.setLocalProperty(DESC_KEY, desc)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)
            if desc is not None and desc != prev:
                self.sc.setLocalProperty(DESC_KEY, prev)

    def _wrap(self, fn, layer: str):
        label = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label, "call", layer):
                return fn(*args, **kwargs)

        return traced

    def instrument(self, package: str, extra_modules=()) -> int:
        """Wrap the public functions of every module under ``package``;
        returns how many functions were wrapped."""
        pkg = importlib.import_module(package)
        modules = [pkg] + [
            importlib.import_module(m.name)
            for m in pkgutil.walk_packages(pkg.__path__, package + ".")
        ]
        wrapped = {}
        for mod in modules:
            layer = (mod.__name__.split(".") + [""])[1]
            for name, fn in vars(mod).items():
                if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                        and not name.startswith("_")
                        and not hasattr(fn, "evalType")):  # a UDF
                    wrapped[fn] = self._wrap(fn, layer)
        for mod in modules + list(extra_modules):
            for name, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    setattr(mod, name, wrapped[val])
        return len(wrapped)
