"""In-memory spans and the runtime wrappers that record them.

A span is (id, name, parent, start, end, attrs).  Spans nest by the
order in which they open: the innermost open span is the parent of
the next one.  Nothing is written until `dump()` at the end of a run.

`install()` wraps every public function of a program module and
rebinds each module-namespace name that refers to the original, so a
caller that did `from module import fn` at import time reaches the
wrapper too.  The program's source is not touched; `uninstall()`
restores the originals.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from stats import covered


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_original__ = fn
        return traced

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part its children cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        return {
            s.id: (s.end - s.start) - covered(children[s.id], s.start, s.end)
            for s in self.spans
        }

    def totals(self, within: set[int]) -> dict[str, tuple[float, int]]:
        """Span name -> (summed self time, call count), over the spans
        whose ids are in `within`."""
        selfs = self.self_times()
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            if s.id in within:
                out[s.name][0] += selfs[s.id]
                out[s.name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def descendants(self, root_ids: list[int]) -> set[int]:
        """Ids of the given spans and every span nested under them."""
        keep = set(root_ids)
        for s in self.spans:  # parents always precede children
            if s.parent in keep:
                keep.add(s.id)
        return keep

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def install(tracer: Tracer, modules: tuple[tuple[str, str], ...], prefix: str):
    """Wrap the public functions of each (module, span name) pair and
    rebind them in every loaded module under `prefix`.  Returns the
    undo list for `uninstall`."""
    undo = []
    # a module the program imports lazily is imported now, so that its
    # later `from module import fn` finds the wrappers
    wrapped = [(importlib.import_module(n), span) for n, span in modules]
    loaded = [m for n, m in list(sys.modules.items()) if n.startswith(prefix) and m]
    for mod, span_name in wrapped:
        mod_name = mod.__name__
        for attr, fn in list(vars(mod).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != mod_name
            ):
                continue
            wrapper = tracer.wrap(fn, f"{span_name}.{attr}")
            for m in loaded:
                for name, val in list(vars(m).items()):
                    if val is fn:
                        setattr(m, name, wrapper)
                        undo.append((m, name, fn))
    return undo


def uninstall(undo) -> None:
    for m, name, fn in reversed(undo):
        setattr(m, name, fn)
