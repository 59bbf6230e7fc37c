"""In-memory spans recorded at layer boundaries, from outside the engine.

A span has a name, start, end, parent and operation id.  The benchmark
drives one operation at a time, so one stack of open spans is enough: a
call made on the streaming promoter's callback thread happens while the
main thread waits inside the drain span, and nests under it.  Self time is
a span's duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def wrap_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self.wrap(name, getattr(cls, attr)))

    def wrap_module(self, module, prefix: str) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, fn in list(vars(module).items()):
            if (
                callable(fn)
                and not attr.startswith("_")
                and getattr(fn, "__module__", None) == module.__name__
                and not isinstance(fn, type)
            ):
                setattr(module, attr, self.wrap(f"{prefix}.{attr}", fn))

    # ---------------------------------------------------------- summaries
    def self_times(self, ops: set[str]) -> dict[str, list[float]]:
        """Self time of each span of the given operations, grouped by name."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children[s.parent].append(i)
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.op not in ops:
                continue
            covered, last = 0.0, s.start
            for c in sorted(children[i], key=lambda j: self.spans[j].start):
                lo, hi = max(self.spans[c].start, last), min(self.spans[c].end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.name].append((s.end - s.start) - covered)
        return out

    def durations(self, ops: set[str]) -> dict[str, list[float]]:
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            if s.op in ops:
                out[s.name].append(s.end - s.start)
        return out

    def dump(self, path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))
