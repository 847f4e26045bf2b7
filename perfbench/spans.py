"""Span recorder for traced runs.

Wraps the program's public functions at their module attribute, from the
benchmark's side, so a call the program makes through that attribute
opens a span: name, start, end, parent span, and the Spark jobs the call
scheduled (the DAGScheduler's job-id counter sampled at entry and exit).
Spans stay in memory until the run ends. Calls nest on the driver thread,
so a span's self time is its duration minus its direct children's.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import statistics
import time
from collections import defaultdict
from collections.abc import Callable


@dataclasses.dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    child_s: float = 0.0
    child_jobs: int = 0

    @property
    def s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.s - self.child_s

    @property
    def self_jobs(self) -> int:
        return self.jobs - self.child_jobs


class Tracer:
    def __init__(self, job_counter: Callable[[], int]):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._jobs = job_counter
        self._undo: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        j0 = self._jobs()
        sp = Span(name, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.jobs = self._jobs() - j0
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.s
                self.spans[parent].child_jobs += sp.jobs

    def current(self) -> str | None:
        """Name of the innermost open span."""
        return self.spans[self._stack[-1]].name if self._stack else None

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Set ``owner.attr``; ``unwrap_all`` puts the original back."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    def under(self, ancestor: int) -> list[Span]:
        """Every span nested, at any depth, inside span ``ancestor``."""
        inside, out = {ancestor}, []
        for i in range(ancestor + 1, len(self.spans)):
            sp = self.spans[i]
            if sp.parent in inside:
                inside.add(i)
                out.append(sp)
        return out

    def per_call(self, name: str, parent_name: str) -> list[tuple[Span, dict]]:
        """Each span ``name`` directly under a span ``parent_name``, with
        its descendants' time and jobs summed by name:
        ``{child_name: (seconds, jobs)}``."""
        out = []
        for i, sp in enumerate(self.spans):
            if sp.name != name or sp.parent is None:
                continue
            if self.spans[sp.parent].name != parent_name:
                continue
            sums: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
            for ch in self.under(i):
                sums[ch.name][0] += ch.s
                sums[ch.name][1] += ch.jobs
            out.append((sp, {k: tuple(v) for k, v in sums.items()}))
        return out


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0
