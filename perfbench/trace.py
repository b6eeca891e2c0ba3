"""In-memory span recorder, self-time arithmetic and the plan exchange
counter.

A span is (id, name, start_ns, end_ns, parent_id, run_id). Spans are kept
in a list while the benchmark runs and written out once at the end. A
span's self time is its duration minus the part of its interval that its
direct children cover (children of one parent run one at a time here, so
covered time is the merged union of the child intervals clipped to the
parent).
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass(frozen=True)
class Span:
    id: int
    name: str
    start_ns: int
    end_ns: int
    parent: int | None
    run_id: str

    @property
    def dur_ns(self) -> int:
        return self.end_ns - self.start_ns


class Tracer:
    """Records spans around calls the benchmark makes into a layer.

    With ``enabled=False`` ``span()`` still yields but records nothing, so
    the same code runs traced and untraced."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter_ns()
        try:
            yield
        finally:
            t1 = time.perf_counter_ns()
            self._stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent, self.run_id))

    def add(self, name: str, start_ns: int, end_ns: int) -> None:
        """Record an already-timed interval (for tight per-doc loops) as a
        child of the innermost open span."""
        if not self.enabled:
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(self._next, name, start_ns, end_ns, parent,
                               self.run_id))
        self._next += 1

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.id):
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "start_ns": s.start_ns,
                    "end_ns": s.end_ns, "parent": s.parent,
                    "run_id": s.run_id}) + "\n")


def self_times(spans: list[Span]) -> dict[int, int]:
    """span id -> self time in ns (duration minus child-covered time)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0
        cur_a = cur_b = None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start_ns):
            a, b = max(c.start_ns, s.start_ns), min(c.end_ns, s.end_ns)
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
        out[s.id] = s.dur_ns - covered
    return out


def total_by_name(spans: list[Span], self_time: bool = False
                  ) -> dict[str, int]:
    """name -> summed duration (or self time) in ns."""
    st = self_times(spans) if self_time else None
    out: dict[str, int] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0) + (st[s.id] if st else s.dur_ns)
    return out


def durations(spans: list[Span], name: str) -> list[float]:
    """Durations in seconds of every span called `name`, in start order."""
    return [s.dur_ns / 1e9 for s in sorted(spans, key=lambda s: s.start_ns)
            if s.name == name]


_TREE_PREFIX = re.compile(r"^[\s:|+\-*]*")


def count_exchanges(plan: str) -> int:
    """Exchange operators in a physical plan's tree text.

    Counts shuffle and broadcast exchanges; a ReusedExchange moves no new
    data and is not counted. For an adaptive plan printed with both an
    initial and a final plan, only the final plan counts. Detail sections
    of a formatted explain (after the tree's first blank line) are
    skipped."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1]
        plan = plan.split("== Initial Plan ==", 1)[0]
    n = 0
    started = False
    for line in plan.splitlines():
        if not line.strip():
            if started:
                break
            continue
        if line.startswith("=="):
            continue
        started = True
        token = _TREE_PREFIX.sub("", line).split(" ", 1)[0]
        if token.endswith("Exchange") and token != "ReusedExchange":
            n += 1
    return n
