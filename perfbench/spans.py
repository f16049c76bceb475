"""In-memory span recorder for the traced benchmark run.

A span is ``(id, name, op, parent, start, end, attrs)``: ``op`` is the
identifier shared by every span of one benchmark operation, ``parent``
the id of the span that was open when this one began. Spans stay in
memory and are written out once, at exit, so recording costs two clock
reads and one list append.

The untraced run uses ``NullTracer``, whose ``span`` is a shared no-op
context manager: end-to-end metrics are measured with tracing off.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections.abc import Iterator


class NullTracer:
    enabled = False

    def span(self, name: str, **attrs) -> contextlib.AbstractContextManager:
        return contextlib.nullcontext()

    def new_op(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_op = 0

    def new_op(self) -> None:
        """Start a new operation: every span opened from now on carries
        its id (the benchmark issues one operation at a time)."""
        self._next_op += 1

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self._next_op,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Per span: its duration minus the part of its interval that
        its child spans cover (children may overlap; the union counts)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def top_level_seconds(self, since: float, until: float) -> float:
        """Summed duration of parentless spans inside [since, until]."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["parent"] is None and s["start"] >= since and s["end"] <= until
        )

    def write(self, path: str) -> None:
        selfs = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [
            {
                **{k: v for k, v in s.items() if k not in ("start", "end")},
                "start_s": s["start"] - t0,
                "dur_s": s["end"] - s["start"],
                "self_s": selfs[s["id"]],
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f, default=str)
