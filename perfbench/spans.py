"""In-memory span recorder for the traced run.

Each span records its name, start, end, parent and trace id (the
replay it belongs to). Spans stay in memory and are written out once,
when the run ends. A layer's self time is its span's duration minus
the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Callable, Iterator


class Tracer:
    def __init__(self, clock: Callable[[], float] = time.perf_counter,
                 on_enter: Callable[[dict], None] | None = None,
                 on_exit: Callable[[dict, dict | None], None] | None = None):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._clock = clock
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextmanager
    def span(self, name: str, trace: int | None = None,
             **attrs) -> Iterator[dict]:
        parent = self._stack[-1] if self._stack else None
        if trace is None and parent is not None:
            trace = self.spans[parent]["trace"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "trace": trace, "start": self._clock(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._on_enter:
            self._on_enter(rec)
        try:
            yield rec
        finally:
            rec["end"] = self._clock()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(rec, self.spans[parent] if parent is not None
                              else None)

    def self_time(self, span_id: int) -> float:
        """Duration of the span minus the union of its children's
        intervals, clipped to the span."""
        rec = self.spans[span_id]
        lo, hi = rec["start"], rec["end"]
        kids = sorted((max(c["start"], lo), min(c["end"], hi))
                      for c in self.spans
                      if c["parent"] == span_id and c["end"] is not None)
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in kids:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return (hi - lo) - covered

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self, name: str) -> list[float]:
        return [self.self_time(s["id"]) for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def dump(self, path: str) -> None:
        out = [dict(s, self_s=self.self_time(s["id"])) for s in self.spans
               if s["end"] is not None]
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)
