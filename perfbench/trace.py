"""In-memory spans recorded by the benchmark around its calls into the
program's layers, plus the summary statistics the benchmark reports."""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional, Sequence


class Tracer:
    """Spans with name, start, end, parent and trace (root span) id.

    Disabled tracers record nothing, so the untraced runs that give the
    end-to-end metrics pay only for an empty context manager."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[dict] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "trace": self.spans[parent]["trace"] if parent is not None else len(self.spans),
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {"spans": self.spans, "self_s": self_times(self.spans)}, f, indent=1
            )


def _covered(intervals: List[tuple], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: Sequence[dict]) -> Dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    its interval that its children cover, summed over spans of a name."""
    children: Dict[int, List[tuple]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: Dict[str, float] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        own = dur - _covered(children.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def median(values: Sequence[float]) -> Optional[float]:
    return statistics.median(values) if values else None
