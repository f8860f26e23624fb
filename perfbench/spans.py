"""In-memory span recorder for the benchmark's traced runs.

A span is recorded around each call the benchmark makes into a layer's
public function: (id, name, layer, start, end, parent, root). Spans stay in
memory and are written out once, when the run ends. Per-layer self time
is a span's duration minus the part of its interval its children cover.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time


class Tracer:
    """Records spans when ``enabled``; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        """``name`` is ``<layer>.<call>``; the layer is the part before the
        first dot."""
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": name.split(".", 1)[0],
            "parent": self._stack[-1] if self._stack else None,
            "root": self._stack[0] if self._stack else sid,
            "start": self.clock(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = self.clock()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def by_root(spans: list[dict]) -> dict[int, dict[str, float]]:
    """Root span id → {span name: summed self time under that root}. A
    root is one set-up or one pass, so each layer's time per pass is one
    entry here."""
    selfs = self_times(spans)
    out: dict[int, dict[str, float]] = {}
    for s in spans:
        per = out.setdefault(s["root"], {})
        per[s["name"]] = per.get(s["name"], 0.0) + selfs[s["id"]]
    return out


def median_self(spans: list[dict], name: str, root: str | None = None) -> float:
    """Median, over the roots (named ``root``, if given) that call
    ``name``, of its self time under each root; 0.0 when none did."""
    names = {s["id"]: s["name"] for s in spans}
    per = [r[name] for rid, r in by_root(spans).items()
           if name in r and root in (None, names[rid])]
    return float(statistics.median(per)) if per else 0.0
