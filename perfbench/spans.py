"""In-memory span recorder for traced runs.

A span has a name, start and end (epoch seconds), a parent span id and
the id of the request it belongs to. Spans stay in memory; run.py writes
them out once, when the run ends.
"""

from __future__ import annotations

from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, req: int,
            parent: int | None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent, "req": req})
        return len(self.spans) - 1

    def innermost(self, req: int, t: float) -> int | None:
        """Deepest span of request `req` whose interval contains t."""
        best, depth = None, -1
        for s in self.spans:
            if s["req"] == req and s["start"] <= t <= s["end"]:
                d = self._depth(s["id"])
                if d > depth:
                    best, depth = s["id"], d
        return best

    def _depth(self, sid: int) -> int:
        d = 0
        while self.spans[sid]["parent"] is not None:
            sid, d = self.spans[sid]["parent"], d + 1
        return d


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of it that its children cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children[s["id"]]):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["name"]] += (s["end"] - s["start"]) - covered
    return dict(out)
