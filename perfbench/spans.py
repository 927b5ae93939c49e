"""In-memory spans around the benchmark's calls into the engine's layers.

A span has a name, a start, an end and the id of the span that was open when
it started. Spans are recorded only while the tracer is enabled (the traced
run, `--trace 1`), kept in a list, and written as JSON when the run ends.
The per-layer table sums each name's total and self time (total minus the
part covered by its direct children).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def table(self) -> dict[str, dict]:
        """name -> {count, total_s, self_s} over closed spans."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = (
                    child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
                )
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            dur = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child_s.get(s["id"], 0.0)
        return out

    def format_table(self) -> str:
        rows = sorted(self.table().items(), key=lambda kv: -kv[1]["total_s"])
        lines = [f"{'span':<44} {'count':>6} {'total_s':>10} {'self_s':>10}"]
        for name, r in rows:
            lines.append(
                f"{name:<44} {r['count']:>6} {r['total_s']:>10.3f} {r['self_s']:>10.3f}"
            )
        return "\n".join(lines)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
