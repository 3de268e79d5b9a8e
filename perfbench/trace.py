"""In-memory spans, written to JSON once the run ends."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Records spans (name, start, end, parent, run id, and the index of
    the load they belong to, ``load``) when ``enabled``; always measures,
    so callers read durations the same way either way. Times are seconds
    since the tracer was made."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._t0 = time.perf_counter()
        self.load: int | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "load": self.load,
            "start": time.perf_counter() - self._t0,
        }
        if self.enabled:
            self.spans.append(rec)
            self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._open.pop()

    def durations(self, name: str, loads: set[int]) -> list[float]:
        """Durations of the spans called ``name`` in the given loads."""
        return [s["dur"] for s in self.spans if s["name"] == name and s["load"] in loads]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, "spans": self.spans}))
