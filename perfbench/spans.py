"""In-memory spans for the traced run.

A span records its name, start, end, parent and the id of the op it
belongs to. Spans are only appended to a list while the run goes and are
written out once at the end; self time is derived from them afterwards.
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
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op_id"]
        rec = {"id": idx, "name": name, "parent": parent, "op_id": op_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part covered by its children.

        Children of one span run one after another, so their covered part
        is the sum of their durations clipped to the parent's interval."""
        covered = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            p = s["parent"]
            if p is not None:
                parent = self.spans[p]
                lo, hi = max(s["start"], parent["start"]), min(s["end"], parent["end"])
                covered[p] += max(0.0, hi - lo)
        return {s["id"]: (s["end"] - s["start"]) - covered[s["id"]] for s in self.spans}

    def total(self, name: str, pass_name: str | None = None) -> float:
        """Summed duration of spans called ``name`` (inside one pass)."""
        return sum(s["end"] - s["start"] for s in self.find(name, pass_name))

    def find(self, name: str, pass_name: str | None = None) -> list[dict]:
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None:
                continue
            if pass_name is not None and self._pass_of(s) != pass_name:
                continue
            out.append(s)
        return out

    def _pass_of(self, s: dict) -> str | None:
        while s["parent"] is not None:
            s = self.spans[s["parent"]]
            if s["name"].startswith("pass."):
                return s["name"]
        return None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
