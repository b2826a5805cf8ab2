"""In-memory spans recorded around calls into the engine's layers.

A span has a name, start, end, parent span and the item it belongs to.
Spans are kept in a list and written out once, when the run ends. A
span's self time is its duration minus the time its direct children
cover. A disabled tracer records nothing.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, item: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        if item is None and parent is not None:
            item = self.spans[parent]["item"]
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "item": item, "parent": parent,
             "start": time.perf_counter(), "end": None, **attrs}
        )
        self._open.append(sid)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
