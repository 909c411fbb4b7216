"""In-memory span recorder.  Each process keeps its own spans (name, start,
end, parent, attributes) and writes them to one JSON file when it is done;
files from different processes are joined on the wall clock."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans from any thread of one process; each thread nests its own."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; ``attrs`` may be extended inside
        through the yielded dict.  Yields ``None`` when tracing is off."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": None,
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "attrs": dict(attrs),
        }
        with self._lock:
            rec["id"] = f"{os.getpid()}:{len(self.spans)}"
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec["attrs"]
        finally:
            stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        tmp = f"{path}.tmp"
        with self._lock:
            spans = list(self.spans)
        with open(tmp, "w") as f:
            json.dump({"pid": os.getpid(), "spans": spans}, f)
        os.replace(tmp, path)


def load_spans(paths) -> list[dict]:
    """Every span from the given files, ordered by start time."""
    spans = []
    for path in paths:
        with open(path) as f:
            spans.extend(json.load(f)["spans"])
    spans.sort(key=lambda s: s["start"])
    return spans
