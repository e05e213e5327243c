"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end and the id of the span open when it began;
all spans of one run share a trace id. Nothing is written until ``dump``,
which adds each span's self time (its duration minus the time its children
cover). A disabled tracer records nothing.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def with_self_time(self) -> list[dict]:
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {**s, "trace_id": self.trace_id, "start": s["start"] - t0,
             "end": s["end"] - t0, "self_s": s["end"] - s["start"] - child_s[i]}
            for i, s in enumerate(self.spans)
        ]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.with_self_time()},
                      f, indent=1)
