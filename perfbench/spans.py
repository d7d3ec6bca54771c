"""Spans recorded by the benchmark around its calls into each layer.

A span is (id, parent, name, start, end) in epoch seconds. Spans stay in
memory and are written out once, when the run ends. A disabled tracer hands
out the same context manager but records nothing, so the untraced run pays
one attribute check per call site.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.cost_s = 0.0  # time spent recording, the tracer's own overhead

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        with self._lock:
            sid = next(self._ids)
            self.spans.append(
                {"id": sid, "parent": parent, "name": name, "start": start, "end": end}
            )
            self.cost_s += time.perf_counter() - t0
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, attrs: dict | None = None):
        """Times the block; yields a handle whose ``id`` child spans can use."""
        handle = _Open()
        if self.enabled:
            t0 = time.perf_counter()
            with self._lock:
                handle.id = next(self._ids)
                self.cost_s += time.perf_counter() - t0
        start = time.time()
        try:
            yield handle
        finally:
            if self.enabled:
                t0 = time.perf_counter()
                with self._lock:
                    self.spans.append(
                        {
                            "id": handle.id,
                            "parent": parent,
                            "name": name,
                            "start": start,
                            "end": time.time(),
                            "attrs": attrs or {},
                        }
                    )
                    self.cost_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Open:
    id: int | None = None
