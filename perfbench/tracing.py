"""In-memory span recorder for traced runs.

A span is (name, start, end, parent, trace id) on the monotonic clock
of the process that recorded it; the spans of one request or one
query share a trace id. Spans stay in memory and are written once, at
exit. A disabled tracer records nothing and costs one attribute test
per call, so untraced runs carry no tracing work.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def new_id(self) -> int:
        with self._lock:
            return next(self._ids)

    @contextlib.contextmanager
    def span(self, name: str, trace: int, parent: int | None = None, **attrs):
        """Record one span; yields its id (None when disabled) so that
        nested calls can name it as their parent."""
        if not self.enabled:
            yield None
            return
        sid = self.new_id()
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            rec = {"id": sid, "trace": trace, "parent": parent, "name": name,
                   "start": t0, "end": time.perf_counter()}
            if attrs:
                rec["attrs"] = attrs
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, trace: int, start: float, end: float,
            parent: int | None = None, sid: int | None = None, **attrs) -> None:
        """Record a span whose interval was measured elsewhere; ``sid``
        is an id taken earlier with :meth:`new_id` for children to use."""
        if not self.enabled:
            return
        rec = {"id": sid or self.new_id(), "trace": trace, "parent": parent,
               "name": name, "start": start, "end": end}
        if attrs:
            rec["attrs"] = attrs
        with self._lock:
            self.spans.append(rec)

    def extend(self, spans: list[dict]) -> None:
        """Adopt spans recorded by another process."""
        with self._lock:
            self.spans.extend(spans)

    def dump(self, path: str, **extra) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path + ".tmp", "w") as f:
            json.dump({"clock": "perf_counter", "spans": spans, **extra}, f)
        os.replace(path + ".tmp", path)
