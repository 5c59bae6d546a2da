"""Seeded input generators for the benchmark.

Everything the system under test receives is a pure function of the
workload seed (and, for probes, of the send time the generator stamps
on them), so two runs with the same seed send byte-identical frames.

- :class:`TraceGen` makes the ingest frames of synthetic traces: an
  open and a close frame per span plus 0-3 logs per span carrying
  ``user_id``/``status`` fields, shaped like the frames
  ``duo_spark.subscriber.DuoSubscriber`` sends.
- :func:`probe_frames` builds a short trace under service ``probe``
  whose start is its send time, for the ingest-to-visible lag.
- :func:`request_mix` draws the serving routes' requests.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

#: fixed timeline origin (µs): seeded traces land in the hour after
#: it, so frames do not depend on the wall clock
BASE_US = 1_700_000_000_000_000
HOUR_US = 3_600_000_000
WINDOW_US = 15 * 60 * 1_000_000

SERVICES = ("frontend", "checkout", "payments", "inventory", "shipping")
OPERATIONS = {
    s: tuple(f"{verb} /{s}/{obj}" for verb, obj in (
        ("GET", "item"), ("GET", "list"), ("POST", "item"),
        ("PUT", "item"), ("DELETE", "item"), ("GET", "health"),
    ))
    for s in SERVICES
}
LEVELS = ("INFO", "INFO", "INFO", "DEBUG", "WARN", "ERROR")
STATUSES = (200, 200, 200, 200, 404, 500)
PROBE_SERVICE = "probe"
PROBE_SPANS = 3


def encode(frame: dict) -> bytes:
    """The wire encoding ``IngestClient`` uses for one frame."""
    return (json.dumps(frame) + "\n").encode()


@dataclass
class Trace:
    """One generated trace: its id, span ids and frames (the
    ``kind`` key first, as ``IngestClient`` puts it on the wire)."""

    trace_id: int
    span_ids: list[int] = field(default_factory=list)
    frames: list[dict] = field(default_factory=list)


class TraceGen:
    """Seeded trace source over the fixed one-hour timeline.

    ``pids`` maps service name to the process id the ingest server
    assigned at registration (``"<service>-0"`` on a fresh data dir).
    """

    def __init__(self, seed: int, pids: dict[str, str] | None = None):
        self.rng = random.Random(seed)
        self.pids = pids or {s: f"{s}-0" for s in SERVICES}
        self._ids: set[int] = set()

    def _new_id(self) -> int:
        while True:
            v = self.rng.getrandbits(62) + 1
            if v not in self._ids:
                self._ids.add(v)
                return v

    def trace(self, start_us: int | None = None) -> Trace:
        """The next trace; it starts at ``start_us`` when given, else at
        a seeded point of the fixed hour."""
        rng = self.rng
        t = Trace(self._new_id())
        offset = rng.randrange(HOUR_US - 60_000_000)
        t0 = BASE_US + offset if start_us is None else start_us
        n = rng.randint(2, 9)
        spans = []
        for i in range(n):
            parent = None if i == 0 else spans[rng.randrange(i)]
            svc = rng.choice(SERVICES)
            start = t0 if parent is None else parent["start"] + rng.randrange(1, 2_000)
            dur = rng.randrange(50, 40_000)
            spans.append(dict(
                id=self._new_id(),
                parent_id=None if parent is None else parent["id"],
                trace_id=t.trace_id,
                name=rng.choice(OPERATIONS[svc]),
                process_id=self.pids[svc],
                start=start,
                end=start + dur,
                tags={"peer": f"10.0.{rng.randrange(8)}.{rng.randrange(250)}"},
            ))
        for s in spans:
            t.span_ids.append(s["id"])
            t.frames.append({"kind": "span", **s, "end": None})
        for s in spans:
            for _ in range(rng.randrange(4)):
                status = rng.choice(STATUSES)
                t.frames.append({
                    "kind": "log",
                    "process_id": s["process_id"],
                    "time": s["start"] + rng.randrange(s["end"] - s["start"]),
                    "trace_id": t.trace_id,
                    "span_id": s["id"],
                    "level": "ERROR" if status == 500 else rng.choice(LEVELS),
                    "message": f"{s['name']} status={status}",
                    "fields": {"user_id": rng.randrange(10_000), "status": status},
                })
        for s in reversed(spans):
            busy = rng.randrange(s["end"] - s["start"])
            tags = dict(s["tags"], busy=busy, idle=s["end"] - s["start"] - busy)
            t.frames.append({"kind": "span", **s, "tags": tags})
        return t


def probe_frames(trace_id: int, span_ids: list[int], pid: str, sent_us: int) -> list[dict]:
    """A ``PROBE_SPANS``-span trace whose spans start at ``sent_us``
    (open + close frame per span, like :meth:`TraceGen.trace`)."""
    closes = [{
        "kind": "span", "id": sid,
        "parent_id": None if i == 0 else span_ids[0],
        "trace_id": trace_id, "name": "probe", "process_id": pid,
        "start": sent_us + i, "end": sent_us + 100 + i,
        "tags": {"sent_us": sent_us},
    } for i, sid in enumerate(span_ids)]
    return [dict(f, end=None, tags=None) for f in closes] + closes


#: serving request mix as a fixed 20-slot cycle of route kinds: 40%
#: trace search, 20% trace by id, 20% log search with an expression,
#: 10% log pagination, 5% level stats, 5% operations. The cycle is
#: fixed so that a short run sees the same kinds for every seed; the
#: seed draws each request's service, window and trace id.
CYCLE = (
    "traces", "trace_id", "logs", "traces", "logs_page",
    "traces", "trace_id", "logs", "traces", "logs_stats",
    "traces", "trace_id", "logs", "traces", "logs_page",
    "traces", "trace_id", "logs", "traces", "operations",
)


def request_mix(seed: int, trace_ids: list[int], n: int, offset: int = 0) -> list[tuple[str, str]]:
    """``n`` seeded (route kind, path) requests starting at cycle slot
    ``offset``; every search carries an explicit 15-minute
    ``start``/``end`` window inside the seeded hour, the way the UI asks."""
    rng = random.Random(seed)
    out = []
    for j in range(n):
        kind = CYCLE[(offset + j) % len(CYCLE)]
        svc = rng.choice(SERVICES)
        start = BASE_US + rng.randrange(HOUR_US - WINDOW_US)
        win = f"start={start}&end={start + WINDOW_US}"
        if kind == "traces":
            path = f"/api/traces?service={svc}&{win}&limit=20"
        elif kind == "trace_id":
            path = f"/api/traces/{rng.choice(trace_ids)}"
        elif kind == "logs":
            path = f"/api/logs?service={svc}&expr=status%3D500&{win}&limit=50"
        elif kind == "logs_page":
            path = f"/api/logs?service={svc}&{win}&skip={50 * rng.randrange(1, 6)}&limit=50"
        elif kind == "logs_stats":
            path = f"/api/logs/stats/level?service={svc}&{win}"
        else:
            path = f"/api/services/{svc}/operations"
        out.append((kind, path))
    return out

