"""Per-layer metrics of a traced run, and the unit of every metric.

Every per-layer metric is printed for every workload; a layer that the
workload does not exercise reports 0 (README.md, "Per-layer metrics").
"""

from __future__ import annotations

import datetime as dt
import json

from analytics import QUERY_SET
from stats import median

ROUTES = ("traces", "trace_id", "logs", "logs_page", "logs_stats", "operations", "poll")
STREAMS = ("span", "log")

E2E_UNITS = {
    "latency_ms": "ms",
    "setup_s": "s",
}


def _layer_units() -> dict[str, str]:
    u: dict[str, str] = {}
    for r in ROUTES:
        u[f"web.handler_ms.{r}"] = "ms"
        u[f"web.jobs.{r}"] = "count"
    u["web.query_service_ms"] = "ms"
    u["web.transport_ms"] = "ms"
    u.update({"store.completed_versions": "count", "store.files": "count",
              "store.mb": "MB", "ingest.staged_files": "count"})
    for t in STREAMS:
        u.update({f"stream.{t}.batches": "count", f"stream.{t}.trigger_ms_p50": "ms",
                  f"stream.{t}.trigger_ms_max": "ms", f"stream.{t}.add_batch_ms": "ms",
                  f"stream.{t}.latest_offset_ms": "ms", f"stream.{t}.commit_ms": "ms",
                  f"stream.{t}.input_rows": "count"})
    u.update({"server.rss_mb": "MB", "client.read_p50_ms": "ms", "client.read_p90_ms": "ms",
              "client.read_rps": "1/s", "ingest.lag_p90_ms": "ms",
              "ingest.load_records_per_s": "1/s",
              "ingest.bytes_stored_per_byte": "ratio",
              "ingest.late_max_ms": "ms", "ingest.late_p99_ms": "ms"})
    u.update({"batch.query_p90_ms": "ms", "batch.total_s": "s", "batch.geomean_s": "s",
              "batch.build_s": "s",
              "batch.exec_s": "s", "batch.jobs": "count"})
    for q in QUERY_SET:
        u.update({f"q.{q}.build_s": "s", f"q.{q}.exec_s": "s", f"q.{q}.jobs": "count"})
    u.update({f"traced.{k}": v for k, v in E2E_UNITS.items()})
    u["trace.spans"] = "count"
    return u


LAYER_UNITS = _layer_units()


def _wall_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream_metrics(progress: dict[str, list[dict]], since_wall_s: float) -> dict[str, float]:
    """Micro-batch metrics from ``recentProgress``: batches that read
    rows and started at or after ``since_wall_s`` (the measured window)."""
    out: dict[str, float] = {}
    for t in STREAMS:
        ps = [p for p in progress.get(t, [])
              if p.get("numInputRows", 0) > 0 and _wall_s(p["timestamp"]) >= since_wall_s]
        d = [p.get("durationMs", {}) for p in ps]
        trig = [x.get("triggerExecution", 0) for x in d]
        out[f"stream.{t}.batches"] = len(ps)
        out[f"stream.{t}.trigger_ms_p50"] = median(trig) if trig else 0
        out[f"stream.{t}.trigger_ms_max"] = max(trig) if trig else 0
        out[f"stream.{t}.add_batch_ms"] = median([x.get("addBatch", 0) for x in d]) if d else 0
        out[f"stream.{t}.latest_offset_ms"] = median([x.get("latestOffset", 0) for x in d]) if d else 0
        out[f"stream.{t}.commit_ms"] = (
            median([x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d]) if d else 0)
        out[f"stream.{t}.input_rows"] = sum(p["numInputRows"] for p in ps)
    return out


def _route_path(path: str) -> str:
    return path.split("?", 1)[0]


def match_handlers(requests: list, server_spans: list[dict]) -> dict[int, object]:
    """Server ``web.handler`` span id -> the client request it served:
    the handler span of the same path that lies inside the request (both
    processes stamp ``time.perf_counter``, the system-wide monotonic
    clock)."""
    handlers = sorted((s for s in server_spans if s["name"] == "web.handler"),
                      key=lambda s: s["start"])
    served: dict[int, object] = {}
    for r in sorted(requests, key=lambda r: r.t0):
        path = _route_path(r.path)
        for h in handlers:
            if h["start"] > r.t1:
                break
            if (h["id"] not in served and h["attrs"]["path"] == path
                    and h["start"] >= r.t0 and h["end"] <= r.t1):
                served[h["id"]] = r
                break
    return served


def link_server_spans(server_spans: list[dict], served: dict[int, object]) -> list[dict]:
    """The server's spans re-keyed into the client's trace: a matched
    handler (and its children) joins its request's trace under the
    client span; server span ids get an ``s`` prefix."""
    req_of = dict(served)
    for s in server_spans:
        if s["parent"] in served:
            req_of[s["id"]] = served[s["parent"]]
    out = []
    for s in server_spans:
        r = req_of.get(s["id"])
        parent = (r.sid if s["id"] in served else f"s{s['parent']}") if r else (
            None if s["parent"] is None else f"s{s['parent']}")
        out.append(dict(s, id=f"s{s['id']}", trace=r.trace if r else f"s{s['trace']}",
                        parent=parent))
    return out


def web_metrics(requests: list, server_spans: list[dict]) -> dict[str, float]:
    """Handler time and Spark jobs per route kind, the p50 of
    ``engine.query_service()``, and transport time (client minus
    handler), over the requests matched to handler spans."""
    by_id = {s["id"]: s for s in server_spans}
    by_kind: dict[str, list[tuple[float, int]]] = {r: [] for r in ROUTES}
    transport = []
    for hid, r in match_handlers(requests, server_spans).items():
        h = by_id[hid]
        hd = h["end"] - h["start"]
        by_kind[r.kind].append((1e3 * hd, h["attrs"]["jobs"]))
        transport.append(1e3 * ((r.t1 - r.t0) - hd))
    out: dict[str, float] = {}
    for r in ROUTES:
        xs = by_kind[r]
        out[f"web.handler_ms.{r}"] = median([x[0] for x in xs]) if xs else 0
        out[f"web.jobs.{r}"] = median([x[1] for x in xs]) if xs else 0
    qs = [1e3 * (s["end"] - s["start"]) for s in server_spans if s["name"] == "web.query_service"]
    out["web.query_service_ms"] = median(qs) if qs else 0
    out["web.transport_ms"] = median(transport) if transport else 0
    return out


def layer_metrics(workload: str, res: dict, ctx) -> dict[str, float]:
    """Every per-layer metric for one traced run (0 where the workload
    does not exercise the layer)."""
    out = {k: 0 for k in LAYER_UNITS}
    out.update({k: v for k, v in res["layer"].items() if k in LAYER_UNITS})
    if workload != "analytics_batch":
        with open(res["server"].dump_path) as f:
            dump = json.load(f)
        out.update(web_metrics(res["reqs"], dump["spans"]))
        out.update(stream_metrics(dump["progress"], res["window_wall_s"]))
        ctx.tracer.extend(link_server_spans(dump["spans"], match_handlers(res["reqs"], dump["spans"])))
    out.update({f"traced.{k}": v for k, v in res["e2e"].items() if k in E2E_UNITS})
    out["trace.spans"] = len(ctx.tracer.spans)
    missing = set(out) - set(LAYER_UNITS)
    if missing:
        raise KeyError(f"unlisted per-layer metrics {sorted(missing)}")
    return out


def unit_of(name: str) -> str:
    return E2E_UNITS.get(name) or LAYER_UNITS[name]

