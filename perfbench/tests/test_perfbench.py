"""The benchmark's own tests: no Spark, no server.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import socket
import threading
from types import SimpleNamespace

import pytest

import gen
import layers
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stream(seed: int, n: int = 50) -> bytes:
    tg = gen.TraceGen(seed)
    return b"".join(gen.encode(f) for _ in range(n) for f in tg.trace().frames)


def test_same_seed_same_frame_bytes():
    assert _stream(7) == _stream(7)
    assert _stream(7) != _stream(8)


def test_trace_shape():
    tg = gen.TraceGen(3)
    for _ in range(200):
        t = tg.trace()
        spans = [f for f in t.frames if f["kind"] == "span"]
        logs = [f for f in t.frames if f["kind"] == "log"]
        assert 2 <= len(t.span_ids) <= 9
        # one open (end unset) and one close frame per span
        assert sorted(f["id"] for f in spans if f["end"] is None) == sorted(t.span_ids)
        assert sorted(f["id"] for f in spans if f["end"] is not None) == sorted(t.span_ids)
        assert len(logs) <= 3 * len(t.span_ids)
        assert all(set(lg["fields"]) == {"user_id", "status"} for lg in logs)
        assert all(gen.BASE_US <= f["start"] < gen.BASE_US + gen.HOUR_US for f in spans)


def test_ingest_client_sends_the_generated_bytes():
    """The frames IngestClient puts on the wire are gen.encode's bytes."""
    from duo_spark.streaming.ingest_server import IngestClient

    frames = [f for _ in range(5) for f in gen.TraceGen(5).trace().frames]
    got = bytearray()
    with socket.socket() as lsock:
        lsock.bind(("127.0.0.1", 0))
        lsock.listen(1)

        def serve():
            conn, _ = lsock.accept()
            with conn:
                while chunk := conn.recv(65536):
                    got.extend(chunk)

        th = threading.Thread(target=serve)
        th.start()
        client = IngestClient(*lsock.getsockname())
        for f in frames:
            body = {k: v for k, v in f.items() if k != "kind"}
            (client.record_span if f["kind"] == "span" else client.record_log)(**body)
        client.close()
        th.join(timeout=10)
        assert not th.is_alive()
    assert bytes(got) == b"".join(gen.encode(f) for f in frames)


def test_probe_frames_open_then_close():
    fr = gen.probe_frames(9, [1, 2, 3], "probe-0", 1_000)
    assert [f["end"] is None for f in fr] == [True] * 3 + [False] * 3
    assert [f["id"] for f in fr] == [1, 2, 3, 1, 2, 3]
    assert all(f["parent_id"] == 1 for f in fr if f["id"] != 1)


def test_request_mix_proportions_and_determinism():
    mix = gen.request_mix(1, [11, 12], 200)
    assert mix == gen.request_mix(1, [11, 12], 200)
    kinds = [k for k, _ in mix]
    assert {k: kinds.count(k) for k in set(kinds)} == {
        "traces": 80, "trace_id": 40, "logs": 40, "logs_page": 20,
        "logs_stats": 10, "operations": 10,
    }
    # the kind sequence does not depend on the seed
    assert kinds == [k for k, _ in gen.request_mix(2, [11, 12], 200)]
    for kind, path in mix:
        if kind not in ("trace_id", "operations"):
            assert "start=" in path and "end=" in path


def test_percentile_nearest_rank_and_count():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == (50, 100)
    assert stats.percentile(xs, 90) == (90, 100)
    assert stats.percentile([5.0], 99) == (5.0, 1)
    assert stats.percentile([3, 1, 2], 50) == (2, 3)
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    assert stats.median([4, 1, 3, 2]) == 2.5


def test_probe_lags():
    sent = {1: 10.0, 2: 11.0, 3: 12.0}
    seen = {1: 13.5, 3: 12.25}
    lags, unseen = stats.probe_lags(sent, seen)
    assert lags == [3.5, 0.25]
    assert unseen == [2]


def test_benchmark_json_lists_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.LAYER_UNITS
    assert "setup_s" in layers.E2E_UNITS
    assert {w["name"] for w in spec["workloads"]} <= {"serve_read", "ingest_live", "analytics_batch"}


def test_layer_metrics_cover_every_name():
    res = {"layer": {"batch.total_s": 1.5},
           "e2e": {"latency_ms": 2.0, "setup_s": 4.0}}
    ctx = SimpleNamespace(tracer=SimpleNamespace(spans=[{}, {}]))
    out = layers.layer_metrics("analytics_batch", res, ctx)
    assert set(out) == set(layers.LAYER_UNITS)
    assert out["batch.total_s"] == 1.5 and out["traced.setup_s"] == 4.0
    assert out["trace.spans"] == 2


def test_web_metrics_match_handler_inside_request():
    Req = SimpleNamespace
    reqs = [Req(kind="logs", path="/api/logs?skip=0", t0=0.0, t1=1.0),
            Req(kind="logs_page", path="/api/logs?skip=50", t0=0.5, t1=2.0)]
    spans = [
        {"id": 1, "name": "web.handler", "start": 0.1, "end": 0.9,
         "attrs": {"path": "/api/logs", "jobs": 2}},
        {"id": 2, "name": "web.handler", "start": 0.6, "end": 1.6,
         "attrs": {"path": "/api/logs", "jobs": 3}},
        {"id": 3, "name": "web.query_service", "start": 0.1, "end": 0.2},
    ]
    out = layers.web_metrics(reqs, spans)
    assert out["web.handler_ms.logs"] == pytest.approx(800)
    assert out["web.handler_ms.logs_page"] == pytest.approx(1000)
    assert out["web.jobs.logs"] == 2 and out["web.jobs.logs_page"] == 3
    assert out["web.query_service_ms"] == pytest.approx(100)
    assert out["web.transport_ms"] == pytest.approx(350)
    assert out["web.handler_ms.traces"] == 0


def test_server_spans_join_the_client_trace():
    Req = SimpleNamespace
    reqs = [Req(kind="logs", path="/api/logs", t0=0.0, t1=1.0, trace=7, sid=8)]
    spans = [
        {"id": 2, "trace": 1, "parent": None, "name": "web.handler", "start": 0.1, "end": 0.9,
         "attrs": {"path": "/api/logs", "jobs": 2}},
        {"id": 3, "trace": 1, "parent": 2, "name": "web.query_service", "start": 0.1, "end": 0.2},
        {"id": 5, "trace": 4, "parent": None, "name": "web.handler", "start": 3.0, "end": 3.5,
         "attrs": {"path": "/api/logs", "jobs": 1}},
    ]
    linked = layers.link_server_spans(spans, layers.match_handlers(reqs, spans))
    assert [(s["id"], s["trace"], s["parent"]) for s in linked] == [
        ("s2", 7, 8), ("s3", 7, "s2"), ("s5", "s4", None)]


def test_stream_metrics_window_and_durations():
    prog = {"span": [
        {"timestamp": "2026-01-01T00:00:00.000Z", "numInputRows": 9,
         "durationMs": {"triggerExecution": 900}},
        {"timestamp": "2026-01-01T00:00:10.000Z", "numInputRows": 5,
         "durationMs": {"triggerExecution": 100, "addBatch": 60, "latestOffset": 5,
                        "walCommit": 7, "commitOffsets": 3}},
        {"timestamp": "2026-01-01T00:00:15.000Z", "numInputRows": 0,
         "durationMs": {"triggerExecution": 1}},
    ], "log": []}
    since = layers._wall_s("2026-01-01T00:00:05.000Z")
    out = layers.stream_metrics(prog, since)
    assert out["stream.span.batches"] == 1
    assert out["stream.span.input_rows"] == 5
    assert out["stream.span.trigger_ms_max"] == 100
    assert out["stream.span.commit_ms"] == 10
    assert out["stream.log.batches"] == 0
