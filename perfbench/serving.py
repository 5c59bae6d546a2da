"""Serving workloads: ``serve_read`` and ``ingest_live``.

The server runs in its own process group (``python -m duo_spark serve``,
or :mod:`server` when traced); this process is the one load generator,
with at most ``nproc`` threads. Ingest goes through the real TCP port
with ``IngestClient``; reads go through the real HTTP port.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import signal
import socket
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import gen
from stats import dir_stats, median, percentile, probe_lags, tree_rss_mb

HOST = "127.0.0.1"
TRIGGER_SECONDS = 5
READY_TIMEOUT_S = 120
REQUEST_TIMEOUT_S = 30


def _free_port() -> int:
    with socket.socket() as s:
        s.bind((HOST, 0))
        return s.getsockname()[1]


def _group_alive(pgid: int) -> bool:
    """Whether a live (non-zombie) process is left in group ``pgid``."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


class Server:
    """One server process over a fresh data dir."""

    def __init__(self, root: str, run_dir: str, traced: bool):
        self.root, self.run_dir, self.traced = root, run_dir, traced
        self.data_dir = os.path.join(run_dir, "data")
        self.dump_path = os.path.join(run_dir, "server-spans.json")
        self.web_port = self.ingest_port = 0
        self.proc: subprocess.Popen | None = None

    def start(self) -> None:
        self.web_port, self.ingest_port = _free_port(), _free_port()
        ports = ["--data-dir", self.data_dir, "--web-port", str(self.web_port),
                 "--ingest-port", str(self.ingest_port),
                 "--trigger-seconds", str(TRIGGER_SECONDS)]
        if self.traced:
            cmd = [sys.executable, os.path.join(self.root, "perfbench", "server.py"),
                   *ports, "--dump", self.dump_path]
        else:
            cmd = [sys.executable, "-m", "duo_spark", "serve", *ports]
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, TMPDIR=tmp,
                   SPARK_LOCAL_DIRS=os.path.join(self.run_dir, "spark-local"),
                   PYTHONPATH=self.root)
        self._log = open(os.path.join(self.run_dir, "server.log"), "wb")
        self.proc = subprocess.Popen(cmd, cwd=self.run_dir, env=env, stdout=self._log,
                                     stderr=subprocess.STDOUT, start_new_session=True)

    def wait_ports(self, deadline: float) -> None:
        for port in (self.ingest_port, self.web_port):
            while True:
                if self.proc.poll() is not None:
                    raise RuntimeError(f"server exited with {self.proc.returncode} (see server.log)")
                try:
                    socket.create_connection((HOST, port), timeout=1).close()
                    break
                except OSError:
                    if time.monotonic() > deadline:
                        raise TimeoutError(f"port {port} never opened")
                    time.sleep(0.1)

    def get(self, path: str) -> tuple[int, bytes]:
        """One GET; raises OSError (timeouts included) on transport failure."""
        conn = http.client.HTTPConnection(HOST, self.web_port, timeout=REQUEST_TIMEOUT_S)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def rss_mb(self) -> float:
        return tree_rss_mb(self.proc.pid)

    def stop(self) -> int:
        """SIGTERM, wait for a clean shutdown, then kill the group."""
        if self.proc is None:
            return 0
        try:
            self.proc.send_signal(signal.SIGTERM)
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
        rc = self.proc.wait()
        # the JVM is the server's child in the same process group: wait
        # until the whole group is gone, killing what outlives the server
        while _group_alive(self.proc.pid):
            try:
                os.killpg(self.proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        self._log.close()
        return rc


# ----------------------------------------------------------- clients --

@dataclass
class Req:
    """One client request; ``trace``/``sid`` name its client span."""

    kind: str
    path: str
    status: int
    t0: float
    t1: float
    trace: int = 0
    sid: int = 0


@dataclass
class Loaded:
    traces: list = field(default_factory=list)
    frames: int = 0
    wire_bytes: int = 0


def _send(client, frame: dict) -> int:
    body = {k: v for k, v in frame.items() if k != "kind"}
    if frame["kind"] == "span":
        client.record_span(**body)
    else:
        client.record_log(**body)
    return len(gen.encode(frame))


def register(client, services) -> dict[str, str]:
    return {s: client.register_process(s, {"bench": "perfbench"}) for s in services}


def load(server: Server, tg: gen.TraceGen, n: int, out: Loaded) -> None:
    """Send ``n`` seeded traces over one ingest connection."""
    from duo_spark.streaming.ingest_server import IngestClient

    client = IngestClient(HOST, server.ingest_port)
    try:
        pids = register(client, gen.SERVICES)
        if pids != tg.pids:
            raise RuntimeError(f"unexpected process ids {pids}")
        for _ in range(n):
            t = tg.trace()
            for f in t.frames:
                out.wire_bytes += _send(client, f)
            out.frames += len(t.frames)
            out.traces.append(t)
    finally:
        client.close()


def _trace_spans(server: Server, tid: int) -> tuple[set[str], int] | None:
    """Span ids and log count of one trace, or None when not served."""
    try:
        status, body = server.get(f"/api/traces/{tid}")
    except OSError:
        return None
    if status != 200:
        return None
    data = json.loads(body)["data"]
    if not data:
        return set(), 0
    spans = data[0]["spans"]
    return {s["spanID"] for s in spans}, sum(len(s.get("logs") or []) for s in spans)


def wait_visible(server: Server, traces: list, deadline: float) -> None:
    """Readiness: the last trace has all its spans and the last trace
    carrying logs has all its logs. Until the first batch lands every
    route answers 500 (empty-table defect), so errors here only mean
    "not yet"."""
    last = traces[-1]
    with_logs = next(t for t in reversed(traces) if any(f["kind"] == "log" for f in t.frames))
    n_logs = sum(f["kind"] == "log" for f in with_logs.frames)
    want = {str(s) for s in last.span_ids}
    while time.monotonic() < deadline:
        if server.proc.poll() is not None:
            raise RuntimeError(f"server exited with {server.proc.returncode} (see server.log)")
        got = _trace_spans(server, last.trace_id)
        if got is not None and got[0] == want:
            got = _trace_spans(server, with_logs.trace_id)
            if got is not None and got[1] == n_logs:
                return
        time.sleep(0.2)
    raise TimeoutError("loaded traces never became visible")


def closed_loop(server: Server, reqs: list[tuple[str, str]], until: float,
                out: list[Req], tracer, name: str) -> None:
    """One closed-loop client: next request when the last one returns."""
    i = 0
    while time.perf_counter() < until:
        kind, path = reqs[i % len(reqs)]
        i += 1
        t0 = time.perf_counter()
        try:
            status, _ = server.get(path)
        except OSError:
            status = 0
        t1 = time.perf_counter()
        req = Req(kind, path, status, t0, t1, tracer.new_id(), tracer.new_id())
        out.append(req)
        tracer.add(name, req.trace, t0, t1, sid=req.sid, kind=kind, status=status)


def _boot(server: Server, tg: gen.TraceGen, n_traces: int) -> tuple[Loaded, float, float]:
    """Start the server, load ``n_traces`` and wait until visible.
    Returns (load, load start, visible time) on the monotonic clock."""
    deadline = time.monotonic() + READY_TIMEOUT_S
    server.start()
    server.wait_ports(deadline)
    loaded = Loaded()
    t_load = time.perf_counter()
    load(server, tg, n_traces, loaded)
    wait_visible(server, loaded.traces, deadline)
    return loaded, t_load, time.perf_counter()


def _store_metrics(server: Server) -> dict[str, float]:
    d = server.data_dir
    files, size = dir_stats(os.path.join(d, "span"))
    lfiles, lsize = dir_stats(os.path.join(d, "log"))
    completed = os.path.join(d, "span", "completed")
    staged = sum(dir_stats(os.path.join(d, "ingest", t))[0] for t in ("span", "log"))
    return {
        "store.completed_versions": len([v for v in os.listdir(completed) if v.startswith("v=")])
        if os.path.isdir(completed) else 0,
        "store.files": files + lfiles,
        "store.mb": (size + lsize) / 1e6,
        "ingest.staged_files": staged,
    }


def check_traces(server: Server, traces: list, rng: random.Random, k: int) -> list[str]:
    """Sampled ``/api/traces/:id`` must return exactly the generated span ids."""
    bad = []
    for t in rng.sample(traces, min(k, len(traces))):
        got = _trace_spans(server, t.trace_id)
        want = {str(s) for s in t.span_ids}
        if got is None or got[0] != want:
            bad.append(f"trace {t.trace_id}: got {None if got is None else sorted(got[0])}")
    return bad


# --------------------------------------------------------- workloads --

SERVE_READ_TRACES = 4000
SERVE_READ_CLIENTS = 2
LIVE_PRELOAD_TRACES = 1000
LIVE_TRACES_PER_S = 100
LIVE_PROBES_PER_S = 2
PROBE_WAIT_S = 60
TRACE_CHECKS = 20
MIX_LEN = 4000


def _reads_summary(reqs: list[Req], t_start: float) -> tuple[dict, int]:
    """Reader latency p50/p90 (ms) and completed reads per second, and
    the number of failed reads."""
    ok = [r for r in reqs if r.status == 200]
    lat = [1e3 * (r.t1 - r.t0) for r in ok]
    elapsed = max(r.t1 for r in reqs) - t_start
    return {"client.read_p50_ms": percentile(lat, 50)[0],
            "client.read_p90_ms": percentile(lat, 90)[0],
            "client.read_rps": len(ok) / elapsed}, len(reqs) - len(ok)


def _server_layers(server: Server, wire_bytes: int) -> dict[str, float]:
    layer = _store_metrics(server)
    layer["server.rss_mb"] = server.rss_mb()
    layer["ingest.bytes_stored_per_byte"] = dir_stats(server.data_dir)[1] / wire_bytes
    return layer


def serve_read(ctx) -> dict:
    """Read-only serving: 2 closed-loop clients over a loaded store."""
    server = Server(ctx.root, ctx.run_dir, ctx.traced)
    tg = gen.TraceGen(ctx.seed)
    try:
        t0 = time.perf_counter()
        loaded, t_load, t_vis = _boot(server, tg, SERVE_READ_TRACES)
        setup_s = time.perf_counter() - t0
        ids = [t.trace_id for t in loaded.traces]
        per_client: list[list[Req]] = [[] for _ in range(SERVE_READ_CLIENTS)]
        window_wall_s = time.time()
        t_start = time.perf_counter()
        until = t_start + ctx.seconds
        threads = [
            threading.Thread(target=closed_loop, args=(
                server, gen.request_mix(ctx.seed * 100 + i, ids, MIX_LEN, 10 * i), until,
                per_client[i], ctx.tracer, "client.request"))
            for i in range(SERVE_READ_CLIENTS)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        reqs = [r for c in per_client for r in c]
        reads, failed = _reads_summary(reqs, t_start)
        bad = check_traces(server, loaded.traces, random.Random(ctx.seed), TRACE_CHECKS)
        layer = _server_layers(server, loaded.wire_bytes)
        layer.update(reads)
        layer["ingest.load_records_per_s"] = loaded.frames / (t_vis - t_load)
    finally:
        server.stop()
    # read-only: the end-to-end latency is the read itself
    e2e = {"latency_ms": reads["client.read_p50_ms"], "setup_s": setup_s}
    return dict(
        e2e=e2e, layer=layer, reqs=reqs, server=server,
        window_wall_s=window_wall_s, attempted=len(reqs), failed=failed, errors=bad,
        extra={"query_samples": len(reqs) - failed, "frames_loaded": loaded.frames},
    )


def ingest_live(ctx) -> dict:
    """Live ingest beside reads: an open-loop producer, probe traces, a
    probe poller and one closed-loop reader."""
    from duo_spark.streaming.ingest_server import IngestClient

    server = Server(ctx.root, ctx.run_dir, ctx.traced)
    tg = gen.TraceGen(ctx.seed)
    try:
        t0 = time.perf_counter()
        loaded, t_load, t_vis = _boot(server, tg, LIVE_PRELOAD_TRACES)
        setup_s = time.perf_counter() - t0
        ids = [t.trace_id for t in loaded.traces]

        producer = IngestClient(HOST, server.ingest_port)
        register(producer, gen.SERVICES)
        prober = IngestClient(HOST, server.ingest_port)
        probe_pid = prober.register_process(gen.PROBE_SERVICE, {"bench": "perfbench"})
        probe_rng = random.Random(ctx.seed + 1)
        want: dict[int, set[str]] = {}
        sent: dict[int, float] = {}
        seen: dict[int, float] = {}
        lateness: list[float] = []
        live = Loaded()
        polls: list[Req] = []
        reads: list[Req] = []
        window_wall_s = time.time()
        wall0 = time.time_ns() // 1000
        t_start = time.perf_counter()
        until = t_start + ctx.seconds

        def produce():
            # open loop: trace i is due at t_start + i / rate whether or
            # not the server keeps up; every (rate / probe rate)-th slot
            # also sends a probe trace stamped with its send time
            every = LIVE_TRACES_PER_S // LIVE_PROBES_PER_S
            i = 0
            while True:
                due = t_start + i / LIVE_TRACES_PER_S
                if due >= until:
                    return
                now = time.perf_counter()
                if now < due:
                    time.sleep(due - now)
                lateness.append(time.perf_counter() - due)
                t = tg.trace(wall0 + i * 1_000_000 // LIVE_TRACES_PER_S)
                for f in t.frames:
                    live.wire_bytes += _send(producer, f)
                live.frames += len(t.frames)
                if i % every == 0:
                    tid = probe_rng.getrandbits(62) + 1
                    sids = [probe_rng.getrandbits(62) + 1 for _ in range(gen.PROBE_SPANS)]
                    want[tid] = {str(s) for s in sids}
                    ts = time.perf_counter()
                    for f in gen.probe_frames(tid, sids, probe_pid, time.time_ns() // 1000):
                        live.wire_bytes += _send(prober, f)
                    sent[tid] = ts
                i += 1

        def poll():
            # a probe counts as seen once a poll lists it with all its spans
            path = (f"/api/traces?service={gen.PROBE_SERVICE}&start={wall0 - 60_000_000}"
                    f"&end={wall0 + 3_600_000_000}&limit=100")
            give_up = until + PROBE_WAIT_S
            while time.perf_counter() < give_up:
                t0_ = time.perf_counter()
                try:
                    status, body = server.get(path)
                except OSError:
                    status = 0
                t1_ = time.perf_counter()
                req = Req("poll", path, status, t0_, t1_, ctx.tracer.new_id(), ctx.tracer.new_id())
                polls.append(req)
                ctx.tracer.add("client.request", req.trace, t0_, t1_, sid=req.sid,
                               kind="poll", status=status)
                if status == 200:
                    for tr in json.loads(body)["data"]:
                        tid = int(tr["traceID"])
                        if tid not in seen and {s["spanID"] for s in tr["spans"]} == want.get(tid):
                            seen[tid] = t1_
                if t1_ > until and sent and set(sent) <= set(seen):
                    return

        threads = [
            threading.Thread(target=produce),
            threading.Thread(target=poll),
            threading.Thread(target=closed_loop, args=(
                server, gen.request_mix(ctx.seed * 100, ids, MIX_LEN), until, reads,
                ctx.tracer, "client.request")),
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        producer.close()
        prober.close()

        read_stats, failed = _reads_summary(reads, t_start)
        lags, unseen = probe_lags(sent, seen)
        failed += sum(r.status != 200 for r in polls) + len(unseen)
        bad = [f"probe {tid} never listed with all {gen.PROBE_SPANS} spans" for tid in unseen]
        layer = _server_layers(server, loaded.wire_bytes + live.wire_bytes)
        layer.update(read_stats)
        layer["ingest.lag_p90_ms"] = 1e3 * percentile(lags, 90)[0]
        layer["ingest.load_records_per_s"] = loaded.frames / (t_vis - t_load)
        layer["ingest.late_max_ms"] = 1e3 * max(lateness)
        layer["ingest.late_p99_ms"] = 1e3 * percentile(lateness, 99)[0]
    finally:
        server.stop()
    # the serving path end to end: probe spans sent -> listed by /api/traces
    e2e = {"latency_ms": 1e3 * median(lags), "setup_s": setup_s}
    return dict(
        e2e=e2e, layer=layer, reqs=reads + polls, server=server,
        window_wall_s=window_wall_s, attempted=len(reads) + len(polls) + len(sent),
        failed=failed, errors=bad,
        extra={"query_samples": sum(r.status == 200 for r in reads),
               "polls": len(polls), "probes": len(sent), "lag_samples": len(lags),
               "live_frames_per_s": live.frames / ctx.seconds},
    )
