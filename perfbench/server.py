"""Traced server launcher: ``python -m duo_spark serve`` plus layer hooks.

Boots the engine exactly as ``duo_spark.__main__.serve`` does (ingest
listener, continuous pipelines, HTTP routes), and additionally

- wraps each request in the ``request_hook`` seam (the one
  ``--collect-self`` uses), recording a ``web.handler`` span and the
  Spark jobs of a per-request job group;
- times the ``service_fn`` the HTTP server calls per request
  (``engine.query_service()``) as a ``web.query_service`` span;
- on SIGTERM, writes the spans and each streaming query's
  ``recentProgress`` to ``--dump`` before stopping.

Untraced runs use ``python -m duo_spark serve`` itself.

    python perfbench/server.py --data-dir D --web-port P --ingest-port Q \\
        --trigger-seconds 5 --dump spans.json
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _progress(query) -> list[dict]:
    """``recentProgress`` as plain JSON objects (PySpark 4 returns
    progress objects, earlier versions dicts)."""
    return [json.loads(p.json) if hasattr(p, "json") else p for p in query.recentProgress]


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--data-dir", required=True)
    p.add_argument("--web-port", type=int, required=True)
    p.add_argument("--ingest-port", type=int, required=True)
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--trigger-seconds", type=int, default=5)
    p.add_argument("--dump", required=True)
    args = p.parse_args(argv)

    from duo_spark.engine import DuoEngine
    from duo_spark.session import get_spark
    from duo_spark.web.server import DuoHTTPServer
    from tracing import Tracer

    spark = get_spark("duo-serve")
    sc = spark.sparkContext
    engine = DuoEngine(spark, args.data_dir, trigger_seconds=args.trigger_seconds)
    engine.start_ingest(host=args.host, port=args.ingest_port)
    engine.start_pipelines()

    tracer = Tracer(True)
    local = threading.local()

    def timed_service():
        t0 = time.perf_counter()
        svc = engine.query_service()
        tracer.add("web.query_service", local.trace, t0, time.perf_counter(), parent=local.span)
        return svc

    @contextlib.contextmanager
    def request_hook(path: str):
        trace = tracer.new_id()
        group = f"perfbench-req-{trace}"
        sc.setJobGroup(group, path)
        local.trace = trace
        t0 = time.perf_counter()
        sid = tracer.new_id()
        local.span = sid
        try:
            yield
        finally:
            t1 = time.perf_counter()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            tracer.add("web.handler", trace, t0, t1, sid=sid, path=path, jobs=jobs)

    http = DuoHTTPServer(timed_service, host=args.host, port=args.web_port,
                         request_hook=request_hook).start()
    print(f"web: http://{http.address[0]}:{http.address[1]}", flush=True)

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())
    signal.signal(signal.SIGINT, lambda *_: stop.set())
    while not stop.wait(0.5):
        pass
    http.stop()
    names = ("span", "log")
    progress = {n: _progress(q) for n, q in zip(names, engine._queries)}
    tracer.dump(args.dump, progress=progress)
    engine.stop()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
