"""duospark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints a report line (environment block,
workload-specific numbers, failures) and, as the last line of stdout,
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("serve_read", "ingest_live", "analytics_batch")


@dataclass
class Context:
    root: str
    run_dir: str
    seed: int
    seconds: int
    traced: bool
    tracer: object


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "duo_spark", "__init__.py")):
        print(f"no duo_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    from layers import layer_metrics, unit_of
    from stats import cpu_ticks, environment
    from tracing import Tracer

    ticks = cpu_ticks()
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    ctx = Context(ROOT, run_dir, args.seed, args.seconds, bool(args.trace), Tracer(bool(args.trace)))
    try:
        if args.workload == "analytics_batch":
            from analytics import analytics_batch as run
        else:
            import serving
            run = getattr(serving, args.workload)
        res = run(ctx)
        metrics = layer_metrics(args.workload, res, ctx) if ctx.traced else res["e2e"]
        report = {
            "workload": args.workload,
            "env": environment(ROOT, args.seed, ticks),
            "e2e": res["e2e"],
            "layer": res["layer"],
            "extra": res["extra"],
            "errors": res["errors"][:20],
        }
        if ctx.traced:
            out = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
            ctx.tracer.dump(path, report=report)
            report["trace_file"] = os.path.relpath(path, ROOT)
        print(json.dumps(report))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": not res["errors"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
