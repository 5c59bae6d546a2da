"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workload ingest_live --seeds 1 2 3 4 5 \\
        [--seconds 20] [--trace 0] [--out results.jsonl]

Spread is the distance between the first and third quartile of the
runs' values (``statistics.quantiles(values, n=4)``) as a share of
their median, the figure ``BENCHMARK.json`` bounds. Each run's last
stdout line is appended to ``--out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    args = p.parse_args(argv)
    seconds = args.seconds
    if seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        t0 = time.monotonic()
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.monotonic() - t0
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall,
                                    "report": json.loads(lines[-2]), "result": res}) + "\n")
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    if len(args.seeds) >= 2:
        for k, vs in values.items():
            print(f"{k}: median {statistics.median(vs):.4g} spread {spread(vs):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
