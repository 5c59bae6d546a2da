"""Batch-analytics workload: registry queries forced with the noop sink.

In-process Spark (no web, no streaming) on ``DATA_DIR``, a copy of the
repository's sf0.01 test set (the scale of its DuckDB oracle gate), so
the inputs are the same for every seed. Set-up boots the session, runs
every query once comparing each result with its DuckDB oracle from
``QUERIES`` (the correctness check). The window then runs a fixed
number of passes over the queries, timing each call of
``fn(spark, dir)`` (driver build) and its noop write (execution)
separately.
"""

from __future__ import annotations

import math
import os
import time

from stats import median, percentile

#: the measured query set, in run order: span merge, an LLM-data
#: operator, then the short tail. A pass takes ~8 s on 4 cores, so a
#: 20 s window holds two (see README.md for the queries left out)
QUERY_SET = (
    "span_merge",
    "contamination_report",
    "key_skew_profile",
    "logs_search",
    "pricing_summary",
    "timing_codec",
    "trace_assembly",
)

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
#: nominal seconds per timed pass (a pass takes 6-10 s on 4 cores).
#: The oracle pass is the JVM's only warm-up: pass time still falls over
#: the next few passes while the JIT compiles, but an untimed warm pass
#: costs ~8 s a run, which the run budget has no room for
PASS_S = 10


def _canon(v):
    """The oracle-parity canon: floats to 6 places, None/NaN/bool named."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    return str(v)


def _rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    return sorted(tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False))


def oracle_mismatch(name: str, got, want) -> str | None:
    """None when the Spark and DuckDB results agree (columns, row
    count, order-insensitive values), else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{name}: {len(got)} rows != oracle {len(want)}"
    if _rows(got) != _rows(want):
        return f"{name}: values differ from the oracle"
    return None


def _jobs(sc, group: str, ungrouped_before: int) -> tuple[int, int]:
    """(jobs in ``group``, ungrouped jobs started since the snapshot):
    pool threads drop the job group, so both count toward a query."""
    st = sc.statusTracker()
    return len(st.getJobIdsForGroup(group)), len(st.getJobIdsForGroup(None)) - ungrouped_before


def analytics_batch(ctx) -> dict:
    import duckdb

    from duo_spark.queries import QUERIES
    from duo_spark.session import get_spark

    t_setup = time.perf_counter()
    os.chdir(ctx.run_dir)  # spark-warehouse and friends land in the run dir
    conf = {"spark.ui.showConsoleProgress": "false"}
    if ctx.traced:
        # job counts come from the status store; keep every job of the run
        conf["spark.ui.retainedJobs"] = "1000000"
    spark = get_spark("perfbench", **conf)
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    errors: list[str] = []
    attempted = failed = 0
    try:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
        for name in QUERY_SET:
            fn, sql = QUERIES[name]
            attempted += 1
            try:
                bad = oracle_mismatch(name, fn(spark, DATA_DIR).toPandas(), con.execute(sql).df())
            except Exception as e:  # noqa: BLE001 -- a failing query fails the run, not the benchmark
                bad = f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}"
                failed += 1
            if bad:
                errors.append(bad)
        con.close()
        spark.catalog.clearCache()
        setup_s = time.perf_counter() - t_setup

        build: dict[str, list[float]] = {n: [] for n in QUERY_SET}
        execs: dict[str, list[float]] = {n: [] for n in QUERY_SET}
        jobs: dict[str, list[int]] = {n: [] for n in QUERY_SET}
        t_start = time.perf_counter()
        pass_s: list[float] = []
        # the window is a whole number of passes, one per PASS_S seconds
        # and at least two, so every query has the same sample count and
        # a slow machine does not change how many passes are measured
        for _ in range(max(2, ctx.seconds // PASS_S)):
            t_pass = time.perf_counter()
            for name in QUERY_SET:
                fn = QUERIES[name][0]
                trace = ctx.tracer.new_id() if ctx.tracer.enabled else 0
                if ctx.traced:
                    group = f"perfbench-q-{trace}"
                    sc.setJobGroup(group, name)
                    ungrouped = len(sc.statusTracker().getJobIdsForGroup(None))
                attempted += 1
                try:
                    with ctx.tracer.span("query", trace, query=name) as sid:
                        t0 = time.perf_counter()
                        with ctx.tracer.span("query.build", trace, sid):
                            df = fn(spark, DATA_DIR)
                        t1 = time.perf_counter()
                        with ctx.tracer.span("query.exec", trace, sid):
                            df.write.format("noop").mode("overwrite").save()
                        t2 = time.perf_counter()
                except Exception as e:  # noqa: BLE001
                    failed += 1
                    errors.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}")
                    continue
                build[name].append(t1 - t0)
                execs[name].append(t2 - t1)
                if ctx.traced:
                    jobs[name].append(sum(_jobs(sc, group, ungrouped)))
            pass_s.append(time.perf_counter() - t_pass)
        elapsed = time.perf_counter() - t_start
    finally:
        spark.stop()
        # the JVM exits when its stdin pipe closes; wait for it
        jvm.stdin.close()
        jvm.wait(timeout=60)
        os.chdir(ctx.root)

    per_query = {n: [b + e for b, e in zip(build[n], execs[n])] for n in QUERY_SET}
    lat = [1e3 * v for n in QUERY_SET for v in per_query[n]]
    totals = {n: median(v) for n, v in per_query.items() if v}
    layer = {
        "batch.total_s": sum(totals.values()),
        "batch.geomean_s": math.exp(sum(math.log(v) for v in totals.values()) / len(totals)),
        "batch.build_s": sum(median(build[n]) for n in QUERY_SET if build[n]),
        "batch.exec_s": sum(median(execs[n]) for n in QUERY_SET if execs[n]),
    }
    if ctx.traced:
        layer["batch.jobs"] = sum(median(jobs[n]) for n in QUERY_SET if jobs[n])
    for n in QUERY_SET:
        if build[n]:
            layer[f"q.{n}.build_s"] = median(build[n])
            layer[f"q.{n}.exec_s"] = median(execs[n])
        if jobs[n]:
            layer[f"q.{n}.jobs"] = median(jobs[n])
    layer["batch.query_p90_ms"] = percentile(lat, 90)[0]
    e2e = {"latency_ms": 1e3 * layer["batch.geomean_s"], "setup_s": setup_s}
    return dict(e2e=e2e, layer=layer, attempted=attempted, failed=failed, errors=errors,
                extra={"pass_s": pass_s, "query_samples": len(lat),
                       "query_p50_ms": percentile(lat, 50)[0],
                       "queries_per_s": len(lat) / elapsed})
