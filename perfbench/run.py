"""Benchmark entry point.

    python3 perfbench/run.py --workload {live_window,batch_queries}
                             --seed N --seconds S --trace {0,1}

Runs one workload of ``denormalized_spark`` from the checkout this file
sits in, checks every output against a reference computation, and
prints one JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones (``E2E``); with
``--trace 1`` they are the per-layer ones (``LAYERS``), measured in a
run with Spark's event log on. A fuller record of the run goes to
``.perfbench/last-<workload>-trace<T>.json``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HAS_PACKAGE = (ROOT / "denormalized_spark" / "__init__.py").is_file()
if HAS_PACKAGE:
    sys.path.insert(0, str(ROOT))
    import lanes  # the lane list is the repo's bench.HEADLINE

E2E = {
    "setup_s": "s",
    "result_latency_p50_ms": "ms",
    "result_latency_p90_ms": "ms",
    "drain_window_rows_per_s": "rows/s",
    "drain_stateful_rows_per_s": "rows/s",
    "batch_total_s": "s",
    "success_rate": "ratio",
    "peak_rss_mb": "MB",
}

#: Per-layer metrics. A layer that does no work in a workload reports 0.
LAYERS = {
    "gen.max_late_ms": "ms",
    "session.start_s": "s",
    "datastream.build_ms": "ms",
    "query.start_ms": "ms",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.lag_ms": "ms",
    "trigger.planning_ms": "ms",
    "trigger.exec_ms": "ms",
    "trigger.add_batch_ms": "ms",
    "trigger.count": "count",
    "trigger.nodata_ms": "ms",
    "checkpoint.wal_commit_ms": "ms",
    "checkpoint.commit_offsets_ms": "ms",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.rows_dropped_by_watermark": "count",
    "sink.callback_ms": "ms",
    "drain.window_s": "s",
    "drain.sessionize_s": "s",
    "drain.scd2_s": "s",
    "exec.python_bytes": "bytes",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "latency.p99_ms": "ms",
    "anchor.duckdb_s": "s",
    "baseline.local1.drain_window_rows_per_s": "rows/s",
    "baseline.local1.drain_stateful_rows_per_s": "rows/s",
    "baseline.local1.batch_total_s": "s",
    **{f"traced.{k}": E2E[k] for k in (
        "result_latency_p50_ms", "result_latency_p90_ms", "drain_window_rows_per_s",
        "drain_stateful_rows_per_s", "batch_total_s",
    )},
    **{
        f"query.{lane}.{m}": unit
        for lane in (lanes.LANES if HAS_PACKAGE else ())
        for m, unit in (("build_s", "s"), ("plan_ms", "ms"), ("exec_s", "s"), ("tasks", "count"))
    },
}

WORKLOADS = ("live_window", "batch_queries")


def anchor_seconds(work: Path) -> float:
    """Host-speed control: a fixed DuckDB query set over the generated
    tables, median of three passes. It runs no project code."""
    import duckdb

    import datagen

    data = work / "anchor"
    datagen.write_tables(str(data))
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in ("lineitem", "orders", "customer", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    sql = [
        "SELECT l_returnflag, l_linestatus, sum(l_quantity), avg(l_extendedprice * (1 - l_discount)),"
        " count(*) FROM lineitem GROUP BY ALL",
        "SELECT c_mktsegment, count(*), sum(o_totalprice) FROM orders JOIN customer"
        " ON o_custkey = c_custkey JOIN lineitem ON l_orderkey = o_orderkey GROUP BY ALL",
        "SELECT user_id, time_bucket(INTERVAL 1 HOUR, ts) w, count(*), sum(value) FROM events"
        " GROUP BY ALL ORDER BY ALL",
    ]
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        for q in sql:
            con.execute(q).fetchall()
        walls.append(time.perf_counter() - t0)
    con.close()
    return sorted(walls)[1]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not HAS_PACKAGE:
        print(f"perfbench: no denormalized_spark package beside {HERE}", file=sys.stderr)
        return 2
    os.chdir(ROOT)

    import harness

    cores = len(os.sched_getaffinity(0))
    bench = harness.Bench(args.workload, cores, bool(args.trace))
    module = __import__(
        {"live_window": "live", "batch_queries": "lanes"}[args.workload]
    )
    t_run = time.perf_counter()
    base: dict[str, float] = {}
    try:
        with harness.RssSampler() as rss:
            bench.rss = rss
            res = module.run(bench, args.seed, args.seconds)
            rss.sample()
            peak = rss.peak
            session_walls = list(bench.session_walls)
            app_id = bench.spark.sparkContext.applicationId
            if bench.trace:
                # single-core baseline: the same work in a local[1]
                # session of the same (warm) JVM
                bench.cores = 1
                bench.start_session()
                base = {f"baseline.local1.{k}": v for k, v in module.baseline(bench, res).items()}
    finally:
        bench.close()
    groups = harness.parse_event_log(bench.work / "events" / app_id) if bench.trace else {}

    e2e = {
        "setup_s": bench.setup_s,
        **res["e2e"],
        "success_rate": 1.0 - res["failed"] / res["attempted"],
        "peak_rss_mb": peak / 2**20,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cores": cores, "trace": args.trace, "wall_s": time.perf_counter() - t_run,
        "session_walls": session_walls,
        "e2e": e2e, "attempted": res["attempted"], "failed": res["failed"],
        "detail": res.get("detail", {}),
        "peak_rss_parts_mb": [round(b / 2**20) for b in rss.peak_parts],
    }
    if args.trace:
        layers = dict.fromkeys(LAYERS, 0.0)
        layers.update(res["layers"])
        # Spark-stage totals over the timed work, per pass / round
        for g in res["exec_groups"]:
            for k, v in groups.get(g, {}).items():
                layers[k] += v / res["exec_divisor"]
        for lane in lanes.LANES:
            tasks = groups.get(lane, {}).get("exec.tasks", 0.0)
            layers[f"query.{lane}.tasks"] = tasks / res["exec_divisor"]
        layers["session.start_s"] = session_walls[0]  # the cold start
        layers["anchor.duckdb_s"] = anchor_seconds(bench.work)
        layers.update({f"traced.{k}": e2e[k] for k in E2E if f"traced.{k}" in LAYERS})
        layers.update(base)
        unknown = set(layers) - set(LAYERS)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from LAYERS: {sorted(unknown)}")
        record["layers"] = layers
        metrics = {k: {"value": float(layers[k]), "unit": LAYERS[k]} for k in LAYERS}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": E2E[k]} for k in E2E}

    harness.WORK_ROOT.mkdir(exist_ok=True)
    detail = harness.WORK_ROOT / f"last-{args.workload}-trace{args.trace}.json"
    detail.write_text(json.dumps(record, indent=1, default=lambda o: o.item()))
    import shutil

    shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps({
        "correct": int(res["failed"]) == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
