"""``batch_queries``: the 22 headline lanes of the query registry (the
``HEADLINE`` set of the repo's ``bench.py``) over the generated tables
(``datagen.py``, fixed seed).

Each lane is checked once, then timed in passes until ``seconds`` have
passed (at least one pass). In every pass each lane is **built fresh**
from its registry function and executed through the noop sink; the
build is timed together with the execution, and the lane's Spark jobs
run under a job group named after it. So an eager lane, whose Spark job
fires at build time, is charged for that job, and no timed repetition
re-executes a DataFrame built earlier or reuses its shuffle output.
``--seed`` only permutes the lane order.

Correctness: before timing, every lane's result is hashed
(``harness.canonical_hash``) and compared with the hash of its DuckDB
oracle (the registry's ``ORACLES``) over the same parquet. The oracles
are hashed during set-up, on every run.
"""

from __future__ import annotations

import random
import time

import datagen
import harness
from bench import HEADLINE as LANES

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
WINDOW_LANES = ("window_tumbling_1h", "window_sliding_1h_30m", "window_session_30m")
STATEFUL_LANE = "sessionize_users"  # batch twin of streaming.stateful.sessionize
#: samples of the lanes above taken outside the passes. Each runs a few
#: tenths of a second, and a sample varies by up to 2x with scheduling
#: noise and JIT warm-up; the fastest of nine is steady within ~10%.
EXTRA_SAMPLES = 8


def oracle_hashes(data_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """Canonical hashes of each lane's DuckDB oracle result."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    out = {lane: harness.canonical_hash(con.execute(oracles[lane]).df()) for lane in LANES}
    con.close()
    return out


def timed_pass(spark, queries, order, data_dir: str, group: str = "") -> dict[str, tuple[float, float, object]]:
    """Build each lane fresh and run it through the noop sink, under the
    job group ``group + lane``; returns lane -> (build seconds, execute
    seconds, the DataFrame)."""
    sc = spark.sparkContext
    out = {}
    for lane in order:
        sc.setJobGroup(group + lane, lane)
        t0 = time.perf_counter()
        df = queries[lane](spark, data_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[lane] = (t1 - t0, time.perf_counter() - t1, df)
    sc.setJobGroup("", "")
    return out


def plan_ms(df) -> float:
    """Catalyst optimization + physical planning of ``df``, from Spark's
    query-phase tracker (analysis already happened at build)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(
        sum(phases.get(p).get().durationMs() for p in ("optimization", "planning") if phases.contains(p))
    )


def run(bench: harness.Bench, seed: int, seconds: int) -> dict:
    order = list(LANES)
    random.Random(seed).shuffle(order)

    data_dir = str(bench.work / "data")

    def stage():
        from denormalized_spark.queries import ORACLES

        datagen.write_tables(data_dir)
        return oracle_hashes(data_dir, ORACLES)

    want = bench.setup(stage)
    spark = bench.spark
    from denormalized_spark.queries import QUERIES as queries

    # check pass (untimed; also the warm-up). Serial on purpose: a
    # parallel check pass left the timed pass slower and noisier.
    def check(lane):
        spark.sparkContext.setJobGroup(f"check:{lane}", lane)
        try:
            return harness.canonical_hash(queries[lane](spark, data_dir).toPandas()) == want[lane]
        except Exception as e:  # noqa: BLE001 - a failing lane counts as a failed operation
            print(f"batch_queries: {lane} failed: {str(e).splitlines()[0][:200]}", flush=True)
            return False

    failed_lanes = [lane for lane in order if not check(lane)]

    # the short lanes behind the drain figures get EXTRA_SAMPLES more
    # samples each, half before and half after the passes, so one burst
    # of host noise does not hit most of them; their own job group keeps
    # them out of the per-pass Spark-stage figures
    twins = [lane for lane in order if lane in (*WINDOW_LANES, STATEFUL_LANE)]
    extra = [timed_pass(spark, queries, twins, data_dir, "extra:") for _ in range(EXTRA_SAMPLES // 2)]
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        passes.append(timed_pass(spark, queries, order, data_dir))
    extra += [timed_pass(spark, queries, twins, data_dir, "extra:") for _ in range(EXTRA_SAMPLES // 2)]
    events = spark.read.parquet(f"{data_dir}/events.parquet").count()

    samples_ms = [(b + e) * 1000 for p in passes for b, e, _ in p.values()]
    layers = {"latency.p99_ms": harness.quantile(samples_ms, 0.99)}
    for lane in order:
        layers[f"query.{lane}.build_s"] = harness.median(p[lane][0] for p in passes)
        layers[f"query.{lane}.exec_s"] = harness.median(p[lane][1] for p in passes)
        if bench.trace:
            layers[f"query.{lane}.plan_ms"] = plan_ms(passes[-1][lane][2])
    return {
        "e2e": pass_metrics(passes, events, extra),
        "layers": layers,
        # one checked operation per lane
        "attempted": len(order),
        "failed": len(failed_lanes),
        "exec_groups": order,
        "exec_divisor": len(passes),
        "baseline_args": (order, data_dir, events),
        "detail": {"passes": len(passes), "order": order, "failed_lanes": failed_lanes, "lane_total_s": {
            lane: harness.median(p[lane][0] + p[lane][1] for p in passes) for lane in order
        }},
    }


def pass_metrics(passes: list[dict], events: int, extra: list[dict] = ()) -> dict[str, float]:
    """End-to-end figures from timed passes: per-lane medians of build +
    execute; the window and sessionize lanes take their fastest sample,
    ``extra`` included."""

    total = {
        lane: harness.median(p[lane][0] + p[lane][1] for p in passes) for lane in passes[0]
    }

    def fastest(lane):  # short lanes: the least disturbed sample
        return min(p[lane][0] + p[lane][1] for p in [*passes, *extra] if lane in p)

    lanes_ms = [t * 1000 for t in total.values()]
    return {
        "result_latency_p50_ms": harness.quantile(lanes_ms, 0.5),
        "result_latency_p90_ms": harness.quantile(lanes_ms, 0.9),
        "drain_window_rows_per_s": events * len(WINDOW_LANES) / sum(fastest(w) for w in WINDOW_LANES),
        "drain_stateful_rows_per_s": events / fastest(STATEFUL_LANE),
        "batch_total_s": sum(total.values()),
    }


def baseline(bench: harness.Bench, res: dict) -> dict[str, float]:
    """One unchecked pass on the session ``bench`` holds (local[1])."""
    from denormalized_spark.queries import QUERIES

    order, data_dir, events = res["baseline_args"]
    m = pass_metrics([timed_pass(bench.spark, QUERIES, order, data_dir)], events)
    return {k: m[k] for k in ("drain_window_rows_per_s", "drain_stateful_rows_per_s", "batch_total_s")}
