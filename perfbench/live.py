"""``live_window``: the reference's headline use, a live windowed
aggregation over a tailing source, driven open-loop.

``livegen.py`` drops newline-JSON files into a watched directory at
2,000 events/s over 200 keys. The query is the façade chain
``Context.with_checkpointing`` (RocksDB + changelog) ->
``from_stream_json`` -> ``with_timestamp`` -> ``with_watermark`` ->
``window`` -> ``sink`` (foreachBatch, processing-time trigger). The
first ``WARMUP_MS`` of the stream warm the JVM and are not measured;
the next ``seconds`` are. Before the stream starts, the same query
drains a few files once (``warm_up``), untimed.

After the live stream, the same session runs the catch-up phase
(``drain.py``): a backlog drained through ``window``, ``sessionize``
and ``scd2``, which supplies the workload's ``drain_*`` and
``batch_total_s`` figures.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pandas as pd

import drain
import harness
import livegen as gen

WARMUP_MS = gen.LATE_START_MS  # late events start once the stream is warm
TRIGGER = {"processingTime": "250 milliseconds"}
# stream kept running past the measured span so its last windows close
TAIL_MS = gen.ALLOWANCE_MS + gen.WINDOW_MS + 500
# with triggers further apart than this, late drops stop being certain
MAX_TRIGGER_GAP_MS = (gen.LATE_BY_MS - gen.ALLOWANCE_MS) // 2
STATE_PARTITIONS = drain.STATE_PARTITIONS
SCHEMA = "key string, value long, ts long, due long, seq long"


def _epoch_ms(series: pd.Series) -> np.ndarray:
    return series.astype("datetime64[ms]").astype("int64").to_numpy()


def _iso_ms(text: str) -> int:
    return int(pd.Timestamp(text).value // 1_000_000)


def build(ctx, path: str, batch: bool = False):
    """The live query; ``batch=True`` gives its batch twin over the
    same directory (``window`` skips the watermark on a batch)."""
    from pyspark.sql import functions as F

    source = ctx.from_json(path, schema=SCHEMA) if batch else ctx.from_stream_json(path, SCHEMA)
    return (
        source.with_timestamp("ts", "ms")
        .with_watermark(f"{gen.ALLOWANCE_MS} milliseconds")
        .window(
            ["key"],
            [F.count("*").alias("n"), F.sum("value").alias("total"), F.max("due").alias("last_due")],
            gen.WINDOW_MS,
        )
    )


def run(bench: harness.Bench, seed: int, seconds: int) -> dict:
    """The live stream for ``seconds``, then the catch-up drains
    (``drain.py``) in the same session."""
    d = bench.work / "live"

    def stage():
        for sub in ("watch", "stage", "ckpt"):
            (d / sub).mkdir(parents=True)
        drain.stage_backlog(seed, d / "backlog")

    bench.setup(stage)
    from denormalized_spark import Context
    from denormalized_spark.session import state_partition_scope

    ctx = Context(bench.spark).with_checkpointing(str(d / "ckpt"))

    with state_partition_scope(ctx.spark, STATE_PARTITIONS):
        warm_up(ctx, d, seed)
        live = _measure(bench, ctx, d, str(d / "watch"), seed, seconds)
    cu = drain.catch_up(bench, d / "backlog")
    return {
        "e2e": {**live["e2e"], **cu["e2e"]},
        "layers": {**live["layers"], **cu["layers"]},
        "attempted": live["attempted"] + cu["attempted"],
        "failed": live["failed"] + cu["failed"],
        "exec_groups": live["exec_groups"] + cu["exec_groups"],
        "exec_divisor": 1,
        "backlog": d / "backlog",
        "detail": {**live["detail"], "catch_up": cu["detail"]},
    }


def baseline(bench: harness.Bench, res: dict) -> dict[str, float]:
    return drain.baseline(bench, res["backlog"])


def warm_up(ctx, d: Path, seed: int) -> None:
    """Drain a few generator files through the same query once, so the
    live query's first micro-batches do not pay JIT and first-use cost."""
    warm = d / "warm"
    warm.mkdir()
    t0_ms = int(time.time() * 1000) - 10_000
    for j in range(5):
        (warm / f"part-{j:06d}.json").write_text(gen.ndjson(gen.file_events(seed + 1, j, t0_ms)))
    query = build(ctx, str(warm)).sink(lambda df: df.toPandas(), checkpoint=str(d / "warm-ckpt"))
    query.awaitTermination(120)


def _measure(bench: harness.Bench, ctx, d: Path, watch: str, seed: int, seconds: int) -> dict:
    files = (WARMUP_MS + seconds * 1000 + TAIL_MS) // gen.FILE_MS
    t0_ms = (int(time.time()) + 1) * 1000  # whole second: windows align with t0
    proc = subprocess.Popen(
        [sys.executable, str(Path(gen.__file__)), str(seed), str(t0_ms), str(files),
         watch, str(d / "stage")],
        stdout=subprocess.PIPE,
        text=True,
    )
    bench.rss.exclude.add(proc.pid)

    received: dict[int, tuple[float, pd.DataFrame]] = {}
    sink_walls: list[float] = []

    def sink(batch_df, epoch):
        with harness.Timer(sink_walls):
            pdf = batch_df.toPandas()
            received[epoch] = (time.time() * 1000.0, pdf)

    build_walls, start_walls = [], []
    query = None
    try:
        with harness.Timer(build_walls):
            ds = build(ctx, watch)
        with harness.Timer(start_walls):
            query = ds.sink(sink, trigger=TRIGGER, query_name="live_window")
        out, _ = proc.communicate(timeout=(t0_ms / 1000 - time.time()) + files * gen.FILE_MS / 1000 + 60)
        sent = json.loads(out.strip().splitlines()[-1])
        total_rows = sent["files"] * gen.PER_FILE
        deadline = time.time() + 60
        while time.time() < deadline:
            done = sum(p.get("numInputRows", 0) for p in harness.progress_dicts(query))
            if done >= total_rows or query.exception() is not None:
                break
            time.sleep(0.2)
    finally:
        if query is not None:
            query.stop()
        if proc.poll() is None:
            harness.stop_processes([proc.pid])
        proc.wait()
    failed_query = query.exception() is not None
    progress = harness.progress_dicts(query)

    # -- what was sent (re-derived from the seed) ------------------------
    sent_cols = [gen.file_events(seed, j, t0_ms) for j in range(sent["files"])]
    ev = pd.DataFrame({k: np.concatenate([c[k] for c in sent_cols]) for k in ("key", "ts", "late")})
    ev["key"] = ["k%03d" % k for k in ev["key"]]
    ev["window"] = ev["ts"] // gen.WINDOW_MS * gen.WINDOW_MS
    late_per_window = ev[ev["late"]].groupby(["window", "key"]).size()

    # -- what the sink received in committed micro-batches ---------------
    committed = {p["batchId"] for p in progress}
    parts = []
    for epoch, (recv_ms, pdf) in received.items():
        if epoch in committed and len(pdf):
            pdf = pdf.assign(recv_ms=recv_ms, window=_epoch_ms(pdf["window_start_time"]))
            parts.append(pdf)
    emitted = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
        columns=["key", "n", "total", "last_due", "recv_ms", "window"]
    )
    final_wm = _iso_ms(progress[-1]["eventTime"]["watermark"]) if progress else 0

    # -- reference: the library's batch window over the same files -------
    twin = build(ctx, watch, batch=True).df.toPandas()
    twin["window"] = _epoch_ms(twin["window_start_time"])
    twin = twin.set_index(["window", "key"])
    late = late_per_window.reindex(twin.index, fill_value=0)
    twin["n_on_time"] = twin["n"] - late
    closed = twin[(twin.index.get_level_values("window") + gen.WINDOW_MS <= final_wm) & (twin["n_on_time"] > 0)]
    held = int(twin.loc[twin.index.get_level_values("window") + gen.WINDOW_MS > final_wm, "n_on_time"].sum())

    mismatched = 0
    got = emitted.set_index(["window", "key"])
    if not got.index.is_unique:
        mismatched += int(got.index.duplicated().sum())
        got = got[~got.index.duplicated()]
    mismatched += len(closed.index.difference(got.index)) + len(got.index.difference(closed.index))
    both = got.join(closed, how="inner", rsuffix="_twin")
    clean = both["n_twin"] == both["n_on_time"]  # windows that got no late events
    mismatched += int((both["n"] != both["n_on_time"]).sum())
    mismatched += int(
        ((both["total"] != both["total_twin"]) | (both["last_due"] != both["last_due_twin"]))[clean].sum()
    )
    # Spark counts dropped rows after partial aggregation: late events of
    # one (window, key) read in one micro-batch count once.
    dropped = sum(harness.state_sum(p, "numRowsDroppedByWatermark") for p in progress)
    late_sent = int(ev["late"].sum())
    conserved = total_rows == int(emitted["n"].sum()) + late_sent + held
    drops_right = len(late_per_window) <= dropped <= late_sent

    # -- the measured span -------------------------------------------------
    span = (t0_ms + WARMUP_MS, t0_ms + WARMUP_MS + seconds * 1000)
    measured = emitted[(emitted["window"] >= span[0]) & (emitted["window"] + gen.WINDOW_MS <= span[1])]
    latency = (measured["recv_ms"] - measured["last_due"]).to_numpy(dtype=float)
    span_all = [p for p in progress if span[0] <= _iso_ms(p["timestamp"]) < span[1]]
    in_span = [p for p in span_all if p.get("numInputRows", 0) > 0]
    starts = [_iso_ms(p["timestamp"]) for p in in_span]
    lags = [t - _iso_ms(p["eventTime"]["max"]) for t, p in zip(starts, in_span)]
    quarter = max(1, len(lags) // 4)
    backlog_grew = (
        len(starts) < 2
        or harness.median(lags[-quarter:]) - harness.median(lags[:quarter]) > 1000
        or max(b - a for a, b in zip(starts, starts[1:])) > MAX_TRIGGER_GAP_MS
    )
    # Micro-batches 0 and 1 filter late rows against no watermark yet, so
    # they must end before the first late event is due.
    early = [_iso_ms(p["eventTime"]["max"]) for p in progress if p["batchId"] <= 1 and p["numInputRows"]]
    late_too_early = max(early, default=0) >= t0_ms + gen.LATE_START_MS
    # one checked operation each
    checks = {
        "query_ran": not failed_query,
        "closed_windows_match": mismatched == 0,
        "conserved": conserved,
        "drops_right": drops_right,
        "backlog_steady": not backlog_grew,
        "late_after_warmup": not late_too_early,
    }
    if len(latency) == 0:
        raise RuntimeError("live_window: no result rows in the measured span")
    layers = {
        "gen.max_late_ms": sent["max_late_ms"],
        "datastream.build_ms": build_walls[0] * 1000,
        "query.start_ms": start_walls[0] * 1000,
        "sources.lag_ms": harness.median(lags),
        "sink.callback_ms": harness.median(s * 1000 for s in sink_walls),
        "latency.p99_ms": harness.quantile(latency, 0.99),
        **harness.summarize_progress(span_all),
    }
    return {
        "e2e": {
            "result_latency_p50_ms": harness.quantile(latency, 0.5),
            "result_latency_p90_ms": harness.quantile(latency, 0.9),
        },
        "layers": layers,
        "attempted": len(checks),
        "failed": sum(not ok for ok in checks.values()),
        "exec_groups": [str(query.runId)],
        "detail": {
            "result_rows_measured": int(len(latency)),
            "triggers_measured": len(in_span),
            "events_sent": total_rows,
            "dropped": dropped,
            "late_sent": late_sent,
            "emitted_events": int(emitted["n"].sum()),
            "held": held,
            "checks": checks,
            "mismatched_rows": mismatched,
            "triggers": [
                [p["batchId"], p["timestamp"], p["numInputRows"], p["durationMs"],
                 {k: harness.state_sum(p, k) for k in ("commitTimeMs", "allUpdatesTimeMs", "numRowsTotal", "numRowsDroppedByWatermark")}]
                for p in progress
            ],
        },
    }

