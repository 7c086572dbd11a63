"""The catch-up phase of the ``live_window`` workload: streams started
behind a seeded backlog, drained with ``availableNow`` in a few large
micro-batches.

The backlog has the ``events`` table's shape: 1,500 users with uneven
key frequency, 5 event types, timestamps in order except for a few
rows swapped with a near neighbour inside the same file (so within the
watermark and inside one micro-batch). It is staged as ``FILES``
parquet files with increasing mtimes and read ``FILES_PER_TRIGGER`` at
a time, on the default state store, through three pipelines:

- ``window``: ``with_watermark`` -> ``window`` per user, 1-hour tumbling;
- ``sessionize``: ``with_watermark`` -> ``sessionize`` (30-minute gap);
- ``scd2``: ``with_watermark`` -> ``scd2`` of ``event_type`` per user.

An untimed warm-up drains the first ``WARM_ROWS`` rows through all
three at once; then one timed round drains the whole backlog, the short
window pipeline three times. Every timed drain's output is checked
against the library's batch twins (the batch ``window``,
``sessionize_batch`` and ``scd2_batch``) over the same backlog.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import harness

ROWS = 20_000
USERS = 1_500
FILES = 4
FILES_PER_TRIGGER = 2
#: State-store partitions, pinned through the library's
#: ``session.state_partition_scope`` (its default, 32, costs ~4x on a
#: 1,500-key space, where per-partition fixed cost dominates).
STATE_PARTITIONS = 4
WARM_ROWS = 800
SPAN_US = 10 * 86_400_000_000
START_US = 1_704_067_200_000_000  # 2024-01-01
WINDOW_MS = 3_600_000
GAP_MS = 1_800_000
WATERMARK = "10 minutes"
SWAP_SHARE = 0.005
SWAP_MAX = 20  # rows; far less than the watermark's worth of events
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
PIPELINES = ("window", "sessionize", "scd2")
#: a timed round drains the short window pipeline three times, spread
#: over the round so one burst of host noise does not hit all three
TIMED_ROUND = ("window", "sessionize", "window", "scd2", "window")


def backlog(seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    weight = 1.0 / np.arange(1, USERS + 1) ** 0.8
    users = rng.permutation(USERS)[rng.choice(USERS, ROWS, p=weight / weight.sum())]
    ts = START_US + np.sort(rng.integers(0, SPAN_US, ROWS))
    order = np.arange(ROWS)
    chunk = ROWS // FILES
    for i in np.flatnonzero(rng.random(ROWS) < SWAP_SHARE):
        j = min(i + int(rng.integers(1, SWAP_MAX)), (i // chunk + 1) * chunk - 1, ROWS - 1)
        order[i], order[j] = order[j], order[i]
    table = pa.table(
        {
            "event_id": np.arange(ROWS, dtype="int64"),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": users.astype("int64"),
            "event_type": rng.choice(EVENT_TYPES, ROWS),
            "value": np.round(rng.exponential(50.0, ROWS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ROWS)],
        }
    )
    return table.take(order)


def stage(table: pa.Table, root: str) -> None:
    """Write the table as ``FILES`` parts,
    ``root/events.parquet/part-i.parquet``, with increasing mtimes (the
    file source reads oldest first)."""
    d = os.path.join(root, "events.parquet")
    os.makedirs(d)
    chunk = table.num_rows // FILES
    for i in range(FILES):
        part = table.slice(i * chunk, chunk if i < FILES - 1 else None)
        path = os.path.join(d, f"part-{i:03d}.parquet")
        pq.write_table(part, path)
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def build(spark, root: str, pipeline: str):
    from pyspark.sql import functions as F

    from denormalized_spark import DataStream
    from denormalized_spark.sources.files import stream_table

    ds = DataStream(
        stream_table(spark, root, "events", max_files_per_trigger=FILES_PER_TRIGGER),
        event_time="ts",
    ).with_watermark(WATERMARK)
    if pipeline == "window":
        return ds.window(
            ["user_id"],
            [F.count("*").alias("n"), F.sum("value").alias("total"), F.max("event_id").alias("last_id")],
            WINDOW_MS,
        )
    if pipeline == "sessionize":
        return ds.sessionize(["user_id"], GAP_MS)
    return ds.scd2(["user_id"], "event_type", tiebreak_col="event_id")


def twins(spark, root: str) -> dict[str, pd.DataFrame]:
    """The library's batch computations over the same backlog."""
    from pyspark.sql import functions as F

    from denormalized_spark import DataStream
    from denormalized_spark.sources.files import load_table
    from denormalized_spark.streaming.stateful import scd2_batch, sessionize_batch

    df = load_table(spark, root, "events")
    window = DataStream(df, event_time="ts").window(
        ["user_id"],
        [F.count("*").alias("n"), F.sum("value").alias("total"), F.max("event_id").alias("last_id")],
        WINDOW_MS,
    )
    dfs = {
        "window": window.df,
        "sessionize": sessionize_batch(df, ["user_id"], "ts", GAP_MS),
        "scd2": scd2_batch(df, ["user_id"], "ts", "event_type", "event_id"),
    }
    with ThreadPoolExecutor(len(dfs)) as ex:
        return dict(zip(dfs, ex.map(lambda d: d.toPandas(), dfs.values())))


def drain(spark, root: str, pipeline: str, ckpt: str) -> dict:
    """Build, start and drain one pipeline; returns its walls, the rows
    the sink received and Spark's progress."""
    received: list[pd.DataFrame] = []

    def sink(batch_df):
        received.append(batch_df.toPandas())

    walls: dict[str, list[float]] = {"build": [], "start": [], "wall": []}
    with harness.Timer(walls["wall"]):
        with harness.Timer(walls["build"]):
            ds = build(spark, root, pipeline)
        with harness.Timer(walls["start"]):
            query = ds.sink(sink, checkpoint=ckpt, query_name=f"drain_{pipeline}")
        query.awaitTermination(150)
    if query.isActive:
        query.stop()
        raise RuntimeError(f"catch-up: {pipeline} drain did not finish")
    out = pd.concat(received, ignore_index=True) if received else pd.DataFrame()
    return {
        "wall": walls["wall"][0],
        "build": walls["build"][0],
        "start": walls["start"][0],
        "rows": out,
        "progress": harness.progress_dicts(query),
        "failed": query.exception() is not None,
        "run_id": str(query.runId),
    }


def _window_mismatches(got: pd.DataFrame, want: pd.DataFrame, final_wm) -> int:
    key = ["user_id", "window_start_time"]
    want = want[want["window_end_time"] <= final_wm].set_index(key)
    got = got.set_index(key) if len(got) else want.iloc[:0]
    bad = int(got.index.duplicated().sum())
    got = got[~got.index.duplicated()]
    bad += len(want.index.symmetric_difference(got.index))
    both = got.join(want, how="inner", rsuffix="_twin")
    bad += int(
        (
            (both["n"] != both["n_twin"])
            | (both["last_id"] != both["last_id_twin"])
            | ~np.isclose(both["total"], both["total_twin"], rtol=1e-12, atol=1e-9)
        ).sum()
    )
    return bad


def _session_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Emitted sessions must be batch sessions; every session that is not
    a user's last must be emitted (the last may still be open)."""
    key = ["user_id", "session_start", "session_end"]
    all_sessions = want.set_index(key)["n_events"]
    last = want.groupby("user_id")["session_start"].transform("max")
    must = set(want.loc[want["session_start"] != last, key].itertuples(index=False, name=None))
    emitted = list(got[key + ["n_events"]].itertuples(index=False, name=None)) if len(got) else []
    seen = {e[:3] for e in emitted}
    bad = len(emitted) - len(seen)
    bad += sum(all_sessions.get(e[:3]) != e[3] for e in emitted)
    return bad + len(must - seen)


def _scd2_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    cols = ["user_id", "version", "event_type", "valid_from", "valid_to"]
    g = set(got[cols].itertuples(index=False, name=None)) if len(got) else set()
    w = set(want[cols].itertuples(index=False, name=None))
    return (len(got) - len(g)) + len(g ^ w)


def drain_round(bench: harness.Bench, source: str, pipelines=PIPELINES, parallel=False) -> dict:
    """One drain of each of ``pipelines``, each on a fresh checkpoint;
    ``parallel`` runs them side by side (for untimed warm-up only)."""
    from denormalized_spark.session import state_partition_scope

    def one(i_pipeline):
        i, pipeline = i_pipeline
        ckpt = bench.work / f"ckpt-{time.time_ns()}-{i}"
        return pipeline, drain(bench.spark, source, pipeline, str(ckpt))

    with state_partition_scope(bench.spark, STATE_PARTITIONS):
        if parallel:
            with ThreadPoolExecutor(len(pipelines)) as ex:
                done = list(ex.map(one, enumerate(pipelines)))
        else:
            done = [one(x) for x in enumerate(pipelines)]
    out: dict[str, list[dict]] = {}
    for pipeline, d in done:
        out.setdefault(pipeline, []).append(d)
    return out


def round_metrics(rnd: dict) -> dict[str, float]:
    """End-to-end figures of a timed round. The window drain is short
    and repeated; the fastest repetition is the least disturbed by the
    host."""
    wall = {p: min(d["wall"] for d in rnd[p]) for p in PIPELINES}
    return {
        "drain_window_rows_per_s": ROWS / wall["window"],
        "drain_stateful_rows_per_s": ROWS / (wall["sessionize"] + wall["scd2"]),
        "batch_total_s": sum(wall.values()),
    }


def stage_backlog(seed: int, root: Path) -> None:
    table = backlog(seed)
    stage(table, str(root / "all"))
    stage(table.slice(0, WARM_ROWS), str(root / "warm"))


def catch_up(bench: harness.Bench, root: Path) -> dict:
    """Warm up, drain one timed round over ``root`` (staged by
    ``stage_backlog``) and check it."""
    from denormalized_spark.streaming.checkpoint import use_default_state_store

    use_default_state_store(bench.spark)
    drain_round(bench, str(root / "warm"), parallel=True)
    rnd = drain_round(bench, str(root / "all"), TIMED_ROUND)
    want = twins(bench.spark, str(root / "all"))
    # one checked operation per drain; mismatched rows go to the detail
    mismatched: dict[str, list[int]] = {}
    for pipeline, ds in rnd.items():
        for d in ds:
            if pipeline == "window":
                wm = pd.Timestamp(d["progress"][-1]["eventTime"]["watermark"]).tz_convert(None)
                bad = _window_mismatches(d["rows"], want["window"], wm)
            elif pipeline == "sessionize":
                bad = _session_mismatches(d["rows"], want["sessionize"])
            else:
                bad = _scd2_mismatches(d["rows"], want["scd2"])
            d["ok"] = not d["failed"] and bad == 0
            mismatched.setdefault(pipeline, []).append(bad)

    drains = [d for ds in rnd.values() for d in ds]
    progress = harness.summarize_progress([p for d in drains for p in d["progress"]])
    layers = {
        "datastream.build_ms": harness.median(d["build"] * 1000 for d in drains),
        "query.start_ms": harness.median(d["start"] * 1000 for d in drains),
        **{f"drain.{p}_s": min(d["wall"] for d in rnd[p]) for p in PIPELINES},
        **{k: progress[k] for k in ("trigger.nodata_ms", "state.update_ms", "state.removal_ms")},
    }
    return {
        "e2e": round_metrics(rnd),
        "layers": layers,
        "attempted": len(drains),
        "failed": sum(not d["ok"] for d in drains),
        "exec_groups": [d["run_id"] for d in drains],
        "detail": {
            "walls": {p: [d["wall"] for d in rnd[p]] for p in PIPELINES},
            "rows_out": {p: len(rnd[p][0]["rows"]) for p in PIPELINES},
            "mismatched_rows": mismatched,
        },
    }


def baseline(bench: harness.Bench, root: Path) -> dict[str, float]:
    """One unchecked round on the session ``bench`` holds (local[1])."""
    return round_metrics(drain_round(bench, str(root / "all")))
