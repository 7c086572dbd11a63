"""Seeded inputs, the result hash and BENCHMARK.json agree with the code."""

from __future__ import annotations

import json
import re

import numpy as np
import pandas as pd

import datagen
import drain
import harness
import livegen as gen
import run

ROOT = harness.ROOT


def test_live_events_are_a_function_of_the_seed():
    a, b = gen.file_events(7, 60, 1_000_000), gen.file_events(7, 60, 1_000_000)
    assert all(np.array_equal(a[k], b[k]) for k in a)
    assert not np.array_equal(a["key"], gen.file_events(8, 60, 1_000_000)["key"])


def test_live_lateness_classes():
    t0 = 1_000_000
    cols = [gen.file_events(3, j, t0) for j in range(200)]
    due = np.concatenate([c["due"] for c in cols])
    ts = np.concatenate([c["ts"] for c in cols])
    late = np.concatenate([c["late"] for c in cols])
    assert (due - t0 >= gen.LATE_START_MS)[late].all()
    assert (due - ts == gen.LATE_BY_MS)[late].all()
    on_time = ~late
    assert ((due - ts)[on_time] < gen.OOO_MAX_MS).all()
    assert 0 < late.sum() and 0 < (due > ts)[on_time].sum()
    lines = gen.ndjson(cols[0]).splitlines()
    assert len(lines) == gen.PER_FILE and json.loads(lines[0])["due"] == t0


def test_backlog_is_seeded_and_disorder_stays_inside_a_file():
    a, b = drain.backlog(5), drain.backlog(5)
    assert a.equals(b)
    ts = a.column("ts").to_numpy().astype("int64")
    chunk = drain.ROWS // drain.FILES
    for i in range(drain.FILES):
        part = ts[i * chunk : (i + 1) * chunk]
        assert part.min() >= ts[: i * chunk].max(initial=part.min())
    assert (np.diff(ts) < 0).any()


def test_generated_tables_are_deterministic():
    a, b = datagen.tables(), datagen.tables()
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    assert all(a[t].equals(b[t]) for t in a)
    assert a["lineitem"].num_rows == datagen.SIZES["lineitem"]


def test_canonical_hash_ignores_row_and_column_order_but_not_types():
    df = pd.DataFrame({"b": [2, 1], "a": ["x", "y"]})
    assert harness.canonical_hash(df) == harness.canonical_hash(df.iloc[::-1][["a", "b"]])
    assert harness.canonical_hash(df) != harness.canonical_hash(df.astype({"b": "float64"}))


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYERS
    assert 1 <= len(spec["per_layer"]) <= 128
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert name.match(m["name"]) and re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
