"""Open-loop event generator for the ``live_window`` workload.

One process, one thread. File ``j`` holds the events due in
``[t0 + j*FILE_MS, t0 + (j+1)*FILE_MS)`` and is moved into the watched
directory at ``t0 + (j+1)*FILE_MS`` (written elsewhere first, then
renamed, so the stream never sees a partial file), whether or not the
consumer keeps up. Every event carries the wall-clock epoch-ms time it
was due (``due``) and its event time (``ts``):

- most events: ``ts == due``;
- ``OOO_SHARE``: ``ts`` up to ``OOO_MAX_MS`` earlier, inside the
  lateness allowance, so they are aggregated normally;
- ``LATE_SHARE`` (only from ``LATE_START_MS`` on, once the watermark is
  established): ``ts = due - LATE_BY_MS``, far past the allowance, so
  the watermark drops them.

``file_events`` is a pure function of (seed, j, t0), so the benchmark
re-derives exactly what was sent. Run as
``python3 perfbench/livegen.py SEED T0_MS FILES OUT_DIR STAGE_DIR``;
it prints ``{"files": n, "max_late_ms": x}`` when done or on SIGTERM.
"""

from __future__ import annotations

import json
import os
import signal
import sys
import time

import numpy as np

RATE = 2_000  # events per second offered
KEYS = 200
FILE_MS = 100
WINDOW_MS = 1_000  # tumbling window length
ALLOWANCE_MS = 1_000  # watermark delay (lateness allowance)
OOO_SHARE = 0.05
OOO_MAX_MS = 500
LATE_SHARE = 0.005
# Spark filters late rows against the watermark of the batch before, so
# a row is surely dropped only when it is older than the allowance plus
# two trigger intervals; the live workload checks triggers stay within.
LATE_BY_MS = ALLOWANCE_MS + 8 * WINDOW_MS
LATE_START_MS = 3_000
PER_FILE = RATE * FILE_MS // 1000

FIELDS = ("key", "value", "ts", "due", "seq")


def file_events(seed: int, j: int, t0_ms: int) -> dict[str, np.ndarray]:
    """Columns of file ``j``: key (int), value (int), ts, due, seq,
    late (bool, whether the event is meant to be dropped)."""
    rng = np.random.default_rng([seed, j])
    seq = j * PER_FILE + np.arange(PER_FILE, dtype="int64")
    due = t0_ms + (seq * 1000) // RATE
    roll = rng.random(PER_FILE)
    late = (roll < LATE_SHARE) & (due - t0_ms >= LATE_START_MS)
    ooo = (roll >= LATE_SHARE) & (roll < LATE_SHARE + OOO_SHARE)
    ts = due - np.where(late, LATE_BY_MS, 0) - np.where(ooo, rng.integers(1, OOO_MAX_MS, PER_FILE), 0)
    return {
        "key": rng.integers(0, KEYS, PER_FILE),
        "value": rng.integers(0, 10_000, PER_FILE),
        "ts": ts,
        "due": due,
        "seq": seq,
        "late": late,
    }


def ndjson(cols: dict[str, np.ndarray]) -> str:
    rows = zip(*(cols[f].tolist() for f in FIELDS))
    return "".join(
        f'{{"key":"k{k:03d}","value":{v},"ts":{t},"due":{d},"seq":{s}}}\n'
        for k, v, t, d, s in rows
    )


def run(seed: int, t0_ms: int, files: int, out_dir: str, stage_dir: str) -> dict:
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    max_late = 0.0
    written = 0
    for j in range(files):
        if stop:
            break
        body = ndjson(file_events(seed, j, t0_ms))
        due_at = (t0_ms + (j + 1) * FILE_MS) / 1000.0
        wait = due_at - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(stage_dir, f"part-{j:06d}.json")
        with open(tmp, "w") as f:
            f.write(body)
        os.rename(tmp, os.path.join(out_dir, f"part-{j:06d}.json"))
        max_late = max(max_late, (time.time() - due_at) * 1000.0)
        written += 1
    return {"files": written, "max_late_ms": max_late}


if __name__ == "__main__":
    seed, t0_ms, files = (int(a) for a in sys.argv[1:4])
    print(json.dumps(run(seed, t0_ms, files, sys.argv[4], sys.argv[5])), flush=True)
