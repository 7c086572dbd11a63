"""Shared pieces of the benchmark: the Spark session it drives, its
cold set-up, the peak-RSS sampler, summaries of Spark's streaming
progress and event log, and the canonical result hash.

Everything the benchmark writes goes under one work directory inside
the checkout (``.perfbench/``), including Spark's local dirs, the
JVM's temp dir, the warehouse and the event log.
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench"
RSS_INTERVAL_S = 0.5
#: how long a process gets to end after SIGTERM before SIGKILL
STOP_TIMEOUT_S = 20.0


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    """Median of the values; 0 when there are none."""
    values = list(values)
    return statistics.median(values) if values else 0.0


class Timer:
    """Context manager that appends its wall time in seconds to a list."""

    def __init__(self, sink: list):
        self.sink = sink

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.sink.append(time.perf_counter() - self.t0)
        return False


# -- process tree ---------------------------------------------------------


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _ppid(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
        return int(stat[stat.rindex(b")") + 2 :].split()[1])
    except (OSError, ValueError):
        return 0


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid`` (not ``pid`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            children.setdefault(_ppid(int(name)), []).append(int(name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it, so a forked Python worker does not
    count the pages it shares with its parent again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Samples the summed resident memory (PSS) of this process and its
    descendants (the driver JVM and the Python workers it forks) every
    ``RSS_INTERVAL_S``; ``exclude`` holds process-tree roots left out,
    such as the load generator."""

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak = 0
        self.peak_parts: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    def sample(self) -> None:
        me = os.getpid()
        skip = set()
        for root in self.exclude:
            skip |= {root} | descendants(root)
        # The JVM (a java child of this process) and Python processes
        # below it; a child the JVM is still spawning shares its
        # address space and is left out.
        pids = {me} | {
            p for p in descendants(me) - skip
            if _comm(p).startswith("python") or (_comm(p) == "java" and _ppid(p) == me)
        }
        rss = {p: _pss_bytes(p) for p in pids}
        if sum(rss.values()) > self.peak:
            self.peak = sum(rss.values())
            self.peak_parts = sorted(rss.values(), reverse=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(RSS_INTERVAL_S)


def stop_processes(pids) -> None:
    """SIGTERM each pid, wait up to ``STOP_TIMEOUT_S``, then SIGKILL
    what is left and wait for it to go."""

    def alive(p):
        try:
            os.kill(p, 0)
        except ProcessLookupError:
            return False
        try:  # a zombie has ended; its parent reaps it
            with open(f"/proc/{p}/stat", "rb") as f:
                stat = f.read()
            return stat[stat.rindex(b")") + 2 : stat.rindex(b")") + 3] != b"Z"
        except OSError:
            return False

    pids = [p for p in pids if alive(p)]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + STOP_TIMEOUT_S
        while pids and time.time() < deadline:
            pids = [p for p in pids if alive(p)]
            time.sleep(0.05)
        if not pids:
            return


# -- Spark session --------------------------------------------------------


class Bench:
    """One benchmark run: its work directory, its Spark session and its
    cold set-up. ``cores`` sets ``local[N]``; ``trace`` turns on
    Spark's JSON event log, the only tracing that costs the engine
    anything."""

    def __init__(self, workload: str, cores: int, trace: bool):
        self.workload = workload
        self.cores = cores
        self.trace = trace
        self.work = WORK_ROOT / f"run-{os.getpid()}"
        for sub in ("tmp", "local", "warehouse", "events"):
            (self.work / sub).mkdir(parents=True, exist_ok=True)
        # Before the JVM starts: keep Spark, its Python workers and
        # every temp file inside the work directory.
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        self.spark = None
        self.session_walls: list[float] = []
        self.setup_s = 0.0

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.enabled": "false",
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(self.work / "events"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start_session(self):
        """(Re)start the session through the library's factory plus a
        small warm-up job; the wall goes to ``session_walls``."""
        from denormalized_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.cores}]",
            extra_conf=self.conf(),
        )
        self.spark.range(200_000).selectExpr("sum(id)").collect()
        self.session_walls.append(time.perf_counter() - t0)
        return self.spark

    def setup(self, stage):
        """The run's one set-up, cold and timed into ``setup_s``:
        importing the library, then side by side the JVM launch through
        ``session.get_spark`` with a small warm-up job and ``stage()``
        in a thread (input files, oracle hashes; no Spark). Returns what
        ``stage`` returns."""
        t0 = time.perf_counter()
        import denormalized_spark  # noqa: F401 - the import is part of set-up

        with ThreadPoolExecutor(1) as ex:
            staged = ex.submit(stage)
            self.start_session()
            staged = staged.result()
        self.setup_s = time.perf_counter() - t0
        return staged

    def close(self) -> None:
        """Stop the session, then the JVM and every process it forked,
        and wait for them."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        tree = descendants(os.getpid())
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close() if proc.stdin else None
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - fall through to the kill below
                pass
        stop_processes(tree)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


# -- Spark's own progress and event log ----------------------------------


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def state_sum(progress: dict, key: str) -> float:
    return sum(op.get(key, 0) or 0 for op in progress.get("stateOperators", []))


def summarize_progress(progress: list[dict]) -> dict[str, float]:
    """Per-trigger layer split from Spark's progress records: medians
    over data triggers, totals for counts, no-data triggers apart."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    nodata = [p for p in progress if p.get("numInputRows", 0) == 0]

    def dur(key):
        return median(p["durationMs"].get(key, 0) for p in data)

    return {
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "trigger.planning_ms": dur("queryPlanning"),
        "trigger.exec_ms": dur("triggerExecution"),
        "trigger.add_batch_ms": dur("addBatch"),
        "trigger.count": float(len(progress)),
        "trigger.nodata_ms": float(sum(p["durationMs"].get("triggerExecution", 0) for p in nodata)),
        "checkpoint.wal_commit_ms": dur("walCommit"),
        "checkpoint.commit_offsets_ms": dur("commitOffsets"),
        "state.commit_ms": median(state_sum(p, "commitTimeMs") for p in data),
        "state.update_ms": median(state_sum(p, "allUpdatesTimeMs") for p in data),
        "state.removal_ms": median(state_sum(p, "allRemovalsTimeMs") for p in progress),
        "state.rows_total": state_sum(progress[-1], "numRowsTotal") if progress else 0.0,
        "state.memory_bytes": max((state_sum(p, "memoryUsedBytes") for p in progress), default=0.0),
        "state.rows_dropped_by_watermark": float(
            sum(state_sum(p, "numRowsDroppedByWatermark") for p in progress)
        ),
    }


#: Spark's SQL metrics for bytes crossing the Python worker boundary
PYTHON_BYTES_METRICS = {"data sent to Python workers", "data returned from Python workers"}


def parse_event_log(path: Path) -> dict[str, dict[str, float]]:
    """Task counts, shuffle and spill bytes, failed tasks and bytes sent
    to Python workers from Spark's JSON event log, per job group
    (``""`` for jobs without one) and in total (key ``"*"``)."""
    out: dict[str, dict[str, float]] = {}
    stage_group: dict[int, str] = {}

    def bucket(group):
        return out.setdefault(
            group,
            {
                "exec.tasks": 0.0,
                "exec.shuffle_read_bytes": 0.0,
                "exec.shuffle_write_bytes": 0.0,
                "exec.spill_bytes": 0.0,
                "exec.failed_tasks": 0.0,
                "exec.python_bytes": 0.0,
            },
        )

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                py = sum(
                    float(a.get("Update") or 0)
                    for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                    if a.get("Name") in PYTHON_BYTES_METRICS
                )
                # a task killed because the benchmark stopped its query
                # has not failed
                failed = (ev.get("Task End Reason") or {}).get("Reason") not in ("Success", "TaskKilled")
                for group in {stage_group.get(ev.get("Stage ID"), ""), "*"}:
                    b = bucket(group)
                    b["exec.tasks"] += 1
                    b["exec.failed_tasks"] += failed
                    b["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    b["exec.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    b["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    b["exec.python_bytes"] += py
    bucket("*")
    return out


# -- canonical result hash -----------------------------------------------


def canonical_hash(pdf) -> str:
    """Order-insensitive hash of a result: SHA-256 of the CSV text of the
    repo's correctness normalization (``tools/check_correctness.py``:
    columns and rows sorted, integers as int64, timestamps and objects
    as strings). Results hash equal exactly when they hold the same
    values with the same integer/float typing."""
    from tools.check_correctness import normalize

    return hashlib.sha256(normalize(pdf).to_csv(index=False).encode()).hexdigest()
