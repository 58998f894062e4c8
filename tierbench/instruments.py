"""Traced-run instruments, all attached from outside the program.

* ``Probes`` wraps public functions of the program's modules at import
  time and counts calls and seconds per wrapped function.  Wrappers are
  installed only in the traced run and can be switched off between passes.
* ``StreamProbe`` is a ``StreamingQueryListener`` registered from the
  benchmark; it keeps every trigger's progress (input rows and the phase
  durations Spark reports).
* ``read_event_log`` parses Spark's uncompressed JSON event log after the
  session stops and returns its jobs, stages and tasks with wall-clock
  times, so that each can be attributed to the request whose time window
  contains it -- which also counts the unlabelled jobs submitted from
  ``overlap()`` pool threads and streaming threads.
"""

from __future__ import annotations

import datetime as dt
import functools
import glob
import importlib
import json
import threading
import time

# (module, attribute, probe name).  The functions.* entries must be wrapped
# before any other program module imports them by name.
WRAPPED = [
    ("spark_spotify.functions.checkpoint", "stable_checkpoint", "checkpoint"),
    ("spark_spotify.functions.concurrency", "overlap", "overlap"),
    ("spark_spotify.etl.pipeline", "run_incremental_etl", "etl.batch"),
    ("spark_spotify.etl.pipeline", "read_table", "etl.read_table"),
    ("spark_spotify.etl.pipeline", "compact_table", "etl.compact"),
]


class Probes:
    def __init__(self):
        self.enabled = True
        self._lock = threading.Lock()
        self.calls: dict[str, int] = {}
        self.secs: dict[str, float] = {}

    def install(self) -> None:
        for mod_name, attr, probe in WRAPPED:
            mod = importlib.import_module(mod_name)
            setattr(mod, attr, self._wrap(getattr(mod, attr), probe))

    def _wrap(self, fn, probe: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt_s = time.perf_counter() - t0
                with self._lock:  # overlap() threads call these too
                    self.calls[probe] = self.calls.get(probe, 0) + 1
                    self.secs[probe] = self.secs.get(probe, 0.0) + dt_s

        return wrapper

    def take(self) -> tuple[dict[str, int], dict[str, float]]:
        """Counters since the last take, then reset."""
        with self._lock:
            out = (self.calls, self.secs)
            self.calls, self.secs = {}, {}
        return out


def stream_probe(spark):
    """Register and return a listener that keeps every trigger's progress
    as ``(trigger start epoch ms, input rows, durationMs dict)``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self):
            self.progress: list[tuple[float, int, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = dt.datetime.fromisoformat(
                p.timestamp.replace("Z", "+00:00")
            )
            self.progress.append(
                (start.timestamp() * 1000.0, p.numInputRows, dict(p.durationMs))
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    probe = StreamProbe()
    spark.streams.addListener(probe)
    return probe


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from every application log in ``log_dir``.

    jobs:   [{t0, t1, labelled}]  (epoch ms)
    stages: [t0]                  (submission, epoch ms)
    tasks:  [{t0, run_ms, cpu_ns, gc_ms, sr, sw, inb, outb}]
    """
    jobs: dict[tuple[str, int], dict] = {}
    stages: list[float] = []
    tasks: list[dict] = []
    # one file per application, or a directory of rolled files per one
    for path in sorted(glob.glob(f"{log_dir}/*")):
        for ev in _events(sorted(glob.glob(f"{path}/events_*")) or [path]):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                labelled = bool(
                    props.get("spark.job.description")
                    or props.get("spark.jobGroup.id")
                )
                jobs[(path, ev["Job ID"])] = {
                    "t0": ev["Submission Time"],
                    "t1": ev["Submission Time"],
                    "labelled": labelled,
                }
            elif kind == "SparkListenerJobEnd":
                job = jobs.get((path, ev["Job ID"]))
                if job is not None:
                    job["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                t0 = ev["Stage Info"].get("Submission Time")
                if t0 is not None:
                    stages.append(t0)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "t0": ev["Task Info"]["Launch Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "sr": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "sw": sw.get("Shuffle Bytes Written", 0),
                        "inb": (m.get("Input Metrics") or {}).get(
                            "Bytes Read", 0
                        ),
                        "outb": (m.get("Output Metrics") or {}).get(
                            "Bytes Written", 0
                        ),
                    }
                )
    return {"jobs": list(jobs.values()), "stages": stages, "tasks": tasks}


def _events(files: list[str]):
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[t0, t1]`` intervals."""
    total, end = 0.0, float("-inf")
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total
