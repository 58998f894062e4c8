"""Tier benchmark: the dashboard read path and the nightly write path of
``spark_spotify``, end to end and layer by layer.

    python3 tierbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root.  It generates its input tables under
``.tierbench/`` (removed on exit), starts the program's own session
(``session.get_spark``) on ``local[2]`` with a pinned 2 GiB driver heap,
runs one cold pass and a fixed number of warm passes of the workload
(``workloads.py``), checks every request's output outside the timed
region, and prints one JSON object as the last line of stdout.  The line
before it is a ``{"detail": ...}`` object with the per-type medians, the
job-count ledger, the run's phase clock and the host interference
readings.

``--trace 0`` reports the end-to-end metrics with no instrument attached.
``--trace 1`` reports the per-layer metrics: it wraps public functions of
the program at import time, registers a streaming listener and writes an
uncompressed Spark event log, and attributes what they record to requests
by time window.  ``--corrupt-expectation NAME`` alters one expectation
(an oracle query name or a fingerprint key) to show that a wrong
expectation fails the run.

End-to-end metrics (``--trace 0``):

* ``setup_s``: median of three session set-ups (``spark.stop()``, then
  ``get_spark`` and one trivial query) on the running JVM; the process's
  first set-up, which also launches the JVM, is ``setup_first_s`` in the
  detail line;
* ``cold_s``: the first pass of the process;
* ``warm_s``: median over the timed passes of a pass's request time;
* ``request_p50_s``: geometric mean over request types of each type's
  median request time in the timed passes;
* ``spark_jobs``: Spark jobs per warm pass, from the scheduler's job
  counter, summed over the request types whose count repeats exactly;
* ``success_rate``: share of attempted requests whose output check passed;
* ``peak_rss_mb``: peak resident set of this process plus the JVM's.

No tail percentile is reported: a run has one or two timed samples per
request type, so no percentile has ten samples beyond it.

The work per run is fixed (pass counts, not a time budget), so both sides
of a comparison do identical work; ``--seconds`` is recorded only.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 2
DRIVER_MEM = "2g"
SETUP_SAMPLES = 3


def _pin_environment(work: str, trace: bool) -> None:
    """Every scratch location inside ``work``; pinned cores and heap.
    Must run before pyspark is imported."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "jvmtmp", "local", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={dirs['jvmtmp']} -XX:-UsePerfData"
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"
    )


class Context:
    """What a request needs: the session, the program's modules, the
    generated inputs and the expectations."""

    def __init__(self, work, data_dir, spark, oracle, fingerprints):
        import numpy as np
        import pyarrow.parquet as pq

        from spark_spotify import api
        from spark_spotify.etl import pipeline
        from spark_spotify.registry import QUERIES
        from spark_spotify.sources.tables import load_table

        self.work, self.data_dir, self.spark = work, data_dir, spark
        self.api, self.etl_pipeline, self.queries = api, pipeline, QUERIES
        self.oracle, self.fingerprints = oracle, fingerprints
        self.corrupted: dict = {}
        self.events = load_table(spark, data_dir, "events")
        ts = pq.read_table(os.path.join(data_dir, "events.parquet"))["ts"]
        self._ts = np.sort(ts.to_numpy().astype("datetime64[us]"))
        self.events_span = (
            self._ts[0].astype(object), self._ts[-1].astype(object)
        )
        self.pass_warehouse = None

    def events_upto(self, cut) -> int:
        import numpy as np

        return int(
            np.searchsorted(self._ts, np.datetime64(cut, "us"), side="right")
        )

    def expected(self, kind: str, key: str):
        if key in self.corrupted:
            return self.corrupted[key]
        if kind == "oracle":
            return self.oracle.expect(key)
        if key not in self.fingerprints:
            raise KeyError(f"no recorded fingerprint for {key}")
        return self.fingerprints[key]

    def mismatch(self, kind: str, key: str, pdf) -> str | None:
        from checks import Canon

        reason = Canon(pdf).mismatch(self.expected(kind, key))
        return None if reason is None else f"{key}: {reason}"


def _isolate(spark) -> None:
    """bench.py's isolation between requests: unpersist, drop temp views,
    Python GC (releases py4j handles) and then JVM GC."""
    spark.catalog.clearCache()
    for tbl in spark.catalog.listTables():
        if tbl.isTemporary:
            spark.catalog.dropTempView(tbl.name)
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def run(args) -> dict:
    work = os.path.join(ROOT, ".tierbench", f"run-{os.getpid()}")
    _pin_environment(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import numpy as np

    import checks
    import datagen
    import host
    import instruments
    from workloads import WORKLOADS

    start = time.perf_counter()
    marks: dict[str, float] = {}

    def mark(label: str) -> None:
        marks[label] = round(time.perf_counter() - start, 2)

    host0 = host.snapshot()
    data_dir = os.path.join(work, "data")
    datagen.generate(data_dir)

    probes = None
    if args.trace:
        probes = instruments.Probes()
        probes.install()  # before the program's modules import them

    from pyspark import SparkContext

    from spark_spotify.registry import ORACLE
    from spark_spotify.session import get_spark
    from spark_spotify.sources.tables import TABLES

    t0 = time.perf_counter()
    spark = get_spark("tierbench")
    spark.range(1).count()
    setup_first = time.perf_counter() - t0
    setup = []
    for _ in range(SETUP_SAMPLES):
        spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("tierbench")
        spark.range(1).count()
        setup.append(time.perf_counter() - t0)
    jvm = SparkContext._gateway.proc
    listener = instruments.stream_probe(spark) if args.trace else None
    mark("setup")
    calib_pre = host.calibrate(spark)

    oracle = checks.Oracle(data_dir, TABLES, ORACLE)
    ctx = Context(work, data_dir, spark, oracle, checks.load_fingerprints())
    mark("expectations")
    failures: list[str] = []
    if args.corrupt_expectation:
        key = args.corrupt_expectation
        kind = "fingerprint" if key in ctx.fingerprints else "oracle"
        ctx.corrupted[key] = checks.corrupt(ctx.expected(kind, key))

    spec = WORKLOADS[args.workload]
    rng = np.random.default_rng(args.seed)
    # traced run: one traced and one untraced timed pass (trace.overhead_s)
    n_timed = 2 if args.trace else spec["timed"]
    n_passes = 1 + spec["warmup"] + n_timed
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    tmp_dir = tempfile.gettempdir()
    scratch_after_cold = None
    records = []
    for p in range(n_passes):
        phase = "cold" if p == 0 else "warmup" if p <= spec["warmup"] else "timed"
        traced = bool(args.trace) and p in (0, 1 + spec["warmup"])
        if probes is not None:
            probes.enabled = traced
        reqs = spec["build"](ctx, rng, p)
        for i, req in enumerate(reqs):
            if probes is not None:
                probes.take()
            jobs0 = dag.numTotalJobs()
            w0 = time.time()
            t0 = time.perf_counter()
            try:
                out, err = req.run(), None
            except Exception as e:  # a failed request is counted, not fatal
                out, err = None, f"{type(e).__name__}: {e}"
            secs = time.perf_counter() - t0
            w1 = time.time()
            rec = {
                "rtype": req.rtype, "label": req.label, "pass": p,
                "phase": phase, "traced": traced, "s": secs,
                "jobs": dag.numTotalJobs() - jobs0, "w0": w0 * 1000.0,
                "w1": w1 * 1000.0, "parts": dict(req.parts),
            }
            if probes is not None:
                rec["probes"] = probes.take()
            # --- outside the timed region ---
            if err is None:
                try:
                    err = req.check(out)
                except Exception as e:
                    err = f"check raised {type(e).__name__}: {e}"
            if spark.streams.active:
                for q in spark.streams.active:
                    q.stop()
                err = err or "a streaming query outlived its request"
            del out
            # untimed warm-up requests are isolated only from the pass after
            if phase != "warmup" or i == len(reqs) - 1:
                _isolate(spark)
            if scratch_after_cold is not None:
                new = set(os.listdir(tmp_dir)) - scratch_after_cold
                if new:  # charged to the request that left it, once
                    scratch_after_cold |= new
                    err = err or f"scratch appeared after the cold pass: {sorted(new)}"
            rec["ok"] = err is None
            if err is not None:
                failures.append(f"pass {p} {req.label}: {err}")
            records.append(rec)
        if ctx.pass_warehouse is not None:
            records[-1]["warehouse"] = _dir_stats(ctx.pass_warehouse)
            shutil.rmtree(ctx.pass_warehouse, ignore_errors=True)
            ctx.pass_warehouse = None
        if p == 0:
            scratch_after_cold = set(os.listdir(tmp_dir))
        mark(f"pass{p}")

    calib_post = host.calibrate(spark)
    if listener is not None:
        time.sleep(1.0)  # let the listener bus deliver the last progress
    rss = host.peak_rss_mb(os.getpid(), jvm.pid)
    host1 = host.snapshot()
    oracle.close()
    _stop_spark()
    mark("shutdown")

    events = instruments.read_event_log(os.path.join(work, "eventlog")) if args.trace else None
    return _report(
        args, spec, records, failures, setup, setup_first, rss,
        {"pre": host0, "post": host1, "calib_pre": calib_pre,
         "calib_post": calib_post, "marks": marks},
        listener, events, os.path.getsize(os.path.join(data_dir, "events.parquet")),
    )


def _stop_spark() -> None:
    """Stop the session (flushing the event log), then the JVM, and wait
    for the JVM to exit.  Safe to call when nothing was started."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _dir_stats(path: str) -> dict:
    files = bytes_ = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            bytes_ += os.path.getsize(os.path.join(dirpath, n))
    return {"files": files, "bytes": bytes_}


def _report(args, spec, records, failures, setup, setup_first, rss, hostinfo,
            listener, events, source_bytes) -> dict:
    timed = [r for r in records if r["phase"] == "timed"]
    if args.trace:
        timed = [r for r in timed if not r["traced"]]
    passes = sorted({r["pass"] for r in timed})
    pass_s = [sum(r["s"] for r in timed if r["pass"] == p) for p in passes]
    by_type: dict[str, list[float]] = {}
    for r in timed:
        by_type.setdefault(r["rtype"], []).append(r["s"])
    p50 = _geomean([statistics.median(v) for v in by_type.values()])

    ledger: dict[str, dict] = {}
    for r in records:
        e = ledger.setdefault(r["rtype"], {"cold": None, "warm": []})
        if r["phase"] == "cold":
            e["cold"] = r["jobs"]
        else:
            e["warm"].append(r["jobs"])
    for e in ledger.values():
        e["exact"] = len(set(e["warm"])) == 1
    spark_jobs = sum(e["warm"][0] for e in ledger.values() if e["exact"])
    attempted = len(records)
    ok = sum(r["ok"] for r in records)
    cold = [r for r in records if r["phase"] == "cold"]

    metrics_e2e = {
        "setup_s": (statistics.median(setup), "s"),
        "cold_s": (sum(r["s"] for r in cold), "s"),
        "warm_s": (statistics.median(pass_s), "s"),
        "request_p50_s": (p50, "s"),
        "spark_jobs": (spark_jobs, "count"),
        "success_rate": (ok / attempted, "ratio"),
        "peak_rss_mb": (rss, "MiB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": CORES, "driver_heap": DRIVER_MEM,
        "passes": {"cold": 1, "warmup": spec["warmup"], "timed": len(passes)},
        "warm_pass_s": [round(x, 4) for x in pass_s],
        "type_median_s": {k: round(statistics.median(v), 4) for k, v in by_type.items()},
        "cold_type_s": {r["rtype"]: round(r["s"], 4) for r in cold},
        "timed_samples_per_type": {k: len(v) for k, v in by_type.items()},
        "setup_samples_s": [round(x, 4) for x in setup],
        "setup_first_s": round(setup_first, 4),
        "job_ledger": ledger,
        "jobs_inexact_types": sorted(k for k, e in ledger.items() if not e["exact"]),
        "interference": {
            "steal_s": round(hostinfo["post"]["steal_s"] - hostinfo["pre"]["steal_s"], 2),
            "loadavg_pre": hostinfo["pre"]["loadavg"],
            "loadavg_post": hostinfo["post"]["loadavg"],
            "calibration_pre_s": round(hostinfo["calib_pre"], 4),
            "calibration_post_s": round(hostinfo["calib_post"], 4),
        },
        "elapsed_s": hostinfo["marks"],
        "failures": failures[:20],
    }
    if args.trace:
        import layers

        metrics, per_type = layers.per_layer(
            records, listener, events, setup_first, hostinfo, source_bytes
        )
        detail["per_type"] = per_type
    else:
        metrics = metrics_e2e
    print(json.dumps({"detail": detail}, separators=(",", ":")), flush=True)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expectation", default=None)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "spark_spotify")):
        print("tierbench: spark_spotify not found next to tierbench/", file=sys.stderr)
        return 2
    try:
        result = run(args)
    finally:
        _stop_spark()
        shutil.rmtree(os.path.join(ROOT, ".tierbench", f"run-{os.getpid()}"),
                      ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")), flush=True)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
