"""Per-layer metrics of a traced run, from the requests of its first timed
pass (``traced`` and ``phase == "timed"``) and its cold pass.

Each number is the sum over the pass's requests; the detail line also
carries the Spark-engine numbers per request type.  Layers a workload does
not use read 0.  Where a layer cannot be wrapped from outside, its number
comes from the event-log window of the requests: that is the case for the
whole Spark engine (jobs, stages, tasks and task metrics).

Which end-to-end metric each layer should move, and where it works hard
(heavy) or barely (light), recorded before any optimisation is measured:

    layer                     metrics            moves             heavy / light
    session                   session.*          setup_s           both
    api                       api.*              request_p50_s,    dashboard / nightly 0
                                                 warm_s
    registry drills           registry.*         warm_s            nightly / dashboard 0
    fixture builds            fixtures.build_s   cold_s            both (cold minus warm)
    etl.pipeline              etl.*              request_p50_s,    nightly / dashboard 0
                                                 warm_s
    functions.checkpoint,     checkpoint.*,      warm_s            nightly / dashboard 0
    functions.concurrency     overlap.*
    streaming.pipeline        streaming.*        warm_s            nightly / dashboard 0
    Spark engine              spark.*            spark_jobs;       jobs: both;
                                                 ~0.1 s per job    driver gap: dashboard
    tracing, host             trace.*, host.*    diagnostics only  both

Cutting the job floor (fewer Spark jobs per request) should lower
spark_jobs and warm_s on both workloads; a table-format refactor must
leave every end-to-end metric of both unmoved; a fixture registry should
move cold_s only.
"""

from __future__ import annotations

from instruments import union_ms

# name -> unit, in the order BENCHMARK.json lists them
UNITS = {
    "session.start_s": "s",
    "api.plan_s": "s",
    "api.collect_s": "s",
    "api.collect_rows": "count",
    "registry.factory_s": "s",
    "registry.materialize_s": "s",
    "fixtures.build_s": "s",
    "etl.batch_s": "s",
    "etl.read_table_calls": "count",
    "etl.read_table_s": "s",
    "etl.compact_s": "s",
    "etl.files_written": "count",
    "etl.bytes_written_per_input_byte": "ratio",
    "etl.novel_rows_per_delivered_row": "ratio",
    "checkpoint.calls": "count",
    "checkpoint.s": "s",
    "overlap.calls": "count",
    "overlap.s": "s",
    "streaming.triggers": "count",
    "streaming.empty_triggers": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.unlabelled_job_share": "ratio",
    "trace.overhead_s": "s",
    "host.steal_s": "s",
    "host.calibration_s": "s",
}

_PROBES = {
    "checkpoint": ("checkpoint.calls", "checkpoint.s"),
    "overlap": ("overlap.calls", "overlap.s"),
    "etl.read_table": ("etl.read_table_calls", "etl.read_table_s"),
    "etl.batch": (None, "etl.batch_s"),
    "etl.compact": (None, "etl.compact_s"),
}
_PARTS = ("api.plan_s", "api.collect_s", "api.collect_rows",
          "registry.factory_s", "registry.materialize_s")
_STREAM = {
    "addBatch": "streaming.add_batch_s",
    "queryPlanning": "streaming.query_planning_s",
    "walCommit": "streaming.wal_commit_s",
    "commitOffsets": "streaming.commit_offsets_s",
}


def _inside(t: float, rec: dict) -> bool:
    return rec["w0"] <= t <= rec["w1"]


def _spark(recs: list[dict], events: dict) -> dict:
    jobs = [j for j in events["jobs"] if any(_inside(j["t0"], r) for r in recs)]
    tasks = [t for t in events["tasks"] if any(_inside(t["t0"], r) for r in recs)]
    busy = union_ms([(j["t0"], j["t1"]) for j in jobs]) / 1000.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(
            any(_inside(s, r) for r in recs) for s in events["stages"]
        ),
        "spark.tasks": len(tasks),
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": sum(r["s"] for r in recs) - busy,
        "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
        "spark.executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.jvm_gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.shuffle_read_bytes": sum(t["sr"] for t in tasks),
        "spark.shuffle_write_bytes": sum(t["sw"] for t in tasks),
        "spark.input_bytes": sum(t["inb"] for t in tasks),
        "spark.output_bytes": sum(t["outb"] for t in tasks),
        "spark.unlabelled_job_share": (
            sum(not j["labelled"] for j in jobs) / len(jobs) if jobs else 0.0
        ),
    }


def per_layer(records, listener, events, setup_first, hostinfo, source_bytes):
    traced = [r for r in records if r["traced"] and r["phase"] == "timed"]
    untraced = [r for r in records if not r["traced"] and r["phase"] == "timed"]
    cold = {r["rtype"]: r["s"] for r in records if r["phase"] == "cold"}
    m = {k: 0.0 for k in UNITS}
    m["session.start_s"] = setup_first
    for r in traced:
        for k in _PARTS:
            m[k] += r["parts"].get(k, 0.0)
        calls, secs = r["probes"]
        for probe, (ck, sk) in _PROBES.items():
            if ck:
                m[ck] += calls.get(probe, 0)
            m[sk] += secs.get(probe, 0.0)
        if "warehouse" in r:
            m["etl.files_written"] += r["warehouse"]["files"]
            m["etl.bytes_written_per_input_byte"] += (
                r["warehouse"]["bytes"] / source_bytes
            )
    delivered = sum(r["parts"].get("etl.delivered_rows", 0) for r in traced)
    if delivered:
        m["etl.novel_rows_per_delivered_row"] = (
            sum(r["parts"].get("etl.novel_rows", 0) for r in traced) / delivered
        )
    m["fixtures.build_s"] = sum(cold[r["rtype"]] - r["s"] for r in traced)
    for start, rows, dur in listener.progress:
        if any(_inside(start, r) for r in traced):
            m["streaming.triggers"] += 1
            m["streaming.empty_triggers"] += rows == 0
            m["streaming.input_rows"] += rows
            for phase, key in _STREAM.items():
                m[key] += dur.get(phase, 0) / 1e3
    m.update(_spark(traced, events))
    m["trace.overhead_s"] = sum(r["s"] for r in traced) - sum(
        r["s"] for r in untraced
    )
    m["host.steal_s"] = hostinfo["post"]["steal_s"] - hostinfo["pre"]["steal_s"]
    m["host.calibration_s"] = hostinfo["calib_pre"]
    per_type = {
        r["rtype"]: {
            k.split(".", 1)[1]: round(v, 4)
            for k, v in _spark([r], events).items()
        }
        for r in traced
    }
    return {k: (m[k], UNITS[k]) for k in UNITS}, per_type
