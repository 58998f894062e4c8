"""The benchmark's workloads, as passes of requests.

Both workloads are closed loops: one client thread sends the next request
when the previous one has returned, with no think time.  A pass is a fixed
list of request types in a seeded order with seeded parameters, so every
pass of every run does the same kinds of work and the same amount of it.

``dashboard``  One page view of the reference's Streamlit app per request:
               every ``spark_spotify.api`` load function of the page, each
               collected with ``toPandas()``.  Each of the four pages once
               per pass; the page's day slider is a seeded choice of 7, 30
               or 90 days.
``nightly``    The write side.  Two ``run_incremental_etl`` batches into a
               fresh warehouse (seeded first cut, the second batch
               re-delivers the whole source), then ``compact_table`` on
               ``fact`` and a read of ``fact`` and ``agg_daily_stats``;
               then a streaming registry drill, materialised with a
               ``noop`` write like ``bench.py``.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable

# The app's four pages and the load functions each page view calls:
# (function, windowed, oracle name when the function has one).  The 30-day
# track treemap is the registered ana_treemap_norm query.
PAGES = {
    "main": [
        ("heatmap_load_data", True, None),
        ("hour_ratio_load_data", False, "ana_period_ratio"),
        ("radar_load_data", False, "ana_behavior_radar"),
        ("v_today_listening", False, "ana_today_listening"),
    ],
    "track": [
        ("track_sankey_load_data", False, "ana_sankey"),
        ("treemap_track_load_data", True, "ana_treemap_norm"),
    ],
    "artist": [
        ("basic_loyal_load_data", False, "ana_loyalty"),
        ("band_bar_load_data", True, None),
        ("gender_bar_load_data", True, None),
        ("gender_bar_by_date", False, "ana_nullable_dim_profile"),
    ],
    "album": [
        ("treemap_album_load_data", True, None),
        ("get_recent_listening_stats", True, None),
    ],
}
WINDOWS = (7, 30, 90)

# Registry drills of the nightly pass: a streaming dead-letter split whose
# foreachBatch sink writes its two outputs through overlap().  The heavier
# index-maintenance drills (dedup_index_delete: 11 s cold, 7 s warm) and
# the drills over the memoised two-batch warehouse (etl_compact: 11 s
# cold) do not fit a run of about a minute.
DRILLS = ["stream_dlq"]


@dataclass
class Request:
    rtype: str
    label: str
    run: Callable[[], Any]
    check: Callable[[Any], "str | None"]
    parts: dict = field(default_factory=dict)


def fingerprint_key(fn: str, window: int) -> str:
    return f"{fn}:{window}"


def expectation(fn: str, window: int | None, oracle: str | None):
    """('oracle', name) or ('fingerprint', key) for one load function."""
    if oracle is not None and (window is None or window == 30):
        return ("oracle", oracle)
    return ("fingerprint", fingerprint_key(fn, window))


def dashboard_pass(ctx, rng, pass_no: int) -> list[Request]:
    names = sorted(PAGES)
    return [
        _page_request(ctx, names[i], int(rng.choice(WINDOWS)))
        for i in rng.permutation(len(names))
    ]


def _page_request(ctx, page: str, window: int) -> Request:
    """One view of ``page`` with the day slider at ``window``: every load
    function of the page, each collected with ``toPandas()``."""
    req = Request(page, f"{page}({window})", None, None)
    calls = []
    for fn, windowed, oracle in PAGES[page]:
        w = window if windowed else None
        calls.append(
            (getattr(ctx.api, fn), () if w is None else (w,), expectation(fn, w, oracle))
        )

    def run():
        parts = dict.fromkeys(("api.plan_s", "api.collect_s", "api.collect_rows"), 0)
        out = []
        for fn, args, _ in calls:
            t0 = time.perf_counter()
            df = fn(*args, ctx.spark, ctx.data_dir)
            t1 = time.perf_counter()
            pdf = df.toPandas()
            parts["api.plan_s"] += t1 - t0
            parts["api.collect_s"] += time.perf_counter() - t1
            parts["api.collect_rows"] += len(pdf)
            out.append(pdf)
        req.parts.update(parts)
        return out

    def check(out):
        for (_, _, (kind, key)), pdf in zip(calls, out):
            reason = ctx.mismatch(kind, key, pdf)
            if reason is not None:
                return reason
        return None

    req.run, req.check = run, check
    return req


def nightly_pass(ctx, rng, pass_no: int) -> list[Request]:
    from pyspark.sql import functions as F

    pipeline = ctx.etl_pipeline
    wh = os.path.join(ctx.work, "wh", f"pass{pass_no}")
    ctx.pass_warehouse = wh
    lo, hi = ctx.events_span
    frac = float(rng.uniform(0.3, 0.7))
    cut1 = lo + dt.timedelta(
        microseconds=int((hi - lo) / dt.timedelta(microseconds=1) * frac)
    )
    cuts = [cut1, hi]
    reqs = []
    prev = None
    for b, cut in enumerate(cuts, start=1):
        delivered = ctx.events_upto(cut)
        expected_new = delivered - (ctx.events_upto(prev) if prev else 0)
        req = Request(f"etl.batch{b}", f"run_incremental_etl(batch {b})", None, None)

        def run(cut=cut, b=b, req=req):
            src = ctx.events.filter(F.col("ts") <= F.lit(cut))
            res = pipeline.run_incremental_etl(ctx.spark, src, wh, b)
            req.parts["etl.delivered_rows"] = ctx.events_upto(cut)
            req.parts["etl.novel_rows"] = res["n_new"]
            return res

        def check(res, b=b, expected_new=expected_new):
            if res["skipped"] or res["n_new"] != expected_new:
                return f"batch {b}: {res} != {expected_new} new rows"
            if b == len(cuts):
                # end state before compaction
                fact = pipeline.read_table(ctx.spark, wh, "fact").toPandas()
                return ctx.mismatch("oracle", "etl_fact_star", fact)
            return None

        req.run, req.check = run, check
        reqs.append(req)
        prev = cut

    req = Request("etl.compact_read", "compact_table(fact)+read_table", None, None)

    def run_compact():
        pipeline.compact_table(ctx.spark, wh, "fact", f"p{pass_no}")
        fact = pipeline.read_table(ctx.spark, wh, "fact").toPandas()
        stats = pipeline.read_table(ctx.spark, wh, "agg_daily_stats").toPandas()
        return fact, stats

    def check_compact(out):
        fact, stats = out
        return ctx.mismatch("oracle", "etl_fact_star", fact) or ctx.mismatch(
            "oracle", "etl_daily_stats", stats
        )

    req.run, req.check = run_compact, check_compact
    reqs.append(req)
    for i in rng.permutation(len(DRILLS)):
        reqs.append(_drill_request(ctx, DRILLS[i]))
    return reqs


def _drill_request(ctx, name: str) -> Request:
    req = Request(name, name, None, None)

    def run():
        t0 = time.perf_counter()
        df = ctx.queries[name](ctx.spark, ctx.data_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        req.parts["registry.factory_s"] = t1 - t0
        req.parts["registry.materialize_s"] = time.perf_counter() - t1
        return df

    req.run = run
    req.check = lambda df: ctx.mismatch("oracle", name, df.toPandas())
    return req


WORKLOADS = {
    # passes: one cold pass, then `warmup` untimed warm passes while the
    # JIT settles, then `timed` passes.  The dashboard's first warm pass runs
    # up to 20% slow, so it is discarded.  The nightly pass is shorter and
    # has more short requests, so a burst of host load moves a single pass
    # by up to 40%; it times two passes instead (its first warm pass runs
    # 5-10% slow, the same in every run).
    "dashboard": {"build": dashboard_pass, "warmup": 1, "timed": 1},
    "nightly": {"build": nightly_pass, "warmup": 0, "timed": 2},
}
