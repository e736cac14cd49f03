#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not part of a benchmark run):

* a tiny-scale smoke of every workload's life cycle — set-up, warm-up,
  a one-second measurement and its output checks, all in one session;
* a pin that the event-log job count the traced run reports for one
  registry query equals Spark's own ``statusTracker`` count.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.run import prepare_environment  # noqa: E402


def tiny(wl):
    """The workloads at smoke scale: sf0.001 tables, a few thousand rows."""
    wl.BatchMix.SF = 0.001
    wl.StreamDrain.ROWS_PER_BATCH = 1_000
    wl.StreamDrain.BATCHES_PER_DRAIN = 2
    wl.StreamPaced.WARMUP_S = 0.5
    wl.StreamPaced.ROWS_PER_FILE = 20
    wl.IndexServe.SF = 0.001
    wl.IndexServe.WRITE_DOCS = 4


def smoke(wl, ctx) -> list:
    failures = []
    for name, cls in wl.WORKLOADS.items():
        t0 = time.perf_counter()
        work = cls(ctx)
        work.prepare(0)
        work.warm_up()
        m = work.measure(1.0)
        checks = work.check()
        defects = work.known_defects()
        bad = [c.name for c in checks if not c.ok]
        ok = m.attempted > 0 and m.failed == 0 and m.latencies_ms and checks and not bad
        print(f"{'ok  ' if ok else 'FAIL'} smoke {name}: {m.attempted} ops, "
              f"{len(checks)} checks {bad or ''} ({time.perf_counter() - t0:.1f}s)")
        for defect, rec in defects.items():
            print(f"     known defect {defect}: "
                  f"expected {rec['expected']}, observed {rec['observed']}")
        if not ok:
            failures.append(name)
    return failures


def job_count_pin(wl, tr, ctx) -> bool:
    """Event-log jobs inside a query's span == statusTracker jobs of its
    job group."""
    from pyspark_streaming_base_spark.queries import load_all

    spark = ctx.spark
    tables = ctx.path("tables-0")  # written by the batch_mix smoke
    spec = load_all()["q04_revenue_by_nation"]
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-pin", "job count pin")
    t0 = tr.now_ms()
    spec.fn(spark, tables).write.format("noop").mode("overwrite").save()
    t1 = tr.now_ms()
    tracked = len(sc.statusTracker().getJobIdsForGroup("perfbench-pin"))
    sc.setJobGroup("", "")
    ctx.stop()
    traced = tr.engine_layers(tr.read_event_log(ctx.path("eventlog")), [(t0, t1)])["sched.jobs"]
    ok = tracked > 0 and traced == tracked
    print(f"{'ok  ' if ok else 'FAIL'} job count pin: "
          f"event log {traced:g}, statusTracker {tracked}")
    return ok


def main() -> int:
    prepare_environment()
    from perfbench import trace as tr
    from perfbench import workloads as wl

    tiny(wl)
    ctx = wl.Context(ROOT, "selftest", 0, trace=True)
    try:
        ctx.new_session()
        failures = smoke(wl, ctx)
        if not job_count_pin(wl, tr, ctx):
            failures.append("job count pin")
    finally:
        wl.cleanup(ctx)
    print("all self-tests pass" if not failures else f"FAILED: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
