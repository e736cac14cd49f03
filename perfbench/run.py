#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

One workload per call: set up several times (median → ``setup_s``), warm
up, measure for ``--seconds``, check the outputs, and print one JSON
detail line followed by the result line
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. ``--workload
all`` runs every workload ``BENCHMARK.json`` names, untraced and traced
in child processes, prints each one's named figures and the tracing
overhead, then probes the known defects.

Must run from a checkout that holds ``pyspark_streaming_base_spark``;
everything it writes stays under ``.perfbench_work/`` (removed at exit)
and ``.perfbench_out/`` (one record per run) in that checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
PACKAGE = "pyspark_streaming_base_spark"

from perfbench.workloads import HEADLINE  # noqa: E402

#: Median of this many set-ups is ``setup_s``.
SETUP_CYCLES = 3

END_TO_END = (
    ("setup_s", "s"),
    ("latency_ms_p50", "ms"),
    ("throughput_per_s", "1/s"),
)

PER_LAYER = (
    ("session.local_s", "s"),
    ("session.warmup_s", "s"),
    ("app.run_ms", "ms"),
    ("queries.build_ms", "ms"),
    ("queries.py4j_calls", "count"),
    *((f"queries.wall_s.{q}", "s") for q in HEADLINE),
    ("catalyst.analysis_ms", "ms"),
    ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("sched.jobs", "count"),
    ("sched.stages", "count"),
    ("sched.tasks", "count"),
    ("exec.run_ms", "ms"),
    ("exec.task_cpu_ms", "ms"),
    ("exec.gc_ms", "ms"),
    ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"),
    ("io.bytes_read", "bytes"),
    ("io.files_read", "count"),
    ("sources.latest_offset_ms", "ms"),
    ("sources.get_batch_ms", "ms"),
    ("sources.rows_per_batch", "count"),
    ("sources.backlog_files_max", "count"),
    ("sources.gen_late_ms_max", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.state_rows", "count"),
    ("streaming.state_memory_bytes", "bytes"),
    ("streaming.batches", "count"),
    ("sinks.foreach_batch_ms", "ms"),
    ("sinks.files_per_batch", "count"),
    ("sinks.bytes_written", "bytes"),
    ("sinks.manifests", "count"),
    ("operators.probe_build_ms", "ms"),
    ("operators.probe_exec_ms", "ms"),
    ("operators.probe_py4j_calls", "count"),
    ("operators.probe_jobs", "count"),
    ("operators.append_ms", "ms"),
    ("operators.delete_ms", "ms"),
    ("operators.compact_ms", "ms"),
    ("operators.tombstone_ratio", "ratio"),
    ("operators.live_files", "count"),
    ("traced.latency_ms_p50", "ms"),
    ("traced.throughput_per_s", "1/s"),
)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment() -> None:
    """Import the package from this checkout, in this process and in the
    Python workers Spark starts (they inherit ``PYTHONPATH``)."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise SystemExit(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    pkg = importlib.import_module(PACKAGE)
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        raise SystemExit(f"perfbench: {PACKAGE} imported from {pkg.__file__}, not {ROOT}")


def run_one(args) -> int:
    from perfbench import trace as tr
    from perfbench import workloads as wl

    if args.workload not in wl.WORKLOADS:
        raise SystemExit(
            f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)} or all"
        )
    ctx = wl.Context(ROOT, args.workload, args.seed, bool(args.trace))
    work = wl.WORKLOADS[args.workload](ctx)
    try:
        setup_s = []
        for cycle in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            if cycle == 0:
                ctx.new_session()
            work.prepare(cycle)
            setup_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        with ctx.tracer.span("session.warmup"):
            work.warm_up()
        warmup_s = time.perf_counter() - t0

        host = tr.HostSampler()
        window = (tr.now_ms(), None)
        m = work.measure(args.seconds)
        window = (window[0], tr.now_ms())
        host = host.finish()

        checks = work.check()
        defects = work.known_defects()
        record = {
            "workload": args.workload,
            "trace": args.trace,
            "provenance": tr.provenance(ROOT, args.seed, ctx.spark),
            "host": host,
            "setup_cycles_s": setup_s,
            "measured_s": m.wall_s,
            "samples": len(m.latencies_ms),
            "detail": work.detail(m),
            "checks": [c.__dict__ for c in checks],
            "known_defects": defects,
        }
        latency = wl.median(m.latencies_ms)
        throughput = m.units / m.wall_s if m.wall_s > 0 else 0.0
        if args.trace:
            ctx.stop()  # completes the event log
            events = tr.read_event_log(ctx.path("eventlog"))
            layers = dict.fromkeys((k for k, _ in PER_LAYER), 0.0)
            layers.update(work.layers(events, m, window))
            layers["session.local_s"] = ctx.session_s
            layers["session.warmup_s"] = warmup_s
            layers["traced.latency_ms_p50"] = latency
            layers["traced.throughput_per_s"] = throughput
            metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER}
            record["self_ms"] = ctx.tracer.self_ms()
        else:
            values = {
                "setup_s": wl.median(setup_s),
                "latency_ms_p50": latency,
                "throughput_per_s": throughput,
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}

        failed_checks = sum(c.ops for c in checks if not c.ok)
        attempted = max(1, m.attempted)
        failed = min(attempted, m.failed + failed_checks)
        result = {
            "correct": failed == 0 and all(c.ok for c in checks),
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        record["result"] = result
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1, default=str)
        if args.trace:
            ctx.tracer.dump(stem + ".spans.json")
        print(json.dumps({k: v for k, v in record.items() if k != "result"}, default=str))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        wl.cleanup(ctx)


def kept_workloads() -> list:
    """The workloads ``BENCHMARK.json`` names, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


def probe_known_defects(seed: int) -> dict:
    """The known-defect probes alone, in this process (stream_drain's
    availableNow probe; a full ``--workload stream_drain`` run records
    the same)."""
    from perfbench import workloads as wl

    ctx = wl.Context(ROOT, "known_defects", seed, trace=False)
    try:
        ctx.new_session()
        return wl.StreamDrain(ctx).known_defects()
    finally:
        wl.cleanup(ctx)


def run_all(args) -> int:
    """Every kept workload, untraced then traced, each in its own process,
    then the known-defect probes."""
    ok = True
    for name in kept_workloads():
        lines = {}
        for t in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(t)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            out = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(out) < 2:
                print(f"{name} trace={t}: failed (exit {proc.returncode})\n{proc.stderr[-2000:]}")
                ok = False
                break
            lines[t] = (json.loads(out[-2]), json.loads(out[-1]))
        if len(lines) < 2:
            continue
        (rec0, res0), (_, res1) = lines[0], lines[1]
        ok = ok and res0["correct"] and res1["correct"]
        print(f"== {name}: correct={res0['correct']} "
              f"attempted={res0['attempted']} failed={res0['failed']}")
        for k, v in res0["metrics"].items():
            print(f"   {k:<22} {v['value']:.4f} {v['unit']}")
        for k, v in rec0["detail"].items():
            print(f"   {k:<22} {v}")
        lat0 = res0["metrics"]["latency_ms_p50"]["value"]
        lat1 = res1["metrics"]["traced.latency_ms_p50"]["value"]
        print(f"   tracing overhead on latency_ms_p50: {100.0 * (lat1 - lat0) / lat0:+.1f}%")
    print("== known defects")
    for k, v in probe_known_defects(args.seed).items():
        print(f"   {k}: {v}")
    return 0 if ok else 1


def main(argv=None) -> int:
    args = parse(argv)
    prepare_environment()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
