"""The benchmark's workloads, each driving the package's public API.

Every workload has the same life cycle, run by ``perfbench/run.py``:

* ``prepare(cycle)`` — write the seeded fixtures, build what the
  workload serves from, and run its first operation. Timed several
  times; the first time also starts the session (and the JVM), and the
  median is ``setup_s``.
* ``warm_up()`` — untimed operations until the JVM and Python workers
  are warm (reported as ``session.warmup_s``).
* ``measure(seconds)`` — operations until ``seconds`` have passed; only
  whole operations count.
* ``check()`` — output checks, outside every timed section.
* ``layers(events, m, window)`` — per-layer figures of a traced run.

Layers are timed from outside: spans sit around the benchmark's own
calls into ``session``, ``app``, ``sources``, ``streaming``, ``sinks``,
``queries``/``functions`` and ``operators``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import data
from perfbench.trace import Py4JCounter, Tracer, engine_layers, event_log_conf

#: Spark runs ``local[nproc]``; the load is sized for nproc = 4
NPROC = len(os.sched_getaffinity(0))

#: bench.py's HEADLINE registry queries (the names only; bench.py is not
#: imported, so its timing ladder stays out of this benchmark)
HEADLINE = (
    "q01_pricing_summary",
    "q04_revenue_by_nation",
    "q08_late_ship_priority",
    "q21_explode_terms",
    "q30_topk_per_group",
    "q31_running_total",
    "q41_minhash_lsh_pairs",
    "q60_knn_bruteforce",
    "q61_ann_lsh",
    "q70_tumbling_window",
    "q72_session_window",
    "q74_event_dedup",
)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def settled(times: List[float], k: int = 5, tol: float = 0.05) -> bool:
    """Whether the last ``k`` times no longer improve on the ``k`` before
    them by more than ``tol`` (the end of warm-up)."""
    if len(times) < 2 * k:
        return False
    return median(times[-k:]) >= (1.0 - tol) * median(times[-2 * k:-k])


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, max(0, math.ceil(q / 100.0 * len(xs)) - 1))])


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""
    #: operations whose output this check vouches for
    ops: int = 1


@dataclass
class Measured:
    latencies_ms: List[float] = field(default_factory=list)
    units: float = 0.0  # rows, queries or operations completed
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0


class Context:
    """One benchmark process: work directory, session, tracer, counters."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool) -> None:
        self.root = root
        self.seed = seed
        self.trace = trace
        self.work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.path("tmp"), exist_ok=True)
        # keep every temporary file of this process, the JVM and the Spark
        # launcher JVM inside the checkout (HotSpot's perf data would go
        # to /tmp/hsperfdata_<user>)
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.tracer = Tracer(enabled=trace)
        self.py4j = Py4JCounter()
        self.spark = None
        self.session_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def conf(self) -> Dict[str, str]:
        tmp = self.path("tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        }
        if self.trace:
            conf.update(event_log_conf(self.path("eventlog")))
        return conf

    def new_session(self):
        """Start the configured session through ``SessionFactory.local``."""
        from pyspark_streaming_base_spark.session import SessionFactory

        t0 = time.perf_counter()
        with self.tracer.span("session.local"):
            self.spark = SessionFactory.local(cores=NPROC, extra_conf=self.conf())
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.py4j.install(self.spark)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def catalyst_phases(df) -> Dict[str, float]:
    """Analysis/optimization/planning ms of ``df``'s own QueryExecution,
    forced once and read from Spark's phase tracker (traced runs only)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        p = phases.get(k)
        out[k] = float(p.get().endTimeMs() - p.get().startTimeMs()) if p.isDefined() else 0.0
    return out


class Workload:
    name = ""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.tracer = ctx.tracer

    @property
    def spark(self):
        return self.ctx.spark

    def prepare(self, cycle: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        pass

    def measure(self, seconds: float) -> Measured:
        raise NotImplementedError

    def check(self) -> List[Check]:
        return []

    def known_defects(self) -> Dict[str, dict]:
        """Defects the run reproduces on purpose, each with its expected
        and observed outcome."""
        return {}

    def detail(self, m: Measured) -> dict:
        """The workload's own end-to-end figures, by the names in
        perfbench/README.md."""
        return {}

    def layers(self, events: List[dict], m: Measured, window) -> Dict[str, float]:
        return {}


# ---------------------------------------------------------------------------
# batch_mix: the 12 HEADLINE registry queries, closed loop, one client
# ---------------------------------------------------------------------------


class BatchMix(Workload):
    """bench.py's 12 HEADLINE registry queries at sf0.01, each through the
    ``noop`` sink in a seeded order; one client, closed loop."""

    name = "batch_mix"
    SF = 0.01

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        from pyspark_streaming_base_spark.queries import load_all

        self.registry = load_all()
        self.order_rng = data.rng(ctx.seed, "batch_mix_order")
        self.results: Dict[str, list] = {}
        self.passes_s: List[float] = []
        self.per_query_ms: Dict[str, List[float]] = {q: [] for q in HEADLINE}
        self.phases: Dict[str, float] = Counter()
        self.build_calls = 0

    def prepare(self, cycle: int) -> None:
        self.tables = self.ctx.path(f"tables-{cycle}")
        with self.tracer.span("fixtures"):
            data.write_tables(data.registry_tables(self.ctx.seed, self.SF), self.tables)
        self._run("q01_pricing_summary")

    def _run(self, q: str, collect: bool = False):
        spec = self.registry[q]
        with self.tracer.span("queries.build"):
            before = self.ctx.py4j.calls
            df = spec.fn(self.spark, self.tables)
            self.build_calls += self.ctx.py4j.calls - before
        if self.ctx.trace:
            with self.tracer.span("catalyst"):
                for k, v in catalyst_phases(df).items():
                    self.phases[k] += v
        with self.tracer.span("exec.materialise"):
            if collect:
                return df.columns, [tuple(r) for r in df.collect()]
            df.write.format("noop").mode("overwrite").save()
        return None

    def warm_up(self) -> None:
        # the first pass pays codegen and class loading; its collected
        # rows are what check() compares with the DuckDB oracles. Pass
        # time keeps falling for about four more passes (6.6, 6.3, 5.5,
        # 5.1, 4.9 s); one more pass is what the run budget affords.
        for q in self.order_rng.permutation(HEADLINE):
            self.results[q] = self._run(q, collect=True)
            self.spark.catalog.clearCache()
        for q in self.order_rng.permutation(HEADLINE):
            self._run(q)
            self.spark.catalog.clearCache()

    def measure(self, seconds: float) -> Measured:
        m = Measured()
        self.phases.clear()
        self.build_calls = 0
        t_start = time.perf_counter()
        while True:
            t_pass = time.perf_counter()
            for q in self.order_rng.permutation(HEADLINE):
                m.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self.tracer.span("op", op=m.attempted):
                        self._run(q)
                except Exception:  # noqa: BLE001 — a failed query is counted, not fatal
                    m.failed += 1
                self.per_query_ms[q].append((time.perf_counter() - t0) * 1000.0)
                self.spark.catalog.clearCache()
            self.passes_s.append(time.perf_counter() - t_pass)
            # a pass is the unit the client waits for (``batch_mix_s``); the
            # median of 12 unlike queries would sit between two of them
            m.latencies_ms.append(self.passes_s[-1] * 1000.0)
            # whole passes, so every query weighs the same; end at the
            # pass boundary nearest to ``seconds``
            if time.perf_counter() - t_start + self.passes_s[-1] / 2 >= seconds:
                break
        m.wall_s = time.perf_counter() - t_start
        m.units = m.attempted - m.failed
        return m

    def check(self) -> List[Check]:
        import duckdb

        from pyspark_streaming_base_spark.queries._tables import TABLES

        con = duckdb.connect()
        for name in TABLES:
            con.sql(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.tables}/{name}.parquet')"
            )
        n_runs = len(self.passes_s)
        out = []
        for q in HEADLINE:
            cols, rows = self.results[q]
            spec = self.registry[q]
            if spec.oracle is None:
                out.append(Check(f"{q} rows", len(rows) > 0, f"{len(rows)} rows", n_runs))
                continue
            rel = con.sql(spec.oracle)
            dcols = [c.lower() for c in rel.columns]
            drows = rel.fetchall()
            scols = [c.lower() for c in cols]
            ok = sorted(scols) == sorted(dcols) and len(rows) == len(drows)
            ok = ok and _multiset(scols, rows) == _multiset(dcols, drows)
            out.append(Check(f"{q} oracle", ok, f"{len(rows)} vs {len(drows)} rows", n_runs))
        con.close()
        return out

    def detail(self, m: Measured) -> dict:
        return {"batch_mix_s": median(self.passes_s), "passes": len(self.passes_s)}

    def layers(self, events, m: Measured, window) -> Dict[str, float]:
        passes = max(1, len(self.passes_s))
        out = engine_layers(events, [window])
        out = {k: v / passes for k, v in out.items()}
        builds = [
            b - a for a, b in self.tracer.windows("queries.build") if window[0] <= a <= window[1]
        ]
        out["queries.build_ms"] = sum(builds) / passes
        out["queries.py4j_calls"] = self.build_calls / passes
        for k, v in self.phases.items():
            out[f"catalyst.{k}_ms"] = v / passes
        for q, xs in self.per_query_ms.items():
            out[f"queries.wall_s.{q}"] = median(xs) / 1000.0
        return out


def _norm_cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


def _multiset(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm_cell(r[i]) for i in order) for r in rows)


# ---------------------------------------------------------------------------
# streaming helpers
# ---------------------------------------------------------------------------


def _stream_classes():
    """StreamingSource/StreamingSink subclasses for the two jar-free Python
    DataSources (the package registers the formats, not config classes)."""
    from pyspark_streaming_base_spark.sinks.base import StreamingSink
    from pyspark_streaming_base_spark.sources.base import StreamingSource

    class SyntheticSource(StreamingSource):
        FORMAT = "synthetic_events"

    class ManifestSink(StreamingSink):
        FORMAT = "manifest_parquet"

    return SyntheticSource, ManifestSink


STREAM_DURATIONS = {
    "latestOffset": "sources.latest_offset_ms",
    "getBatch": "sources.get_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "addBatch": "streaming.add_batch_ms",
}


def progress_layers(progress: List[dict]) -> Dict[str, float]:
    """Per-batch medians of Spark's own progress ``durationMs`` phases and
    state figures, over batches that read data."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    out = {
        v: median(p["durationMs"].get(k, 0) for p in batches)
        for k, v in STREAM_DURATIONS.items()
    }
    out["sources.rows_per_batch"] = median(p["numInputRows"] for p in batches)
    out["streaming.state_rows"] = max((p["stateRows"] for p in progress), default=0)
    out["streaming.state_memory_bytes"] = max((p["stateBytes"] for p in progress), default=0)
    out["streaming.batches"] = len(batches)
    return out


def progress_rows(query) -> List[dict]:
    out = []
    for p in query.recentProgress:
        ops = p.stateOperators or []
        out.append(
            {
                "numInputRows": p.numInputRows,
                "durationMs": dict(p.durationMs or {}),
                "stateRows": sum(s.numRowsTotal or 0 for s in ops),
                "stateBytes": sum(s.memoryUsedBytes or 0 for s in ops),
            }
        )
    return out


def new_app(ctx: Context, name: str, version: str):
    from pyspark_streaming_base_spark.app import StreamingApp

    app = StreamingApp(session=ctx.spark)
    app.with_config(
        {
            "spark.app.name": name,
            "spark.app.checkpoints.path": ctx.path("checkpoints"),
            "spark.app.checkpoints.version": version,
        }
    )
    return app.initialize()


# ---------------------------------------------------------------------------
# stream_drain: synthetic_events → 5-min tumbling window → manifest_parquet
# ---------------------------------------------------------------------------


class StreamDrain(Workload):
    """``synthetic_events`` → watermarked 5-min window by event_type →
    ``manifest_parquet``, driven by ``StreamingApp.run`` and
    ``processAllAvailable``; closed loop of 4-batch drains."""

    name = "stream_drain"
    ROWS_PER_BATCH = 20_000
    BATCHES_PER_DRAIN = 4
    #: availableNow probe sizing: three batches; the known defect commits one
    PROBE_ROWS_PER_BATCH = 1_000

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.users = 100 + int(data.rng(ctx.seed, "stream_drain").integers(0, 900))
        self.drains: List[dict] = []
        self.progress: List[dict] = []
        self.run_ms: List[float] = []

    def _register(self) -> None:
        from pyspark_streaming_base_spark.sinks import ManifestParquetDataSource
        from pyspark_streaming_base_spark.sources import SyntheticEventsDataSource

        self.spark.dataSource.register(SyntheticEventsDataSource)
        self.spark.dataSource.register(ManifestParquetDataSource)

    @staticmethod
    def transform(df):
        """The q70 shape, watermarked so append mode can emit closed
        windows."""
        from pyspark.sql import functions as F

        from pyspark_streaming_base_spark.queries._exact import dsum

        return (
            df.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_events"),
                dsum(F.col("value")).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("win_start"),
                F.col("w.end").alias("win_end"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    def _drain(self, tag: str, rows_per_batch: int, max_rows: int, available_now: bool = False):
        SyntheticSource, ManifestSink = _stream_classes()
        app = new_app(self.ctx, "stream_drain", tag)
        out = self.ctx.path("out", tag)
        app.with_source(
            SyntheticSource(
                config={
                    "rows_per_batch": str(rows_per_batch),
                    "max_rows": str(max_rows),
                    "numpartitions": str(NPROC),
                    "users": str(self.users),
                },
                app=app,
            )
        )
        app.with_sink(ManifestSink(config={"path": out}, app=app))
        t0 = time.perf_counter()
        with self.tracer.span("app.run"):
            query = app.run(transform=self.transform, available_now=available_now)
        run_ms = (time.perf_counter() - t0) * 1000.0
        with self.tracer.span("streaming.drain"):
            if available_now:
                query.awaitTermination()
            else:
                query.processAllAvailable()
        wall = time.perf_counter() - t0
        progress = progress_rows(query)
        query.stop()
        return {
            "out": out, "wall_s": wall, "run_ms": run_ms, "progress": progress, "max_rows": max_rows
        }

    def prepare(self, cycle: int) -> None:
        self._register()
        self._drain(f"setup{cycle}", self.ROWS_PER_BATCH, self.ROWS_PER_BATCH)

    def warm_up(self) -> None:
        self._drain("warmup", self.ROWS_PER_BATCH, 2 * self.ROWS_PER_BATCH)

    def measure(self, seconds: float) -> Measured:
        m = Measured()
        t_start = time.perf_counter()
        i = 0
        while time.perf_counter() - t_start < seconds:
            m.attempted += 1
            try:
                rows = self.ROWS_PER_BATCH * self.BATCHES_PER_DRAIN
                d = self._drain(f"m{i}", self.ROWS_PER_BATCH, rows)
            except Exception:  # noqa: BLE001
                m.failed += 1
                continue
            finally:
                i += 1
            self.drains.append(d)
            self.progress.extend(d["progress"])
            self.run_ms.append(d["run_ms"])
            m.latencies_ms.extend(
                p["durationMs"].get("triggerExecution", 0)
                for p in d["progress"]
                if p["numInputRows"] > 0
            )
            m.units += sum(p["numInputRows"] for p in d["progress"])
            m.wall_s += d["wall_s"]
        return m

    def check(self) -> List[Check]:
        from pyspark_streaming_base_spark.sinks.manifest_parquet import manifest_files

        out = []
        if self.drains:
            d = self.drains[0]
            read = sum(p["numInputRows"] for p in d["progress"])
            n = len(self.drains)
            rows_ok = read == d["max_rows"]
            out.append(Check("drain rows read", rows_ok, f"{read} of {d['max_rows']}", n))
            files = manifest_files(d["out"])
            got = pa.concat_tables([pq.read_table(f) for f in files]).to_pylist() if files else []
            batch = self.transform(
                self.spark.read.format("synthetic_events")
                .option("rows", str(d["max_rows"]))
                .option("users", str(self.users))
                .load()
            )
            want = [r.asDict() for r in batch.collect()]
            last_end = max((r["win_end"].timestamp() for r in got), default=None)
            closed = [
                r for r in want if last_end is not None and r["win_end"].timestamp() <= last_end
            ]
            ok = bool(got) and Counter(map(_window_key, got)) == Counter(map(_window_key, closed))
            detail = f"{len(got)} committed, {len(closed)} closed in batch"
            out.append(Check("drain windows equal batch", ok, detail, n))
        return out

    def known_defects(self) -> Dict[str, dict]:
        """``available_now=True`` over ``synthetic_events`` with ``max_rows``
        stops after one ``rows_per_batch`` batch: ``latestOffset`` advances
        one batch per call and availableNow fixes its end at the first
        call. Expected to fail until the source is fixed."""
        self._register()
        rows = 3 * self.PROBE_ROWS_PER_BATCH
        d = self._drain("available_now", self.PROBE_ROWS_PER_BATCH, rows, available_now=True)
        read = sum(p["numInputRows"] for p in d["progress"])
        return {
            "synthetic_available_now_truncates": {
                "expected": "fail",
                "observed": "pass" if read == rows else "fail",
                "rows_committed": read,
                "rows_generated": rows,
            }
        }

    def detail(self, m: Measured) -> dict:
        return {
            "drain_rows_per_s": m.units / m.wall_s if m.wall_s else 0.0,
            "drain_batch_ms_p50": median(m.latencies_ms),
            "drains": len(self.drains),
        }

    def layers(self, events, m: Measured, window) -> Dict[str, float]:
        from pyspark_streaming_base_spark.sinks.manifest_parquet import manifest_files

        out = progress_layers(self.progress)
        batches = max(1, out["streaming.batches"])
        eng = engine_layers(events, [window])
        out.update({k: v / batches for k, v in eng.items()})
        out["app.run_ms"] = median(self.run_ms)
        files = [f for d in self.drains for f in manifest_files(d["out"])]
        manifests = [
            n for d in self.drains for n in os.listdir(os.path.join(d["out"], "_manifests"))
            if n.endswith(".json")
        ]
        out["sinks.manifests"] = len(manifests) / max(1, len(self.drains))
        out["sinks.files_per_batch"] = len(files) / batches
        out["sinks.bytes_written"] = sum(os.path.getsize(f) for f in files) / batches
        return out


def _window_key(r: dict) -> tuple:
    # epoch seconds: Arrow reads tz-aware datetimes, collect() local naive ones
    return (r["win_start"].timestamp(), r["event_type"], r["n_events"], r["sum_value"])


# ---------------------------------------------------------------------------
# stream_paced: open-loop file arrivals → dedup within watermark → foreachBatch
# ---------------------------------------------------------------------------


PACED_SCHEMA = "event_id bigint, ts timestamp, file_seq bigint, value double"


class PacedGenerator(threading.Thread):
    """Lands one small parquet file every ``1/files_per_s`` seconds on a
    fixed schedule that does not slow when the system slows. Each row
    carries its file's due time as ``ts``; a seeded share of rows repeat
    an id from one of the previous few files."""

    def __init__(self, seed: int, src: str, stage: str, files_per_s: int, rows_per_file: int,
                 first_seq: int, n_files: int, t0: float) -> None:
        super().__init__(daemon=True)
        self.g = data.rng(seed, f"paced-{first_seq}")
        self.src, self.stage = src, stage
        self.period = 1.0 / files_per_s
        self.rows_per_file = rows_per_file
        self.first_seq, self.n_files, self.t0 = first_seq, n_files, t0
        self.files: List[dict] = []
        self.error: Optional[BaseException] = None

    def run(self) -> None:
        try:
            recent: List[np.ndarray] = []
            for k in range(self.n_files):
                seq = self.first_seq + k
                due = self.t0 + k * self.period
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                ids = seq * self.rows_per_file + np.arange(self.rows_per_file, dtype="int64")
                dup = self.g.random(self.rows_per_file) < 0.05
                if recent:
                    pool = np.concatenate(recent)
                    picks = pool[self.g.integers(0, len(pool), self.rows_per_file)]
                    ids = np.where(dup, picks, ids)
                recent = (recent + [ids[~dup]])[-5:]
                table = pa.table(
                    {
                        "event_id": ids,
                        "ts": pa.array(
                            np.full(self.rows_per_file, int(due * 1e6)), pa.int64()
                        ).cast(pa.timestamp("us", tz="UTC")),
                        "file_seq": np.full(self.rows_per_file, seq, dtype="int64"),
                        "value": self.g.random(self.rows_per_file),
                    }
                )
                staged = os.path.join(self.stage, f"f{seq:06d}.parquet")
                pq.write_table(table, staged)
                os.replace(staged, os.path.join(self.src, f"f{seq:06d}.parquet"))
                landed = time.time()
                self.files.append(
                    {"seq": seq, "due": due, "landed": landed, "late_ms": (landed - due) * 1000.0,
                     "ids": ids, "new": int(np.count_nonzero(ids // self.rows_per_file == seq))}
                )
        except BaseException as e:  # noqa: BLE001 — surfaced by the caller after join()
            self.error = e


class StreamPaced(Workload):
    """Open loop: seeded parquet files land at a fixed rate, are read by
    ``FileStreamingSource``, deduplicated within the watermark and written
    by ``IdempotentForeachBatchSink`` with the default trigger."""

    name = "stream_paced"
    FILES_PER_S = 10
    ROWS_PER_FILE = 200
    WARMUP_S = 2.0

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.seq = 0
        self.batch_fn_ms: List[float] = []
        self.gens: List[PacedGenerator] = []
        self.measured: Optional[PacedGenerator] = None
        self.query = None

    def _start(self, tag: str):
        from pyspark.sql.types import _parse_datatype_string

        from pyspark_streaming_base_spark.sinks import IdempotentForeachBatchSink

        bench = self

        class TimedSink(IdempotentForeachBatchSink):
            def batch_fn(self):
                inner = super().batch_fn()

                def timed(df, batch_id):
                    t0 = time.perf_counter()
                    with bench.tracer.span("sinks.foreach_batch"):
                        inner(df, batch_id)
                    bench.batch_fn_ms.append((time.perf_counter() - t0) * 1000.0)

                return timed

        self.src = self.ctx.path("paced", tag, "src")
        self.stage = self.ctx.path("paced", tag, "stage")
        self.out = self.ctx.path("paced", tag, "out")
        for d in (self.src, self.stage, self.out):
            os.makedirs(d, exist_ok=True)
        app = new_app(self.ctx, "stream_paced", tag)
        app.with_file_source(config={"path": self.src})
        app.file_source().with_schema(_parse_datatype_string(PACED_SCHEMA))
        app.with_sink(TimedSink(config={"path": self.out}, app=app))
        t0 = time.perf_counter()
        with self.tracer.span("app.run"):
            query = app.run(
                transform=lambda df: df.withWatermark("ts", "10 seconds")
                .dropDuplicatesWithinWatermark(["event_id"]),
                available_now=False,
            )
        self.run_ms = (time.perf_counter() - t0) * 1000.0
        return query

    def _generate(self, seconds: float, t0: float) -> PacedGenerator:
        n = int(round(seconds * self.FILES_PER_S))
        gen = PacedGenerator(
            self.ctx.seed, self.src, self.stage, self.FILES_PER_S, self.ROWS_PER_FILE,
            self.seq, n, t0,
        )
        self.seq += n
        self.gens.append(gen)
        gen.start()
        return gen

    def _finish(self, gen: PacedGenerator) -> None:
        gen.join()
        if gen.error is not None:
            raise gen.error

    def prepare(self, cycle: int) -> None:
        if self.query is not None:
            self.query.stop()
        self.gens, self.seq, self.batch_fn_ms = [], 0, []
        self.query = self._start(f"setup{cycle}")
        self._finish(self._generate(1.0 / self.FILES_PER_S, time.time()))
        self.query.processAllAvailable()

    def warm_up(self) -> None:
        self._finish(self._generate(self.WARMUP_S, time.time()))
        self.query.processAllAvailable()

    def measure(self, seconds: float) -> Measured:
        m = Measured()
        self.batch_fn_ms = []
        progress_before = len(self.query.recentProgress)
        t_start = time.perf_counter()
        gen = self.measured = self._generate(seconds, time.time() + 0.05)
        self._finish(gen)
        self.query.processAllAvailable()
        m.wall_s = time.perf_counter() - t_start
        self.progress = progress_rows(self.query)[progress_before:]
        self.query.stop()
        self.delivery = self._delivery()
        lat = []
        for f in gen.files:
            commit = self.delivery["file_commit"].get(f["seq"])
            if commit is None:
                m.failed += 1
                continue
            lat.extend([(commit - f["due"]) * 1000.0] * f["new"])
        m.latencies_ms = lat
        m.attempted = len(gen.files)
        m.units = sum(f["new"] for f in gen.files)
        return m

    def _delivery(self) -> dict:
        """Which batch delivered each event (from the sink's batch-keyed
        output files) and when that batch was marked committed (the mtime
        of its ledger mark)."""
        ledger = os.path.join(self.out, "_batch_ledger")
        mark = {int(n): os.stat(os.path.join(ledger, n)).st_mtime for n in os.listdir(ledger)}
        seen: Counter = Counter()
        file_commit: Dict[int, float] = {}
        for name in os.listdir(self.out):
            if not (name.startswith("b") and name.endswith(".parquet")):
                continue
            batch = int(name[1:].split("-", 1)[0])
            t = pq.read_table(os.path.join(self.out, name), columns=["event_id", "file_seq"])
            seen.update(t.column("event_id").to_pylist())
            for seq in set(t.column("file_seq").to_pylist()):
                file_commit[seq] = max(file_commit.get(seq, 0.0), mark[batch])
        return {"seen": seen, "file_commit": file_commit}

    def check(self) -> List[Check]:
        ids = set()
        for gen in self.gens:
            for f in gen.files:
                ids.update(f["ids"].tolist())
        seen = self.delivery["seen"]
        missing = len(ids - set(seen))
        dup = sum(1 for c in seen.values() if c > 1)
        extra = len(set(seen) - ids)
        n = len(self.measured.files) if self.measured else 1
        detail = f"{len(ids)} distinct ids; missing {missing}, duplicated {dup}, unknown {extra}"
        return [Check("paced exactly once", missing == 0 and dup == 0 and extra == 0, detail, n)]

    def detail(self, m: Measured) -> dict:
        return {
            "paced_latency_ms_p50": median(m.latencies_ms),
            "paced_latency_ms_p99": percentile(m.latencies_ms, 99),
            "paced_files": len(self.measured.files) if self.measured else 0,
            "gen_late_ms_max": max((f["late_ms"] for f in self.measured.files), default=0.0),
        }

    def layers(self, events, m: Measured, window) -> Dict[str, float]:
        out = progress_layers(self.progress)
        batches = max(1, out["streaming.batches"])
        eng = engine_layers(events, [window])
        out.update({k: v / batches for k, v in eng.items()})
        out["app.run_ms"] = self.run_ms
        files = self.measured.files
        out["sources.gen_late_ms_max"] = max((f["late_ms"] for f in files), default=0.0)
        commits = self.delivery["file_commit"]
        backlog = 0
        for f in files:
            t = f["landed"]
            waiting = sum(
                1 for g in files if g["landed"] <= t and commits.get(g["seq"], math.inf) > t
            )
            backlog = max(backlog, waiting)
        out["sources.backlog_files_max"] = backlog
        out["sinks.foreach_batch_ms"] = median(self.batch_fn_ms)
        parts = [n for n in os.listdir(self.out) if n.startswith("b") and n.endswith(".parquet")]
        marks = max(1, len(os.listdir(os.path.join(self.out, "_batch_ledger"))))
        out["sinks.files_per_batch"] = len(parts) / marks
        written = sum(os.path.getsize(os.path.join(self.out, n)) for n in parts)
        out["sinks.bytes_written"] = written / marks
        return out


# ---------------------------------------------------------------------------
# index_serve: BM25 probes beside appends/deletes, closed loop, one client
# ---------------------------------------------------------------------------


class IndexServe(Workload):
    """A persisted BM25 index over the sf0.1 ``documents`` table served to
    one client: seeded top-10 probes with one update (delete 50 docs,
    append 50) per nine probes."""

    name = "index_serve"
    SF = 0.1
    WRITE_DOCS = 50
    TERMS_PER_PROBE = 3
    TOP_K = 10
    WARMUP_MAX_S = 15.0

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.g = data.rng(ctx.seed, "index_serve")
        self.append_rng = data.rng(ctx.seed, "index_appends")
        self.samples: Dict[str, List[float]] = {
            k: []
            for k in ("probe_build", "probe_exec", "probe_py4j", "append", "delete", "compact")
        }
        self.probe_phases: Dict[str, List[float]] = {
            "analysis": [], "optimization": [], "planning": []
        }

    def _terms(self) -> List[str]:
        return [str(w) for w in self.g.choice(self.vocab, self.TERMS_PER_PROBE, replace=False)]

    def _docs_df(self, ids, name: str):
        path = self.ctx.path(f"{name}.parquet")
        ids = [int(i) for i in ids]
        texts = [self.texts[i] for i in ids]
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), path)
        return self.spark.read.parquet(path)

    def prepare(self, cycle: int) -> None:
        from pyspark_streaming_base_spark.operators import build_bm25_index

        self.path = self.ctx.path(f"index-{cycle}")
        with self.tracer.span("fixtures"):
            docs = data.documents(self.ctx.seed, self.SF)
            corpus_path = self.ctx.path(f"documents-{cycle}.parquet")
            pq.write_table(docs, corpus_path)
        ids = docs.column("doc_id").to_pylist()
        self.texts = dict(zip(ids, docs.column("text").to_pylist()))
        self.vocab = sorted({w for t in self.texts.values() for w in t.split(" ")})
        with self.tracer.span("operators.build"):
            build_bm25_index(self.spark.read.parquet(corpus_path), self.path)
        self.live = set(ids)
        self.next_id = len(ids)
        self._probe(self._terms())

    def _probe(self, terms, record: bool = False):
        from pyspark_streaming_base_spark.operators import query_bm25_index

        t0 = time.perf_counter()
        calls0 = self.ctx.py4j.calls
        with self.tracer.span("operators.probe_build"):
            df = query_bm25_index(self.spark, self.path, terms, top_k=self.TOP_K)
        t1 = time.perf_counter()
        if self.ctx.trace and record:
            for k, v in catalyst_phases(df).items():
                self.probe_phases[k].append(v)
        t2 = time.perf_counter()
        with self.tracer.span("operators.probe_exec"):
            rows = [tuple(r) for r in df.collect()]
        t3 = time.perf_counter()
        if record:
            self.samples["probe_build"].append((t1 - t0) * 1000.0)
            self.samples["probe_exec"].append((t3 - t2) * 1000.0)
            self.samples["probe_py4j"].append(self.ctx.py4j.calls - calls0)
        return rows

    def _op(self, i: int, record: bool) -> Tuple[str, float]:
        """Operation ``i`` of the interleave: an update at 4, 14, 24…
        (early enough that every run has one), else a probe."""
        t0 = time.perf_counter()
        if i % 10 == 4:
            self._update()
            kind = "write"
        else:
            self._probe(self._terms(), record=record)
            kind = "probe"
        return kind, (time.perf_counter() - t0) * 1000.0

    def warm_up(self) -> None:
        # the same interleave until probe time settles (it falls by about
        # half over the first 20 probes); the first update also makes
        # every later probe read through the tombstone anti-join
        probes: List[float] = []
        t_end = time.perf_counter() + self.WARMUP_MAX_S
        self.warmup_ops = 0
        while not settled(probes, tol=0.03) and time.perf_counter() < t_end:
            self.warmup_ops += 1
            kind, ms = self._op(self.warmup_ops, record=False)
            if kind == "probe":
                probes.append(ms)
        for xs in self.samples.values():
            xs.clear()
        self.checked_terms = self._terms()

    def _update(self) -> None:
        """One write: a re-crawl that deletes ``WRITE_DOCS`` live docs and
        appends as many new ones, then lets ``maybe_compact`` decide."""
        from pyspark_streaming_base_spark.operators import (
            append_bm25_index,
            compact_bm25_index,
            delete_from_bm25_index,
        )
        from pyspark_streaming_base_spark.operators.tombstones import maybe_compact

        gone = [int(i) for i in self.g.choice(sorted(self.live), self.WRITE_DOCS, replace=False)]
        new = list(range(self.next_id, self.next_id + self.WRITE_DOCS))
        self.texts.update(zip(new, data.doc_texts(self.append_rng, self.WRITE_DOCS)))
        self.next_id += self.WRITE_DOCS
        t0 = time.perf_counter()
        with self.tracer.span("operators.delete"):
            delete_from_bm25_index(self.spark, self.path, gone)
        t1 = time.perf_counter()
        with self.tracer.span("operators.append"):
            append_bm25_index(self._docs_df(new, f"append-{new[0]}"), self.path)
        t2 = time.perf_counter()
        with self.tracer.span("operators.maybe_compact"):
            fired = maybe_compact(
                f"{self.path}/tombstones", f"{self.path}/doclens",
                lambda: compact_bm25_index(self.spark, self.path),
            )
        self.samples["delete"].append((t1 - t0) * 1000.0)
        self.samples["append"].append((t2 - t1) * 1000.0)
        if fired:
            self.samples["compact"].append((time.perf_counter() - t2) * 1000.0)
        self.live = (self.live - set(gone)) | set(new)

    def measure(self, seconds: float) -> Measured:
        m = Measured()
        self.write_ms: List[float] = []
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds:
            m.attempted += 1
            try:
                with self.tracer.span("op", op=m.attempted):
                    kind, ms = self._op(m.attempted, record=True)
            except Exception:  # noqa: BLE001
                m.failed += 1
                continue
            (self.write_ms if kind == "write" else m.latencies_ms).append(ms)
        m.wall_s = time.perf_counter() - t_start
        m.units = m.attempted - m.failed
        self.end_state = self._index_state()
        return m

    def check(self) -> List[Check]:
        from pyspark_streaming_base_spark.operators import (
            build_bm25_index,
            compact_bm25_index,
            query_bm25_index,
        )

        fresh = self.ctx.path("index-check")
        build_bm25_index(self._docs_df(sorted(self.live), "surviving"), fresh)
        terms = self.checked_terms
        want = [
            tuple(r) for r in query_bm25_index(self.spark, fresh, terms, top_k=self.TOP_K).collect()
        ]
        tombstoned = self._probe(terms)
        t0 = time.perf_counter()
        with self.tracer.span("operators.compact"):
            compact_bm25_index(self.spark, self.path)
        self.samples["compact"].append((time.perf_counter() - t0) * 1000.0)
        compacted = self._probe(terms)
        n = len(self.samples["probe_build"])
        return [
            Check("index top-k equals fresh build", tombstoned == want and len(want) > 0,
                  f"{' '.join(terms)}: {len(tombstoned)} vs {len(want)} rows", n),
            Check(
                "compacted top-k equals fresh build", compacted == want, f"{len(compacted)} rows", n
            ),
        ]

    def detail(self, m: Measured) -> dict:
        return {
            "probe_ms_p50": median(m.latencies_ms),
            "probe_ms_p90": percentile(m.latencies_ms, 90),
            "index_write_ms_p50": median(self.write_ms),
            "probes": len(m.latencies_ms),
            "writes": len(self.write_ms),
            "warmup_ops": self.warmup_ops,
        }

    def layers(self, events, m: Measured, window) -> Dict[str, float]:
        ops = max(1, m.attempted)
        out = {k: v / ops for k, v in engine_layers(events, [window]).items()}
        probes = self.tracer.windows("operators.probe_build")
        execs = self.tracer.windows("operators.probe_exec")
        spans = [w for w in probes + execs if window[0] <= w[0] <= window[1]]
        n_probes = max(1, len(self.samples["probe_build"]))
        out["operators.probe_jobs"] = engine_layers(events, spans)["sched.jobs"] / n_probes
        out["operators.probe_build_ms"] = median(self.samples["probe_build"])
        out["operators.probe_exec_ms"] = median(self.samples["probe_exec"])
        out["operators.probe_py4j_calls"] = median(self.samples["probe_py4j"])
        for k in ("append", "delete", "compact"):
            out[f"operators.{k}_ms"] = median(self.samples[k])
        for k, xs in self.probe_phases.items():
            out[f"catalyst.{k}_ms"] = median(xs)
        out.update(self.end_state)
        return out

    def _index_state(self) -> Dict[str, float]:
        from pyspark_streaming_base_spark.operators.tombstones import snapshot_path, tombstone_ratio

        return {
            "operators.tombstone_ratio": (
                tombstone_ratio(f"{self.path}/tombstones", f"{self.path}/doclens") or 0.0
            ),
            "operators.live_files": sum(
                1
                for t in ("postings", "doclens")
                for _r, _d, fs in os.walk(snapshot_path(f"{self.path}/{t}"), followlinks=True)
                for f in fs
                if f.endswith(".parquet")
            ),
        }


WORKLOADS = {w.name: w for w in (BatchMix, StreamDrain, StreamPaced, IndexServe)}


def cleanup(ctx: Context) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    for it, then remove the work directory."""
    from pyspark import SparkContext

    ctx.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    shutil.rmtree(ctx.work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(ctx.work))
    except OSError:
        pass  # another run's work directory is still there
