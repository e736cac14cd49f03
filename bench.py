"""Benchmark harness: runs the headline queries and prints ONE JSON line.

Contract (driver): ``{"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec}, "sf": ...}`` at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Two tiers in one line: ``queries``/``value`` is the original 12-query
HEADLINE (comparable across every round since r1), and ``extended``/
``extended_value`` times the heavy extension paths: the EXTENDED registry
queries plus the persisted-index and incremental-loop entries of ``TIERS``
(one entry table, measured by the one timing loop ``measure``).
``delta_vs_prev.extended_pct`` tracks their round-over-round trend over
the intersection of entries present in both records.
``SPARK_GRAFT_BENCH_TIER=headline`` skips the extended tier — the
isolated-headline mode used for A/B bisects of session-level changes.

Each query is materialized through the ``noop`` sink so every output column
is actually computed (a bare ``count()`` would let Catalyst prune the
projections we're trying to measure).

Methodology: each headline query runs ``$SPARK_GRAFT_BENCH_RUNS`` times
(default 5) and reports the FASTEST run; the extended tier runs
``min(runs, 2)`` times (its entries take seconds each, so relative noise
is already small). The first execution of a query pays one-time
whole-stage-codegen (Janino) compilation of its generated code — a
per-query-shape constant that amortizes to zero over any real workload;
steady-state time is the number that predicts scale throughput. Best-of-N
also suppresses ambient-load noise on a shared machine (the JSON records
the 1-minute load average and hypervisor steal for cross-run context).
Write-once builds and operational one-shot jobs are timed once; appends
and folds run on a fresh untimed copy of their base state each run so
runs don't compound. Generic machinery warmup (JVM, Arrow worker pool,
shuffle subsystem, parquet footers) is done once up front.

The run writes its full record to ``BENCH_DETAIL_r{N}.json`` next to this
script; run smokes from a copy of the repository.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_streaming_base_spark.session import SessionFactory
from pyspark_streaming_base_spark.queries import load_all

#: Headline set: one per operator family, weighted toward the scale-relevant
#: paths (big agg, star join, window top-k, explode, MinHash dedup, vector
#: search, event-time windows).
HEADLINE = [
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
]

#: Extended tier registry queries: the most expensive operator paths,
#: tracked separately so the r1-comparable HEADLINE trend stays intact.
EXTENDED = [
    "q97_profit_by_nation_year",   # 5-way star join + rollup
    "q100_training_pipeline",      # capstone composition, one plan
    "q107_dup_span_detection",     # window-hash explode + join-back
    "q108_fuzzy_hamming_join",     # segment-blocked fuzzy self-join
    "q124_fuzzy_levenshtein_join", # PassJoin shifted-substring join
    "q130_image_neardup",          # BMP decode → aHash → blocked join
    "q137_segment_dedup_rebuild",  # C4 keeper window + rebuild agg
    "q139_bloom_decontamination",  # bloom prefilter + exact verify
    "q150_retrieval_pipeline",     # BM25 + vector arms → RRF → MMR
    "q155_prf_query_expansion",    # two-pass PRF/RM3-lite retrieval
    "q180_filter_waterfall",       # 5-rule quality waterfall, one scan
    "q197_modality_readiness_by_source",  # 3 media parsers in one stage
]

#: Start gate: wait (in 10 s steps, at most MAX_WAIT_SEC) until the 1-minute
#: load average is at most MAX_LOAD; a record whose gate timed out carries
#: ``contaminated_start``.
MAX_LOAD = 1.5
MAX_WAIT_SEC = 600.0
#: A measurement window whose hypervisor steal exceeds MAX_STEAL_PCT is
#: re-taken up to STEAL_RETRIES times; the lower-steal attempt is kept.
MAX_STEAL_PCT = 2.0
STEAL_RETRIES = 1
#: Calibration probes and the per-probe delta keys they normalise.
PROBES = {"jvm": "calib_jvm_sec", "numpy": "calib_numpy_sec"}
NORMALIZED = {"jvm": "normalized_total_pct", "numpy": "normalized_total_pct_numpy"}


class Entry(NamedTuple):
    """One timed bench number. ``run`` is the timed thunk. By default it
    is timed best-of-N; ``once`` times it a single time (write-once
    builds, one-shot operational jobs); ``fresh`` names a base directory
    that is copied, untimed, before each run, and ``run`` gets the copy's
    path (appends and folds must not compound). Copies land at
    ``{fresh}_run{i}`` and stay until the tier's directory is removed."""

    name: str
    run: Callable
    once: bool = False
    fresh: str = ""


def measure(
    entries, n_runs: int, after: Callable[[], object] = lambda: None, digits: int = 3
) -> dict[str, float]:
    """The one timing loop: every entry in order, each recorded as its
    fastest run (rounded to ``digits``); ``after`` runs once per entry,
    outside the timer."""
    out: dict[str, float] = {}
    for e in entries:
        best = float("inf")
        for i in range(1 if e.once else max(1, n_runs)):
            args = ()
            if e.fresh:
                args = (f"{e.fresh}_run{i}",)
                shutil.copytree(e.fresh, args[0])
            t0 = time.perf_counter()
            e.run(*args)
            best = min(best, time.perf_counter() - t0)
        out[e.name] = round(best, digits)
        after()
    return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _load_gate() -> dict | None:
    """Refuse to measure under ambient load: wait until load_avg_1m drops
    under MAX_LOAD (bounded by MAX_WAIT_SEC) and RECORD whether the gate
    was satisfied, so a record taken on a busy host says so. The driver
    contract (one JSON line) is kept either way."""
    try:
        waited = 0.0
        while os.getloadavg()[0] > MAX_LOAD and waited < MAX_WAIT_SEC:
            time.sleep(10.0)
            waited += 10.0
        return {
            "max_load": MAX_LOAD,
            "waited_sec": round(waited, 1),
            "satisfied": os.getloadavg()[0] <= MAX_LOAD,
        }
    except OSError:  # pragma: no cover — no load averages on this OS
        return None


def _steal_snapshot() -> tuple[int, float] | None:
    """(cumulative steal jiffies, wall time) from /proc/stat — the
    hypervisor-steal counter is the only in-guest signal that
    distinguishes "this VM's CPUs were taken by a co-tenant" from our
    own load (loadavg cannot see it: steal only accrues against runnable
    tasks and spikes exactly when the bench wants all cores)."""
    try:
        with open("/proc/stat") as f:
            steal = int(f.readline().split()[8])
        return steal, time.perf_counter()
    except (OSError, IndexError, ValueError):  # pragma: no cover
        return None


def _steal_pct_since(snap: tuple[int, float] | None) -> float | None:
    """Steal as a percentage of total machine capacity (ncpus x 100
    jiffies/s) over the window since ``snap``."""
    if snap is None:
        return None
    now = _steal_snapshot()
    if now is None:  # pragma: no cover
        return None
    dj, dt = now[0] - snap[0], now[1] - snap[1]
    if dt <= 0:  # pragma: no cover
        return None
    ncpu = os.cpu_count() or 1
    return round(100.0 * dj / (dt * 100.0 * ncpu), 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    headline_only = os.environ.get("SPARK_GRAFT_BENCH_TIER", "all") == "headline"
    load_gate = _load_gate()
    steal_snap = _steal_snapshot()
    spark = SessionFactory.local(app_name="bench")
    registry = load_all()
    # Warmup: one-time machinery costs land here, not on the first query
    # that happens to touch them — JVM/codegen/parquet footers, the Arrow
    # python-worker pool (pandas UDFs), and the shuffle subsystem.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    from pyspark.sql import functions as F

    inc = F.pandas_udf(lambda s: s + 1, "long")
    _noop(spark.range(1_000).select(inc("id")))
    _noop(
        spark.range(10_000).withColumnRenamed("id", "k").hint("shuffle_hash").join(
            spark.range(10_000).withColumnRenamed("id", "k").hint("shuffle_hash"), "k"
        )
    )

    def time_queries(names: list[str], n_runs: int) -> dict[str, float]:
        # Cache lifetime: a few queries persist a counts-only first pass
        # that a LATER query's identical sub-plan could hit — clear
        # BETWEEN queries so no timing is cross-subsidized by a
        # predecessor's cache; within one query's best-of-N it stays.
        entries = [
            Entry(n, lambda spec=registry[n]: _noop(spec.fn(spark, sf_dir)))
            for n in names
        ]
        return measure(entries, n_runs, after=spark.catalog.clearCache)

    def measure_once() -> tuple[dict, dict, float | None]:
        snap = _steal_snapshot()
        timings = time_queries(HEADLINE, runs)
        ext: dict[str, float] = {}
        if not headline_only:
            ext = time_queries(EXTENDED, min(runs, 2))
            for setup in TIERS:
                with tempfile.TemporaryDirectory(
                    prefix="bench_", ignore_cleanup_errors=True
                ) as tmp:
                    ext.update(measure(setup(spark, sf_dir, tmp), min(runs, 2)))
        return timings, ext, _steal_pct_since(snap)

    timings, ext, steal_pct = measure_once()
    steal_retries_used = 0
    while (
        steal_pct is not None
        and steal_pct > MAX_STEAL_PCT
        and steal_retries_used < STEAL_RETRIES
    ):
        steal_retries_used += 1
        t2, e2, s2 = measure_once()
        if s2 is None or s2 <= steal_pct:
            timings, ext, steal_pct = t2, e2, s2
    total = round(sum(timings.values()), 3)
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        load1 = None
    out = {
        "metric": "headline_query_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "load_avg_1m": load1,
        "load_gate": load_gate,
        # the start gate WAITED OUT its budget on a busy host: treat this
        # record as disputed-basis whatever the probes say
        "contaminated_start": bool(load_gate and not load_gate["satisfied"]),
        # hypervisor steal over the kept attempt's measurement window, as
        # % of machine capacity (>~2% disputes the raw basis); whole-run
        # steal incl. warmup is host_steal_pct_total
        "host_steal_pct_run": steal_pct,
        "host_steal_pct_total": _steal_pct_since(steal_snap),
        "steal_retries_used": steal_retries_used,
        "host_calibration": _calibrate(spark),
        "extended": ext,
        "extended_value": round(sum(ext.values()), 3),
    }
    prev = _prev_record()
    if prev is not None:
        out.update(_delta_fields(out, prev))
    _emit(out)


def _pct(now: float, then: float) -> float:
    return round(100.0 * (now - then) / then, 1)


def _normalize(pct: float, drift: float) -> float:
    """A raw round-over-round pct divided by the host-speed ratio a
    calibration probe measured between the two records."""
    return round(100.0 * ((1.0 + pct / 100.0) / (1.0 + drift / 100.0) - 1.0), 1)


def _delta_fields(cur: dict, prev: dict) -> dict:
    """Round-over-round fields of record ``cur`` against the previous
    record ``prev``: ``delta_vs_prev`` (raw and calibration-normalized
    pcts) plus the one top-level number and its basis.

    The basis: ``incomparable_sf`` across scale factors; otherwise the
    JVM-probe-normalized delta at matched loads, the numpy-normalized one
    when the two records' load averages differ by more than 2 (the JVM
    probe saturates under load, the single-threaded numpy one does not),
    raw when no calibration is comparable. When the two probes' drifts
    disagree by more than 25 points neither normalizer is trustworthy:
    the basis gets a ``_disputed`` suffix and both normalized values are
    surfaced."""
    delta = {
        "prev_record": prev.get("_record"),
        "prev_source": prev.get("_from", prev.get("_record")),
        "prev_value": prev["value"],
        "prev_load_avg_1m": prev.get("load_avg_1m"),
        "total_pct": _pct(cur["value"], prev["value"]),
        "same_sf": prev.get("sf") == cur["sf"],
    }
    pq = prev.get("queries") or {}
    delta["queries_pct"] = {
        q: _pct(t, pq[q]) for q, t in cur["queries"].items() if pq.get(q)
    }
    pe = prev.get("extended") or {}
    common = {q: t for q, t in cur["extended"].items() if pe.get(q)}
    if common:
        delta["extended_pct"] = {
            "total_pct": _pct(sum(common.values()), sum(pe[q] for q in common)),
            "queries_pct": {q: _pct(t, pe[q]) for q, t in common.items()},
        }
    pc, cc = prev.get("host_calibration"), cur["host_calibration"]
    drift: dict[str, float] = {}
    if isinstance(pc, dict) and pc.get(PROBES["jvm"]):
        drift = delta["host_drift_pct"] = {
            k: _pct(cc[k], pc[k]) for k in PROBES.values() if pc.get(k)
        }
        for probe, key in NORMALIZED.items():
            d = drift.get(PROBES[probe])
            if d is not None and d > -90.0:
                delta[key] = _normalize(delta["total_pct"], d)
    out: dict = {"delta_vs_prev": delta}
    if not delta["same_sf"]:
        out["headline_delta_basis"] = "incomparable_sf"
        return out
    loads_differ = (
        prev.get("load_avg_1m") is not None
        and cur.get("load_avg_1m") is not None
        and abs(cur["load_avg_1m"] - prev["load_avg_1m"]) > 2.0
    )
    picked = None
    for probe in ("numpy", "jvm") if loads_differ else ("jvm", "numpy"):
        if delta.get(NORMALIZED[probe]) is not None:
            picked = probe
            out["headline_delta_pct"] = delta[NORMALIZED[probe]]
            out["headline_delta_basis"] = f"normalized_{probe}"
            break
    else:
        out["headline_delta_pct"] = delta["total_pct"]
        out["headline_delta_basis"] = "raw"
    # the raw delta always rides beside the normalized pick
    out["raw_total_pct"] = delta["total_pct"]
    dj, dn = drift.get(PROBES["jvm"]), drift.get(PROBES["numpy"])
    if dj is not None and dn is not None and abs(dj - dn) > 25.0:
        out["headline_delta_basis"] += "_disputed"
        out["probe_disagreement_pct"] = round(abs(dj - dn), 1)
        both = {k: delta[k] for k in NORMALIZED.values() if k in delta}
        if both:
            out["all_normalized"] = both
    if picked is not None:
        # per-query normalized deltas on the headline's basis, so a
        # single-query regression stands out against host drift
        d = drift[PROBES[picked]]
        delta["queries_pct_normalized"] = {
            q: _normalize(p, d) for q, p in delta["queries_pct"].items()
        }
        if "extended_pct" in delta:
            delta["extended_pct"]["queries_pct_normalized"] = {
                q: _normalize(p, d)
                for q, p in delta["extended_pct"]["queries_pct"].items()
            }
        delta["queries_pct_normalized_basis"] = out["headline_delta_basis"]
    return out


def _emit(out: dict) -> None:
    """Two-tier output: the FULL record goes to a committed
    ``BENCH_DETAIL_r{N}.json`` next to this script (N = the round in
    progress, i.e. latest driver ``BENCH_r{N}`` + 1), and stdout gets ONE
    COMPACT line (<1500 chars: driver-contract fields + the one-number
    delta + calibration) — the driver's capture truncates ~2000 chars.
    Later runs' ``_prev_record`` reads the detail file, so per-query
    trends survive even though the captured line is compact."""
    here = os.path.dirname(os.path.abspath(__file__))
    detail_name = f"BENCH_DETAIL_r{_current_round(here)}.json"
    try:
        with open(os.path.join(here, detail_name), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
        out_detail = detail_name
    except OSError:  # pragma: no cover — read-only checkout
        out_detail = None
    compact = {
        # driver contract first: metric/value/unit/queries/sf
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "queries": out["queries"],
        "sf": out["sf"],
        "extended_value": out.get("extended_value"),
        "load_avg_1m": out.get("load_avg_1m"),
        "load_gate_ok": (out.get("load_gate") or {}).get("satisfied"),
        "contaminated_start": out.get("contaminated_start"),
        "host_steal_pct_run": out.get("host_steal_pct_run"),
        "host_calibration": out.get("host_calibration"),
        "headline_delta_pct": out.get("headline_delta_pct"),
        "headline_delta_basis": out.get("headline_delta_basis"),
        "raw_total_pct": out.get("raw_total_pct"),
        "probe_disagreement_pct": out.get("probe_disagreement_pct"),
        "all_normalized": out.get("all_normalized"),
        "prev_record": (out.get("delta_vs_prev") or {}).get("prev_record"),
        "detail": out_detail,
    }
    line = json.dumps(compact)
    if len(line) > 1500:  # pragma: no cover — headline set would have grown
        compact.pop("queries", None)
        compact["queries_in"] = out_detail
        line = json.dumps(compact)
    print(line)


def _current_round(here: str) -> int:
    """The round in progress: one past the newest driver-written
    ``BENCH_r{N}.json`` (the driver records this round's capture only
    after the round ends, so during round N the newest record is
    N−1)."""
    rounds = [
        int(m.group(1))
        for n in os.listdir(here)
        if (m := re.match(r"BENCH_r(\d+)\.json$", n))
    ]
    return max(rounds, default=0) + 1


def _calibrate(spark) -> dict[str, float]:
    """Fixed-work host-speed probes, best-of-3 each: a JVM-side codegen
    aggregate (tracks executor-thread throughput) and a single-threaded
    numpy reduction (tracks raw core speed, immune to Spark config).
    Identical work every round ⇒ the ratio between two rounds' probes IS
    the host-speed drift; ``_delta_fields`` divides headline deltas by it
    before they are read as code changes."""
    import numpy as np

    arr = np.arange(20_000_000, dtype=np.float64)
    return measure(
        [
            Entry(
                PROBES["jvm"],
                lambda: spark.range(0, 200_000_000, 1, 32)
                .selectExpr("sum(id * 3 + 7)")
                .collect(),
            ),
            Entry(PROBES["numpy"], lambda: float((arr * 1.0000001 + 3.0).sum())),
        ],
        3,
        digits=4,
    )


# ---------------------------------------------------------------------------
# Extended-tier entry table. Each setup does its untimed preparation under
# the tier's own temporary directory ``tmp`` and returns its entries in
# record order; ``measure`` times them.
# ---------------------------------------------------------------------------


def _embeddings(spark, sf_dir: str, col: str):
    from pyspark_streaming_base_spark.functions.vectorops import dvec

    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", dvec("embedding").alias(col)
    )


def _query_vectors(emb, n: int):
    from pyspark.sql import functions as F

    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )


def _pq_tier(spark, sf_dir: str, tmp: str) -> list[Entry]:
    """q111's production shape: build the IVFADC index ONCE (write-once
    cost, amortized over every future query batch), then time the probe
    against the persisted tables (m=16, k=16, 8 cells, nprobe=4,
    shortlist=50, top-10, 3 queries). The build trains codebooks on a
    512-vector sample (SCALE.md §PQ has the build-vs-recall row)."""
    from pyspark_streaming_base_spark.operators.pq import (
        build_pq_index,
        query_pq_index,
    )

    emb = _embeddings(spark, sf_dir, "vec")
    queries = _query_vectors(emb, 3)
    idx = f"{tmp}/idx"
    return [
        Entry(
            "q111_ivfadc_build",
            lambda: build_pq_index(
                emb, idx, m=16, k=16, iters=3, n_cells=8, train_cap=512
            ),
            once=True,
        ),
        Entry(
            "q111_ivfadc_probe",
            lambda: _noop(
                query_pq_index(
                    spark, idx, queries, m=16, nprobe=4, shortlist=50, top_k=10
                )
            ),
        ),
    ]


def _crawl_tier(spark, sf_dir: str, tmp: str) -> list[Entry]:
    """The incremental crawl loop's recurring costs — probe the MinHash
    index with today's batch, append the batch signatures, fold the new
    edges into the persisted cluster table — priced so a regression in any
    step's O(batch) property shows up in the trend
    (``tools/scale_smoke.py::crawl_smoke`` proves the vs-rebuild
    crossover; this tracks the absolute step costs at fixed sf).

    Yesterday's state (signature index + canonical components) is built
    in setup; the probe's edge output is pre-materialized so crawl_merge
    prices the merge alone. The batch is every 50th document with offset
    ids and token-suffixed text so real candidate edges flow through
    every step."""
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.components import (
        connected_components,
        merge_components,
    )
    from pyspark_streaming_base_spark.operators.minhash import (
        append_minhash_index,
        build_minhash_index,
        index_band_pairs,
        query_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    batch = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 900_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.transform(toks, lambda x: F.concat(x, F.lit("_day")))
        ).alias("text"),
    )
    idx, canon, edges = f"{tmp}/idx", f"{tmp}/canon", f"{tmp}/edges"
    build_minhash_index(docs, idx)
    connected_components(
        index_band_pairs(spark.read.parquet(idx))
    ).write.parquet(canon)
    query_minhash_index(spark, idx, batch).select(
        F.col("query_id").alias("src"), F.col("index_id").alias("dst")
    ).write.parquet(edges)
    return [
        Entry("crawl_probe", lambda: _noop(query_minhash_index(spark, idx, batch))),
        Entry("crawl_append", lambda d: append_minhash_index(batch, d), fresh=idx),
        Entry(
            "crawl_merge",
            lambda: _noop(
                merge_components(spark.read.parquet(canon), spark.read.parquet(edges))
            ),
        ),
    ]


def _semdedup_tier(spark, sf_dir: str, tmp: str) -> list[Entry]:
    """The semantic crawl loop's recurring costs: assign-and-append a new
    vector batch under the frozen Lloyd centroids, then fold its effect
    into the maintained removal set (on the first append run's output).
    Yesterday's state (centroids + assignments + removal set) is built in
    setup; the batch is every 50th vector with offset ids so it lands in
    real occupied clusters."""
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.semdedup import (
        append_semdedup_index,
        build_semdedup_index,
        merge_semdedup_removed,
        semdedup_removed_from_index,
    )
    from pyspark_streaming_base_spark.queries.pipeline import kmeans_centroids

    emb = _embeddings(spark, sf_dir, "v")
    batch = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 900_000_000).alias("vec_id"), "v"
    )
    union = emb.unionByName(batch)
    tau = 0.35  # q125's calibration for this fixture
    idx, prior = f"{tmp}/idx", f"{tmp}/removed"
    cent = kmeans_centroids(spark, sf_dir).localCheckpoint(eager=True)
    build_semdedup_index(emb, idx, cent)
    semdedup_removed_from_index(spark, idx, emb, tau).write.parquet(prior)
    return [
        Entry(
            "semdedup_append",
            lambda d: append_semdedup_index(spark, d, batch),
            fresh=idx,
        ),
        Entry(
            "semdedup_merge",
            lambda: _noop(
                merge_semdedup_removed(
                    spark, f"{idx}_run0", union, batch, spark.read.parquet(prior), tau
                )
            ),
        ),
    ]


def _bm25_tier(spark, sf_dir: str, tmp: str) -> list[Entry]:
    """The lexical index's production split: build the BM25 inverted file
    ONCE, price the per-query probe against the persisted postings (its
    term filter pushes down, so it tracks ~|terms| postings lists, not
    the corpus), then the delete lifecycle: tombstone a 10% batch
    (O(batch) append) and re-price the live-view probe, which now pays
    one anti-join."""
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.bm25 import (
        build_bm25_index,
        delete_from_bm25_index,
        query_bm25_index,
    )
    from pyspark_streaming_base_spark.queries.text import _BM25_TERMS, _BM25_TOPK

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gone = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    idx = f"{tmp}/idx"

    def probe() -> None:
        _noop(query_bm25_index(spark, idx, _BM25_TERMS, top_k=_BM25_TOPK))

    return [
        Entry("q136_bm25_build", lambda: build_bm25_index(docs, idx), once=True),
        Entry("q136_bm25_probe", probe),
        Entry(
            "bm25_delete", lambda: delete_from_bm25_index(spark, idx, gone), once=True
        ),
        Entry("bm25_probe_tombstoned", probe),
    ]


def _containment_tier(spark, sf_dir: str, tmp: str) -> list[Entry]:
    """The containment crawl's production split: build the
    slice-partitioned shingle index ONCE, price the recurring per-batch
    probe (prefix-pigeonhole candidate join + exact verify; candidates
    carry ids only), then one day's append fold (offset ids +
    token-suffixed text, the crawl tier's near-dup construction) so an
    O(batch)→O(corpus) regression shows in the trend."""
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.containment import (
        append_containment_index,
        build_containment_index,
        query_containment_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    batch = docs.filter(F.col("doc_id") % 50 == 0)
    day = batch.select(
        (F.col("doc_id") + 900_000_000).alias("doc_id"),
        "lang",
        F.concat(F.col("text"), F.lit(" crawl day tail")).alias("text"),
    )
    idx = f"{tmp}/idx"
    return [
        Entry(
            "q156_containment_build",
            lambda: build_containment_index(docs, idx),
            once=True,
        ),
        Entry(
            "containment_probe",
            lambda: _noop(query_containment_index(spark, idx, batch)),
        ),
        Entry(
            "containment_append",
            lambda d: append_containment_index(day, d),
            fresh=idx,
        ),
    ]


def _quantile_tier(spark, sf_dir: str, tmp: str) -> list[Entry]:
    """The streaming SLA monitor's recurring costs: fold one day's
    micro-batch of (priority, day-lag) rows into the persisted mergeable
    value histogram (the q186 foreachBatch substrate), then read the
    percentile report back from the first fold run's state. The fold is
    O(batch) + an O(segments) ledger probe; the read is
    O(|keys| · |day-lag domain|) — both independent of corpus size."""
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.quantiles import (
        build_value_histogram,
        merge_value_histogram,
        sla_report,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("od"),
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "priority", F.datediff("sd", "od").cast("bigint").alias("lag")
    )
    batch = j.filter(F.col("lag") % 20 == 0)
    base = f"{tmp}/base"
    build_value_histogram(spark, base, j.filter(F.col("lag") % 20 != 0), "priority", "lag")
    return [
        Entry(
            "quantile_fold",
            lambda d: merge_value_histogram(spark, d, batch, "priority", "lag"),
            fresh=base,
        ),
        Entry(
            "quantile_report",
            lambda: _noop(sla_report(spark, f"{base}_run0", ps=(0.5, 0.9))),
        ),
    ]


def _ivf_tune_tier(spark, sf_dir: str, tmp: str) -> list[Entry]:
    """The nprobe auto-tune sweep's one-shot price: with the IVF index
    built in setup, time ``tune_nprobe`` walking the doubling schedule
    over an 8-query held-out panel to a 0.9 recall@10 floor. This is an
    operational (re)calibration job, so one timing is the honest unit."""
    from pyspark_streaming_base_spark.operators.ivf import build_ivf_index, tune_nprobe

    emb = _embeddings(spark, sf_dir, "vec")
    queries = _query_vectors(emb, 8)
    idx = f"{tmp}/idx"
    build_ivf_index(emb, idx, k=16)

    def tune() -> None:
        got = tune_nprobe(spark, idx, queries, top_k=10, recall_floor=0.9)
        assert got["met"], got  # the floor is reachable on this corpus

    return [Entry("ivf_nprobe_tune", tune, once=True)]


#: The extended tier's entry table, in record order.
TIERS = (
    _pq_tier,
    _crawl_tier,
    _semdedup_tier,
    _bm25_tier,
    _containment_tier,
    _quantile_tier,
    _ivf_tune_tier,
)


def _recover_tail(tail: str) -> dict | None:
    """Rebuild a bench record from a head-truncated driver capture: the
    JSON field order is fixed, so the cut point determines the prefix."""
    for prefix in ("", '{"unit": "', '{"value": '):
        try:
            rec = json.loads(prefix + tail)
        except json.JSONDecodeError:
            continue
        if isinstance(rec, dict) and "queries" in rec:
            return rec
    return None


def _prev_record() -> dict | None:
    """The latest prior-round record next to this script, preferring the
    committed ``BENCH_DETAIL_r{N}.json`` (complete) over the driver's
    ``BENCH_r{N}.json`` capture (truncates ~2000 chars). The returned
    dict carries ``_record`` (the driver record's name) and ``_from``
    (the file actually read)."""
    here = os.path.dirname(os.path.abspath(__file__))
    # STRICT round names only: suffixed side-records like BENCH_r13_c8.json
    # are low-core scaling captures, not comparable with a full-core run
    recs = sorted(
        n for n in os.listdir(here) if re.fullmatch(r"BENCH_r\d+\.json", n)
    )
    for name in reversed(recs):
        detail = name.replace("BENCH_r", "BENCH_DETAIL_r")
        try:
            with open(os.path.join(here, detail)) as f:
                prev = json.load(f)
            if isinstance(prev, dict) and "value" in prev:
                prev["_from"] = detail
        except (OSError, json.JSONDecodeError):
            prev = None
        try:
            if not isinstance(prev, dict):
                with open(os.path.join(here, name)) as f:
                    prev = json.load(f)
        except (OSError, json.JSONDecodeError):  # pragma: no cover
            continue
        if isinstance(prev, dict) and "parsed" in prev:
            parsed = prev["parsed"]  # driver wraps the bench line in metadata
            if parsed is None and isinstance(prev.get("tail"), str):
                # the driver's record sometimes truncates the line's HEAD;
                # the missing prefix is reconstructable (fixed field order)
                parsed = _recover_tail(prev["tail"])
            prev = parsed
        if not isinstance(prev, dict):
            continue
        if "value" not in prev and isinstance(prev.get("queries"), dict):
            # value IS sum(queries) by construction above
            prev["value"] = round(sum(prev["queries"].values()), 3)
        if "value" not in prev:
            continue
        prev["_record"] = name
        return prev
    return None


if __name__ == "__main__":
    main()
