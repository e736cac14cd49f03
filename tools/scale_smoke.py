"""Scale-sanity harness: run core operator shapes on N×-replicated inputs.

The sf0.1 fixtures are single-file/single-row-group parquet, so a 1×
scan is one task no matter how many cores exist — steady-state bench
numbers at 1× measure a *serial* scan. Replicating the input path N
times gives Spark N splittable files and shows whether the plan itself
scales: near-flat wall time up to core count means the operator is
scan-parallel with O(groups) shuffles; linear growth means something is
serializing.

Usage: python tools/scale_smoke.py [replications ...]   (default: 1 4 16)
Prints one line per (query, N): rows, wall seconds.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.parquet import read_parquet
from pyspark_streaming_base_spark.queries._exact import dsum
from pyspark_streaming_base_spark.queries._tables import events_ts
from pyspark_streaming_base_spark.session import SessionFactory

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def shapes(spark, n: int):
    li = spark.read.parquet(*([f"{SF_DIR}/lineitem.parquet"] * n))
    ords = spark.read.parquet(*([f"{SF_DIR}/orders.parquet"] * n))
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")

    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity")).alias("sq"), dsum(disc).alias("sd"),
             F.count(F.lit(1)).alias("c"))
    )
    join_agg = (
        ords.join(F.broadcast(cust), ords["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(dsum(F.col("o_totalprice")).alias("rev"), F.count(F.lit(1)).alias("n"))
    )
    win = li.select(
        "l_suppkey",
        F.row_number()
        .over(W.partitionBy("l_suppkey").orderBy("l_shipdate", "l_orderkey", "l_linenumber"))
        .alias("rn"),
    ).filter(F.col("rn") <= 3)

    # two-pass prefix sum (q59's shape): bounded (key, bucket) cumsum +
    # broadcast carry-in — the pattern that replaces low-cardinality-key
    # windows. Uses orders so the stream has real volume; bucket width
    # keeps partitions bounded as N grows. (Dedup/SimHash shapes are NOT
    # smoked here: replicating identical rows multiplies candidate pairs
    # quadratically — a different workload, not a scale-up.)
    o = ords.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").alias("v"),
        F.floor(F.col("o_orderkey") / 4096).cast("bigint").alias("bucket"),
    )
    w_local = (
        W.partitionBy("o_orderpriority", "bucket")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = o.withColumn("cum", F.sum("v").over(w_local)).persist()
    totals = local.groupBy("o_orderpriority", "bucket").agg(F.max("cum").alias("bt"))
    w_carry = (
        W.partitionBy("o_orderpriority").orderBy("bucket").rowsBetween(W.unboundedPreceding, -1)
    )
    carry = totals.select(
        "o_orderpriority", "bucket",
        F.coalesce(F.sum("bt").over(w_carry), F.lit(0.0)).alias("carry"),
    )
    prefix = local.join(F.broadcast(carry), ["o_orderpriority", "bucket"]).select(
        "o_orderkey", (F.col("carry") + F.col("cum")).alias("running")
    )
    # q107's shape: window-hash explode → hash-keyed aggregate → join-back
    # on the same key. O(total windows); replication multiplies windows
    # linearly (every replica-window becomes cross-doc duplicated, which
    # only changes the dup-flag ratio, not the plan).
    docs = spark.read.parquet(*([f"{SF_DIR}/documents.parquet"] * n))
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")

    def span_dedup_shape(doc_frame):
        # q107's r5 JOIN-FREE formulation: hash-keyed agg attributes
        # unique windows to their one owning doc, so per-doc dup counts
        # need no join back to the window multiset — hot hashes are
        # absorbed by map-side partial aggregation (the join-back
        # alternative concentrates them in single join partitions AQE
        # cannot split; see queries/dedup.py::q107 and test_aqe_skew.py).
        d = doc_frame.select("doc_id", toks.alias("tk")).filter(F.size("tk") >= 16)
        wins = d.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 15),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("tk"), i, 16))),
                )
            ).alias("h"),
        )
        per_h = wins.groupBy("h").agg(
            F.min("doc_id").alias("d0"),
            F.max("doc_id").alias("d1"),
            F.count(F.lit(1)).alias("c"),
        )
        uniq = (
            per_h.filter(F.col("d0") == F.col("d1"))
            .groupBy(F.col("d0").alias("doc_id"))
            .agg(F.sum("c").alias("n_uniq"))
        )
        totals = wins.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nw"))
        return totals.join(uniq, "doc_id", "left").select(
            "doc_id",
            "nw",
            (F.col("nw") - F.coalesce(F.col("n_uniq"), F.lit(0))).alias("nd"),
        )

    span_dedup = span_dedup_shape(docs)
    # the same shape on a BOILERPLATE-HEAVY corpus: 30% of docs share one
    # fixed text, so ~25 window-hash keys go 0.3·corpus hot — the real
    # shape of web-scraped training data (uniform smoke inputs hide
    # this). The hot keys land in the hash-keyed AGGREGATE, which
    # partial-combines map-side — wall time should track linear input
    # growth, not the hot keys' concentration.
    boiler = " ".join(f"tok{i % 7}" for i in range(40))
    docs_sk = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 10 < 3, F.lit(boiler)).otherwise(F.col("text")),
    )
    span_dedup_skewed = span_dedup_shape(docs_sk)

    # q113's shape: chained conditional-min windows on ONE partition spec —
    # must stay a single exchange however many events flow through it.
    # events.ts encoding drifts round-to-round (TIMESTAMP(NANOS) vs NTZ
    # micros) — read and normalize it the way queries/_tables.t() does so
    # the smoke survives either fixture encoding.
    ev = events_ts(read_parquet(spark, *([f"{SF_DIR}/events.parquet"] * n)))
    ev = ev.select("user_id", "ts", "event_type")
    wu = W.partitionBy("user_id")
    f1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(wu)
    )
    f2 = f1.withColumn(
        "t2",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
        ).over(wu),
    )
    funnel = f2.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2")
    )

    # q116's sketch branch: equi-depth histogram with the gate forced to
    # the approx_percentile path (threshold 0 — every event_type is
    # "hot"). The exact branch would single-partition-sort each key and
    # grow linearly with N; the sketch is a map-side-mergeable aggregate
    # and should stay near-flat.
    from pyspark_streaming_base_spark.operators.histogram import (
        equidepth_histogram,
    )

    ev_h = read_parquet(spark, *([f"{SF_DIR}/events.parquet"] * n)).select(
        "event_type", "value", "event_id"
    )
    hist_sketch = equidepth_histogram(
        ev_h, "event_type", "value", tie_col="event_id", exact_threshold=0
    )

    # q125's gated machinery on the WORST-CASE skew: every vector in ONE
    # cluster (the near-identical-mass pathology the r5 verdict flagged),
    # with the member threshold forced low so the LSH sub-bucket and
    # exact-dup-collapse tiers engage. Ungated, the pair space is
    # C(2000·n, 2) — 512M pairs at n=16; gated it is ≤ (threshold/2+1)·n
    # rows, so wall time should grow near-LINEARLY with n, not
    # quadratically. (Replicas are identical vectors → exact-dup groups
    # absorb them, the designed behavior for boilerplate embeddings.)
    from pyspark_streaming_base_spark.functions.vectorops import dvec
    from pyspark_streaming_base_spark.operators.semdedup import semdedup_removed

    emb_n = spark.read.parquet(*([f"{SF_DIR}/embeddings.parquet"] * n))
    hot = emb_n.select(
        F.monotonically_increasing_id().alias("vec_id"),
        F.lit(0).alias("cid"),
        dvec("embedding").alias("v"),
    )
    semdedup_hot = semdedup_removed(hot, tau=0.35, exact_threshold=500)

    return {
        "agg": agg,
        "broadcast_join_agg": join_agg,
        "window_topk": win,
        "two_pass_prefix_sum": prefix,
        "span_dedup": span_dedup,
        "span_dedup_skewed": span_dedup_skewed,
        "chained_funnel_windows": funnel,
        "equidepth_sketch": hist_sketch,
        "semdedup_hot_cluster": semdedup_hot,
    }


def _crawl_corpus(spark, n: int):
    """n× document corpus for the DEDUP crawl smoke: replica i shifts
    doc_ids and suffixes every token with ``_r{i}``, so replicas share NO
    word 3-shingles — candidate pairs and components grow LINEARLY with
    n (each replica reproduces the original corpus's internal pair
    structure). Plain row replication would make every replica a
    near-dup of every other and grow pairs quadratically — a workload
    change, not a scale-up (same caveat as the header note)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    parts = []
    for i in range(n):
        if i == 0:
            parts.append(docs)
        else:
            toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            parts.append(
                docs.select(
                    (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                    F.concat_ws(
                        " ",
                        F.transform(toks, lambda x: F.concat(x, F.lit(f"_r{i}"))),
                    ).alias("text"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _band_pairs(sig):
    from pyspark_streaming_base_spark.operators.minhash import index_band_pairs

    return index_band_pairs(sig)


def crawl_smoke(spark, reps) -> None:
    """Incremental crawl loop vs the from-scratch recompute it replaces,
    as the corpus grows and the daily batch stays FIXED (the real
    deployment shape: yesterday's corpus is n×, today's crawl is not).

    crawl_rebuild: re-materialize the full signature index, band
    self-join for candidate pairs, relabel every component — O(corpus);
    should grow with n. crawl_incremental: append the batch signatures,
    probe the index (broadcast batch side — the corpus-sized index
    streams through its own join), merge_components into the persisted
    canonical table — O(batch); should stay near-flat, crossing below
    the rebuild as n grows (at 1× the 5k-doc fixture is fixed-cost
    dominated and the comparison is a wash — that is WHY this lives in
    the growth smoke and not in bench.py's fixed-scale tiers).
    Yesterday's state (index + canonicals) is amortized prior work,
    built outside the timers; per-run index copies keep appends from
    compounding.

    The pre-timer copy is rotated behind a generation pointer via
    ``swap_in`` (a fresh build writes a plain directory; only a swap
    creates the pointer layout), so the timed append/probe resolve the
    pointer file on every touch, matching the lifecycle test suites'
    coverage at growth scale."""
    import shutil
    import tempfile

    from pyspark_streaming_base_spark.operators.tombstones import (
        read_live,
        swap_in,
    )
    from pyspark_streaming_base_spark.operators.components import (
        connected_components,
        merge_components,
    )
    from pyspark_streaming_base_spark.operators.minhash import (
        append_minhash_index,
        build_minhash_index,
        query_minhash_index,
    )

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    batch = base.select(
        (F.col("doc_id") + 900_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.transform(toks, lambda x: F.concat(x, F.lit("_day")))
        ).alias("text"),
    )
    for n in reps:
        corpus = _crawl_corpus(spark, n)
        root = tempfile.mkdtemp(prefix="crawl_smoke_")
        try:
            idx = f"{root}/idx"
            build_minhash_index(corpus, idx)
            canon = f"{root}/canon"
            connected_components(
                _band_pairs(spark.read.parquet(idx))
            ).write.parquet(canon)

            run_idx = f"{root}/idx_inc"
            swap_in(run_idx, spark.read.parquet(idx))
            before = read_live(spark, run_idx).count()
            t0 = time.perf_counter()
            append_minhash_index(batch, run_idx)
            edges = query_minhash_index(spark, run_idx, batch).select(
                F.col("query_id").alias("src"), F.col("index_id").alias("dst")
            )
            merge_components(spark.read.parquet(canon), edges).write.format(
                "noop"
            ).mode("overwrite").save()
            dt_inc = time.perf_counter() - t0
            # O(batch) append, structurally: the rows the append added are
            # exactly the batch's own signatures — INDEPENDENT of n (the
            # timing evidence is ambient-noise-prone; this is not)
            from pyspark_streaming_base_spark.operators.minhash import minhash_bands

            added = read_live(spark, run_idx).count() - before
            expect = minhash_bands(batch).count()
            assert added == expect, (n, added, expect)

            t0 = time.perf_counter()
            full_idx = f"{root}/idx_full"
            build_minhash_index(corpus.unionByName(batch), full_idx)
            connected_components(
                _band_pairs(spark.read.parquet(full_idx))
            ).write.format("noop").mode("overwrite").save()
            dt_reb = time.perf_counter() - t0
            print(f"{'crawl_incremental':>30}  x{n:<3} {dt_inc:7.3f}s")
            print(f"{'crawl_rebuild':>30}  x{n:<3} {dt_reb:7.3f}s")
        finally:
            shutil.rmtree(root, ignore_errors=True)


#: selectable smoke families (CLI: non-integer args pick a subset)
FAMILIES = (
    "shapes",
    "statettl",
    "crawl",
    "bloom",
    "semdedup",
    "containment",
    "bm25",
    "ivf",
    "pagerank",
    "quantiles",
    "hotsource",
)


def hotsource_smoke(spark, reps) -> None:
    """r12 verdict item 4: the per-source bucketed prefix sum (q192's
    machinery, queries/text.py q192_packing_boundary_audit) under a
    99%-HOT-SOURCE skew — one feed holding 99% of all documents, the
    adversarial case the 256 hash-prefix buckets exist for. A
    source-partitioned corpus-length window would serialize that feed
    through ONE task; the bucketed two-pass fans it across
    256 (source, bucket) groups BY CONSTRUCTION, which this smoke
    asserts two ways:

    * structurally — the largest (source, bucket) local-cumsum group is
      ~hot_rows/256, never the whole hot source (hard assert at 4× the
      uniform share, and a second assert that it is under 2% of the hot
      feed);
    * by growth — wall time printed at each replication for the
      SCALE.md table (the shape is one scan + bounded windows + a
      broadcast carry, so growth should track the scan, not the skew).

    The corpus is synthetic (source/doc_id/nt direct, no tokenizer) so
    the smoke isolates the prefix-sum machinery the verdict asked
    about; nt is xxhash64-derived, seedless and rerun-stable.
    """
    print("-- hotsource: q192 per-source prefix sum, 99% one-feed skew --")
    for n in reps:
        rows = 200_000 * n
        d = spark.range(rows).select(
            F.when(F.col("id") % 100 < 99, F.lit("hot"))
            .otherwise(
                F.concat(F.lit("cold_"), (F.col("id") % 9).cast("string"))
            )
            .alias("source"),
            F.col("id").alias("doc_id"),
            (F.pmod(F.xxhash64(F.col("id")), F.lit(400)) + 1)
            .cast("bigint")
            .alias("nt"),
        )
        hk = F.md5(F.col("doc_id").cast("string")).substr(1, 16)
        base = d.select(
            "source",
            "doc_id",
            "nt",
            hk.alias("hk"),
            F.conv(hk.substr(1, 2), 16, 10).cast("bigint").alias("bucket"),
        )
        w_local = (
            W.partitionBy("source", "bucket")
            .orderBy("hk", "doc_id")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        local = base.withColumn("local_cum", F.sum("nt").over(w_local)).persist()
        totals = local.groupBy("source", "bucket").agg(
            F.max("local_cum").alias("bt")
        )
        w_carry = (
            W.partitionBy("source").orderBy("bucket").rowsBetween(
                W.unboundedPreceding, -1
            )
        )
        carry = totals.select(
            "source",
            "bucket",
            F.coalesce(F.sum("bt").over(w_carry), F.lit(0))
            .cast("bigint")
            .alias("carry_in"),
        )
        cum = local.join(F.broadcast(carry), ["source", "bucket"]).select(
            "source",
            "nt",
            (F.col("carry_in") + F.col("local_cum") - F.col("nt"))
            .cast("bigint")
            .alias("cum_before"),
        )
        grid = spark.createDataFrame([(512,), (2048,), (8192,)], "win bigint")
        j = cum.crossJoin(F.broadcast(grid))
        spans = F.expr("(cum_before + nt - 1) div win > cum_before div win")
        agg = j.groupBy("source", "win").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(spans, 1)).alias("n_spanning"),
        )
        t0 = time.perf_counter()
        out = agg.collect()
        dt = time.perf_counter() - t0
        # structural skew check: the hot feed fans across the buckets
        hot_rows = next(
            r.n_docs for r in out if r.source == "hot" and r.win == 512
        )
        mx = (
            local.filter(F.col("source") == "hot")
            .groupBy("bucket")
            .count()
            .agg(F.max("count").alias("mx"), F.count(F.lit(1)).alias("nb"))
            .collect()[0]
        )
        local.unpersist()
        assert mx.nb == 256, f"expected 256 buckets, got {mx.nb}"
        assert mx.mx <= 4 * hot_rows / 256, (
            f"hot-source bucket skew: max group {mx.mx} vs uniform share "
            f"{hot_rows / 256:.0f}"
        )
        assert mx.mx < 0.02 * hot_rows, "one group holds >=2% of the hot feed"
        print(
            f"{'hot_prefix_sum':>20}  x{n:<3} {dt:7.3f}s  rows={rows:>9,} "
            f"hot={hot_rows:,} max_group={mx.mx} (uniform {hot_rows // 256})"
        )


def main() -> None:
    reps = [int(a) for a in sys.argv[1:] if a.isdigit()] or [1, 4, 16]
    picked = [a for a in sys.argv[1:] if not a.isdigit()]
    unknown = [a for a in picked if a not in FAMILIES]
    if unknown:
        raise SystemExit(f"unknown smoke families {unknown}; choose from {FAMILIES}")
    run = set(picked or FAMILIES)
    spark = SessionFactory.local(app_name="scale-smoke")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    if "shapes" in run:
        for n in reps:
            for name, df in shapes(spark, n).items():
                df.write.format("noop").mode("overwrite").save()  # warm codegen
                spark.catalog.clearCache()  # re-materialize persisted stages cold
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                print(f"{name:>20}  x{n:<3} {dt:7.3f}s")
                # drop cached pass-1 data so replications don't stack heap
                spark.catalog.clearCache()
    if "crawl" in run:
        crawl_smoke(spark, reps)
    if "bloom" in run:
        bloom_smoke(spark, reps)
    if "semdedup" in run:
        semdedup_smoke(spark, reps)
    if "containment" in run:
        containment_smoke(spark, reps)
    if "bm25" in run:
        bm25_smoke(spark, reps)
    if "ivf" in run:
        ivf_smoke(spark, reps)
    if "pagerank" in run:
        pagerank_smoke(spark, reps)
    if "quantiles" in run:
        quantiles_smoke(spark, reps)
    if "hotsource" in run:
        hotsource_smoke(spark, reps)
    if "statettl" in run:
        statettl_smoke(spark, reps)


def semdedup_smoke(spark, reps) -> None:
    """merge_semdedup_removed is O(batch-touched cells), not O(corpus) —
    the growth evidence bench.py cannot give (its fixture k=8 means every
    cell is batch-touched, so the bench entry prices the from-scratch
    floor; `operators/semdedup.py:355` documents exactly that gap).

    Here k scales WITH the corpus, the SemDeDup deployment convention
    (k ≈ n / cluster budget): replica i of the embedding corpus carries
    IDENTICAL vectors under offset vec_ids, and the index's assignment
    table maps it to its own offset copy of the base k=8 cells — so at
    n× the index has 8n cells with bit-identical per-cell geometry (a
    vector transform can't do this: a constant shift preserves L2 but
    collapses COSINE, which the dedup policy scores — measured removals
    exploded 808 → 30688 instead of n×808 before this was caught). The
    FIXED daily batch (every 25th base vector, un-offset) assigns under
    the base centroids into replica-0's 8 cells — a 1/n minority.

    semdedup_merge: fold the batch into the maintained removal set
    (append assignments + merge) — recomputes the ~8 touched cells only,
    should stay near-flat in n. semdedup_fromscratch: the run it
    replaces — the full dedup policy over the SAME post-append index
    (`semdedup_removed_from_index` on the union) — recomputes all 8n
    cells, should grow ~linearly. Prior state (centroids, assignments,
    removal set) is amortized outside the timers, as in crawl_smoke.
    """
    import shutil
    import tempfile

    from pyspark_streaming_base_spark.functions.vectorops import dvec
    from pyspark_streaming_base_spark.operators.semdedup import (
        append_semdedup_index,
        assign_to_centroids,
        merge_semdedup_removed,
        semdedup_removed_from_index,
    )
    from pyspark_streaming_base_spark.queries.pipeline import kmeans_centroids

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", dvec("embedding").alias("v")
    )
    cent = kmeans_centroids(spark, SF_DIR).localCheckpoint(eager=True)
    a0 = assign_to_centroids(base, cent).select("vec_id", "cid").localCheckpoint(
        eager=True
    )
    batch = base.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 900_000_000).alias("vec_id"), "v"
    )
    tau = 0.35  # q125's calibration for this fixture

    def offset(df, cols, i):
        return df.select(
            *[(F.col(c) + i * 10_000_000).alias(c) if c in cols else F.col(c) for c in df.columns]
        )

    for n in reps:
        corpus, assigns = base, a0
        for i in range(1, n):
            corpus = corpus.unionByName(offset(base, {"vec_id"}, i))
            assigns = assigns.unionByName(offset(a0, {"vec_id", "cid"}, i))
        union = corpus.unionByName(batch)
        root = tempfile.mkdtemp(prefix="semdedup_smoke_")
        try:
            # materialize the replicated state OUTSIDE the timers — the
            # n-way union is corpus synthesis, not policy work, and
            # re-evaluating it inside a timed join would charge it to
            # whichever path references `emb` more often
            union.write.parquet(f"{root}/emb")
            emb_mat = spark.read.parquet(f"{root}/emb")
            corpus_mat = emb_mat.filter(F.col("vec_id") < 900_000_000)
            idx = f"{root}/idx"
            cent.select("cid", "cv").write.parquet(f"{idx}/centroids")
            assigns.write.parquet(f"{idx}/assignments")
            prior = f"{root}/removed"
            semdedup_removed_from_index(spark, idx, corpus_mat, tau).write.parquet(
                prior
            )
            append_semdedup_index(spark, idx, batch)  # post-append state

            t0 = time.perf_counter()
            merge_semdedup_removed(
                spark, idx, emb_mat, batch, spark.read.parquet(prior), tau
            ).write.format("noop").mode("overwrite").save()
            dt_merge = time.perf_counter() - t0

            t0 = time.perf_counter()
            semdedup_removed_from_index(spark, idx, emb_mat, tau).write.format(
                "noop"
            ).mode("overwrite").save()
            dt_full = time.perf_counter() - t0
            print(f"{'semdedup_merge':>20}  x{n:<3} {dt_merge:7.3f}s  (cells=8n, batch touches 8)")
            print(f"{'semdedup_fromscratch':>20}  x{n:<3} {dt_full:7.3f}s")
        finally:
            shutil.rmtree(root, ignore_errors=True)




def bloom_smoke(spark, reps) -> None:
    """Bloom-prefilter evidence (q139's 100 TB claim): with a small FIXED
    benchmark side (10 docs — the realistic decontamination shape), the
    broadcast bloom should kill the vast majority of corpus shingles
    MAP-SIDE, so the exact-verify semi join only ever shuffles the
    bloom-positive sliver. Prints, per replication: probed shingle rows,
    bloom survivors (the prune ratio is the claim), and the wall time of
    the exact path vs the bloom-prefiltered path — equal answers by
    construction (asserted)."""
    from pyspark_streaming_base_spark.functions.textops import word_shingles
    from pyspark_streaming_base_spark.operators.bloom import (
        bloom_maybe_contains,
        build_bloom,
    )

    docs1 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = (
        docs1.filter(F.col("doc_id") < 10)
        .select(F.explode(word_shingles(F.col("text"))).alias("sh"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    bloom = build_bloom(bench, "sh").localCheckpoint(eager=True)
    print("bloom_smoke: benchmark shingles =", bench.count())
    for n in reps:
        corpus = spark.read.parquet(*([f"{SF_DIR}/documents.parquet"] * n))
        tr = corpus.select(
            "doc_id", F.explode(word_shingles(F.col("text"))).alias("sh")
        )
        probed = tr.count()
        survivors = bloom_maybe_contains(tr, "sh", bloom).count()

        exact = tr.join(bench, "sh", "left_semi").select("doc_id").distinct()
        pre = (
            bloom_maybe_contains(tr, "sh", bloom)
            .join(bench, "sh", "left_semi")
            .select("doc_id")
            .distinct()
        )
        for df in (exact, pre):  # warm codegen
            df.write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        exact.write.format("noop").mode("overwrite").save()
        t_exact = time.perf_counter() - t0
        t0 = time.perf_counter()
        pre.write.format("noop").mode("overwrite").save()
        t_pre = time.perf_counter() - t0
        ne, np_ = exact.count(), pre.count()
        assert ne == np_, (ne, np_)  # bloom+verify == exact, always
        print(
            f"bloom_smoke x{n:<3} probed={probed:>9} survivors={survivors:>7}"
            f" ({100.0 * survivors / probed:5.2f}%)  exact={t_exact:6.3f}s"
            f"  bloom={t_pre:6.3f}s  hit_docs={ne}"
        )


def containment_smoke(spark, reps) -> None:
    """Containment crawl (r9, `operators/containment.py`) vs the
    re-shingle-everything rebuild it replaces, corpus n× / batch FIXED
    (the crawl_smoke shape). containment_incremental: append the batch
    (shingle the batch only) + probe the persisted index — the batch
    prefix side broadcasts, so the corpus-sized postings stream through
    their own scan with NO corpus shuffle; wall grows with the postings
    SCAN only. containment_rebuild: rebuild the index over the union
    (re-shingle + rewrite the corpus) + the same probe — O(corpus)
    write amplification every crawl. The gap is the index's reason to
    exist; the probe's candidate exchange stays O(batch-candidates) at
    every n."""
    import shutil
    import tempfile

    from pyspark_streaming_base_spark.operators.containment import (
        append_containment_index,
        build_containment_index,
        query_containment_index,
    )

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    batch = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 900_000_000).alias("doc_id"),
        "lang",
        F.concat_ws(
            " ", F.transform(toks, lambda x: F.concat(x, F.lit("_day")))
        ).alias("text"),
    )
    for n in reps:
        # like _crawl_corpus (shifted ids, replica-suffixed tokens so
        # replicas share no shingles) but carrying lang for the blocking
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "lang", "text"
        )
        parts = [docs]
        for i in range(1, n):
            t2 = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
            parts.append(
                docs.select(
                    (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
                    "lang",
                    F.concat_ws(
                        " ",
                        F.transform(t2, lambda x: F.concat(x, F.lit(f"_r{i}"))),
                    ).alias("text"),
                )
            )
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionByName(p)

        root = tempfile.mkdtemp(prefix="cont_smoke_")
        try:
            idx = f"{root}/idx"
            build_containment_index(corpus, idx)

            run_idx = f"{root}/idx_inc"
            shutil.copytree(idx, run_idx)
            from pyspark_streaming_base_spark.operators.containment import (
                shingle_sets,
            )
            from pyspark_streaming_base_spark.operators.tombstones import read_live

            before = read_live(spark, f"{run_idx}/sets").count()
            t0 = time.perf_counter()
            append_containment_index(batch, run_idx)
            query_containment_index(spark, run_idx, batch).write.format(
                "noop"
            ).mode("overwrite").save()
            dt_inc = time.perf_counter() - t0
            # structural O(batch): the append added exactly the batch's own
            # shingle-set rows, independent of corpus size n
            added = read_live(spark, f"{run_idx}/sets").count() - before
            expect = shingle_sets(batch).count()
            assert added == expect, (n, added, expect)

            t0 = time.perf_counter()
            full_idx = f"{root}/idx_full"
            build_containment_index(corpus.unionByName(batch), full_idx)
            query_containment_index(spark, full_idx, batch).write.format(
                "noop"
            ).mode("overwrite").save()
            dt_reb = time.perf_counter() - t0
            print(f"{'containment_incremental':>24}  x{n:<3} {dt_inc:7.3f}s")
            print(f"{'containment_rebuild':>24}  x{n:<3} {dt_reb:7.3f}s")
        finally:
            shutil.rmtree(root, ignore_errors=True)


def bm25_smoke(spark, reps) -> None:
    """BM25 lexical-index growth evidence, SPLIT into the three costs a
    deployment actually pays (r9 verdict task: per-family build/append/
    probe numbers): corpus n× token-salted (replicas share no terms, so
    the vocabulary grows linearly — the real crawl shape), daily batch
    FIXED. bm25_build re-tokenizes and rewrites the whole corpus —
    O(corpus), grows with n; bm25_append folds the fixed batch —
    O(batch), near-flat, with the structural assertion that the rows it
    wrote are exactly the batch's own postings/doclens regardless of n;
    bm25_probe scores a fixed 8-term query through the persisted index —
    its only corpus-proportional cost is the term-pushed postings scan
    (probes never re-tokenize; `operators/bm25.py::query_bm25_index`)."""
    import shutil
    import tempfile

    from pyspark_streaming_base_spark.operators.bm25 import (
        append_bm25_index,
        bm25_doclens,
        bm25_postings,
        build_bm25_index,
        query_bm25_index,
    )
    from pyspark_streaming_base_spark.operators.tombstones import read_live

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    batch = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 900_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.transform(toks, lambda x: F.concat(x, F.lit("_day")))
        ).alias("text"),
    )
    for n in reps:
        corpus = _crawl_corpus(spark, n)
        root = tempfile.mkdtemp(prefix="bm25_smoke_")
        try:
            idx = f"{root}/idx"
            build_bm25_index(corpus, idx)  # prior state, amortized
            # probe terms: the 8 highest-df REPLICA-0 terms (deterministic,
            # tie-broken on the term string; replica-0 terms exist at every
            # n so the probe's work is comparable across rows)
            terms = [
                r["term"]
                for r in read_live(spark, f"{idx}/postings")
                .filter(~F.col("term").contains("_r") & ~F.col("term").contains("_day"))
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"))
                .orderBy(F.col("df").desc(), "term")
                .limit(8)
                .collect()
            ]

            run_idx = f"{root}/idx_inc"
            shutil.copytree(idx, run_idx)
            p0 = read_live(spark, f"{run_idx}/postings").count()
            d0 = read_live(spark, f"{run_idx}/doclens").count()
            t0 = time.perf_counter()
            append_bm25_index(batch, run_idx)
            dt_app = time.perf_counter() - t0
            # structural O(batch): rows written == the batch's own rows
            p_add = read_live(spark, f"{run_idx}/postings").count() - p0
            d_add = read_live(spark, f"{run_idx}/doclens").count() - d0
            assert p_add == bm25_postings(batch).count(), (n, p_add)
            assert d_add == bm25_doclens(batch).count(), (n, d_add)

            probe = query_bm25_index(spark, run_idx, terms, top_k=20)
            probe.write.format("noop").mode("overwrite").save()  # warm codegen
            t0 = time.perf_counter()
            probe.write.format("noop").mode("overwrite").save()
            dt_probe = time.perf_counter() - t0

            t0 = time.perf_counter()
            build_bm25_index(corpus.unionByName(batch), f"{root}/idx_full")
            dt_build = time.perf_counter() - t0
            print(f"{'bm25_build':>20}  x{n:<3} {dt_build:7.3f}s  (rebuild over union)")
            print(f"{'bm25_append':>20}  x{n:<3} {dt_app:7.3f}s  (fixed batch)")
            print(f"{'bm25_probe':>20}  x{n:<3} {dt_probe:7.3f}s  (8-term top-20)")
        finally:
            shutil.rmtree(root, ignore_errors=True)




def ivf_smoke(spark, reps) -> None:
    """IVF index growth — the last index family without a growth row
    (minhash/bm25/semdedup/containment all have one): corpus n× via
    offset vec_ids (identical vectors under new ids — the quantizer is
    FROZEN so replicas land in the same cells and per-cell geometry is
    preserved), daily batch FIXED (every 25th base vector, re-offset).
    ivf_build rebuilds centroids+assignments over the union — O(corpus);
    ivf_append assigns the batch under the frozen quantizer — O(batch),
    with the structural assertion (rows appended == batch size at every
    n); ivf_probe runs a fixed 8-query nprobe=4 top-10 batch through the
    persisted index — its corpus term is the probed cells' scan."""
    import shutil
    import tempfile

    from pyspark_streaming_base_spark.functions.vectorops import dvec
    from pyspark_streaming_base_spark.operators.ivf import (
        append_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )
    from pyspark_streaming_base_spark.operators.tombstones import read_live

    base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", dvec("embedding").alias("vec")
    )
    batch = base.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 900_000_000).alias("vec_id"), "vec"
    )
    queries = base.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    for n in reps:
        corpus = base
        for i in range(1, n):
            corpus = corpus.unionByName(
                base.select(
                    (F.col("vec_id") + i * 10_000_000).alias("vec_id"), "vec"
                )
            )
        root = tempfile.mkdtemp(prefix="ivf_smoke_")
        try:
            idx = f"{root}/idx"
            build_ivf_index(corpus, idx, k=16)  # prior state, amortized

            run_idx = f"{root}/idx_inc"
            shutil.copytree(idx, run_idx)
            before = read_live(spark, f"{run_idx}/assignments").count()
            t0 = time.perf_counter()
            append_ivf_index(spark, run_idx, batch)
            dt_app = time.perf_counter() - t0
            added = read_live(spark, f"{run_idx}/assignments").count() - before
            expect = batch.count()
            assert added == expect, (n, added, expect)

            probe = query_ivf_index(spark, run_idx, queries, nprobe=4, top_k=10)
            probe.write.format("noop").mode("overwrite").save()  # warm
            t0 = time.perf_counter()
            probe.write.format("noop").mode("overwrite").save()
            dt_probe = time.perf_counter() - t0

            t0 = time.perf_counter()
            build_ivf_index(corpus.unionByName(batch), f"{root}/idx_full", k=16)
            dt_build = time.perf_counter() - t0
            print(f"{'ivf_build':>20}  x{n:<3} {dt_build:7.3f}s  (rebuild over union)")
            print(f"{'ivf_append':>20}  x{n:<3} {dt_app:7.3f}s  (fixed batch)")
            print(f"{'ivf_probe':>20}  x{n:<3} {dt_probe:7.3f}s  (8q nprobe=4 top-10)")
        finally:
            shutil.rmtree(root, ignore_errors=True)


def pagerank_smoke(spark, reps) -> None:
    """Warm-start PageRank maintenance (`merge_pagerank`) vs a cold
    converged run on the union graph — the r11 verdict question "does
    warm-start pay?". Graph n× via offset node ids (disjoint copies:
    identical spectrum, so ROUND counts stay scale-independent while
    per-round O(E) wall grows — exactly the split the operator
    docstring claims). Daily batch FIXED: every 50th customer gains an
    edge to a new node. The smoke stops at step ≤ 1000 grid units
    (≈10⁻⁹ — the q103 output grid; tests pin the tight-grid equality),
    prints rounds + wall for warm vs cold, and asserts the two rank
    vectors agree within the documented start-independence band."""
    from pyspark_streaming_base_spark.operators.pagerank import (
        GRID,
        merge_pagerank,
        pagerank_converged,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey"
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    cs0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1_000_000).alias("dst"),
        )
        .distinct()
    )
    stop_units = 1000  # ≈1e-9 tolerance; band = (2·su+1)/GRID/(1−d)
    band = (2 * stop_units + 1) / GRID / 0.15
    for n in reps:
        cs = cs0
        for i in range(1, n):
            off = i * 10_000_000
            cs = cs.unionByName(
                cs0.select(
                    (F.col("src") + off).alias("src"),
                    (F.col("dst") + off).alias("dst"),
                )
            )
        base = cs.unionByName(
            cs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).localCheckpoint(eager=True)
        nb = cs.filter(F.col("src") % 50 == 0).select(
            "src", (F.col("src") + 5_000_000).alias("dst")
        )
        batch = nb.unionByName(
            nb.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        union = base.unionByName(batch).localCheckpoint(eager=True)

        prior, _ = pagerank_converged(base, stop_units=stop_units)  # amortized
        t0 = time.perf_counter()
        cold, rounds_c = pagerank_converged(union, stop_units=stop_units)
        dt_cold = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm, rounds_w = merge_pagerank(
            union, prior, new_edges=batch, stop_units=stop_units
        )
        dt_warm = time.perf_counter() - t0

        worst = (
            warm.join(
                cold.select("node", F.col("r").alias("rc")), "node"
            )
            .agg(F.max(F.abs(F.col("r") - F.col("rc"))).alias("d"))
            .collect()[0]["d"]
        )
        assert worst is not None and worst <= band, (n, worst, band)
        print(
            f"{'pagerank_cold':>20}  x{n:<3} {dt_cold:7.3f}s  "
            f"({rounds_c} rounds)"
        )
        print(
            f"{'pagerank_warm':>20}  x{n:<3} {dt_warm:7.3f}s  "
            f"({rounds_w} rounds, max|Δ| {worst:.2e})"
        )


def quantiles_smoke(spark, reps) -> None:
    """Mergeable quantile lifecycle growth (`operators/quantiles.py`):
    prior state built over an n×-keyed corpus (key suffixes replicate
    the (key, value) DOMAIN — the state's true size driver — while the
    day-lag value domain stays calendar-bounded), daily batch FIXED.
    quantile_fold must stay O(batch): the structural assertion pins the
    appended rows to the batch's own distinct (key, value) pairs at
    every n; quantile_report grows with the state's domain rows, never
    the folded row count; rebuild re-aggregates the union — O(corpus).
    """
    import shutil
    import tempfile

    from pyspark_streaming_base_spark.operators.quantiles import (
        build_value_histogram,
        merge_value_histogram,
        sla_report,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", F.to_date("l_shipdate").alias("sd")
    )
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("od"),
    )
    j0 = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "priority", F.datediff("sd", "od").cast("bigint").alias("lag")
    )
    batch = j0.filter(F.col("lag") % 20 == 0)
    for n in reps:
        j = j0
        for i in range(1, n):
            j = j.unionByName(
                j0.select(
                    F.concat(F.col("priority"), F.lit(f"#rep{i}")).alias(
                        "priority"
                    ),
                    "lag",
                )
            )
        root = tempfile.mkdtemp(prefix="quant_smoke_")
        try:
            base = f"{root}/base"
            build_value_histogram(
                spark, base, j.filter(F.col("lag") % 20 != 0),
                "priority", "lag",
            )
            before = spark.read.parquet(f"{base}/counts").count()
            t0 = time.perf_counter()
            merge_value_histogram(spark, base, batch, "priority", "lag")
            dt_fold = time.perf_counter() - t0
            added = spark.read.parquet(f"{base}/counts").count() - before
            expect = batch.select("priority", "lag").distinct().count()
            assert added == expect, (n, added, expect)

            t0 = time.perf_counter()
            sla_report(spark, base, ps=(0.5, 0.9)).write.format("noop").mode(
                "overwrite"
            ).save()
            dt_read = time.perf_counter() - t0

            t0 = time.perf_counter()
            full = f"{root}/full"
            build_value_histogram(
                spark, full, j.unionByName(batch), "priority", "lag"
            )
            dt_reb = time.perf_counter() - t0
            print(f"{'quantile_fold':>20}  x{n:<3} {dt_fold:7.3f}s  (fixed batch)")
            print(f"{'quantile_report':>20}  x{n:<3} {dt_read:7.3f}s")
            print(f"{'quantile_rebuild':>20}  x{n:<3} {dt_reb:7.3f}s  (union)")
        finally:
            shutil.rmtree(root, ignore_errors=True)




def statettl_smoke(spark, reps) -> None:
    """MEASURED state-cardinality bound for the r13 event-time idle TTL
    (ewma_stream — the same knob transition_stream/_buffered carry):
    B=5 micro-batches of U brand-new transient users each, event time
    advancing one hour per batch (ttl = 10 min, delay = 1 min), so by
    the time batch b processes, every user from batches <= b-1 has
    timed out. The no-TTL control holds users-ever-seen = B*U state
    rows at drain end; the TTL run holds only the LAST batch's U (the
    one cohort whose eviction no later batch has yet triggered). Rows
    come from the query's own recentProgress stateOperators metrics —
    the state store's count, not an inference."""
    import datetime
    import shutil
    import tempfile

    from pyspark_streaming_base_spark.streaming.stateful import (
        ewma_stream,
        transition_stream_buffered,
    )

    full_schema = (
        "ts timestamp, event_id long, user_id long, value double, "
        "event_type string"
    )
    ewma_schema = "ts timestamp, event_id long, user_id long, value double"
    trans_schema = "ts timestamp, event_id long, user_id long, event_type string"
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    B = 5

    for n in reps:
        users_per_batch = 200 * n
        work = tempfile.mkdtemp(prefix="statettl_")
        staging = f"{work}/stage"
        for b in range(B):
            rows = [
                (
                    t0 + datetime.timedelta(hours=b),
                    b * users_per_batch + u,
                    b * users_per_batch + u,
                    1.0,
                    "view" if u % 2 == 0 else "click",
                )
                for u in range(users_per_batch)
            ]
            spark.createDataFrame(rows, schema=full_schema).coalesce(
                1
            ).write.mode("append").parquet(staging)
            time.sleep(1.1)  # distinct mtimes -> stable file order

        def drain(make_df, name, schema, mode="update"):
            q = (
                make_df(
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", "1")
                    .parquet(staging)
                )
                .writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", f"{work}/ck_{name}")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(600), f"{name} drain hung"
            rows_total = None
            for pr in reversed(q.recentProgress):
                ops = pr.get("stateOperators") or []
                if ops and ops[0].get("numRowsTotal") is not None:
                    rows_total = ops[0]["numRowsTotal"]
                    break
            return rows_total

        t1 = time.perf_counter()
        ttl_rows = drain(
            lambda rd: ewma_stream(
                rd,
                state_ttl_minutes=10,
                ttl_timeout="event",
                delay_threshold="1 minute",
            ),
            f"sttl_{n}",
            ewma_schema,
        )
        dt_ttl = time.perf_counter() - t1
        t1 = time.perf_counter()
        ctl_rows = drain(lambda rd: ewma_stream(rd), f"sctl_{n}", ewma_schema)
        dt_ctl = time.perf_counter() - t1
        seen = B * users_per_batch
        print(
            f"statettl x{n:<3} ewma       users_ever_seen={seen:>6} "
            f"state_rows ttl={ttl_rows} (bound {users_per_batch}) "
            f"control={ctl_rows}  drain ttl={dt_ttl:5.1f}s ctl={dt_ctl:5.1f}s"
        )
        assert ttl_rows == users_per_batch, (ttl_rows, users_per_batch)
        assert ctl_rows == seen, (ctl_rows, seen)

        t1 = time.perf_counter()
        bttl_rows = drain(
            lambda rd: transition_stream_buffered(
                rd, delay_threshold="1 minute", idle_ttl_minutes=10
            ),
            f"bttl_{n}",
            trans_schema,
            mode="append",
        )
        dt_bttl = time.perf_counter() - t1
        t1 = time.perf_counter()
        bctl_rows = drain(
            lambda rd: transition_stream_buffered(rd, delay_threshold="1 minute"),
            f"bctl_{n}",
            trans_schema,
            mode="append",
        )
        dt_bctl = time.perf_counter() - t1
        # the buffered op holds TWO cohorts at steady state: the newest
        # (rows the watermark hasn't passed stay buffered) and the one
        # flushed last batch (its idle timeout, armed at buffer-empty,
        # fires one batch later) — O(2 x active window), never ever-seen
        print(
            f"statettl x{n:<3} transition users_ever_seen={seen:>6} "
            f"state_rows ttl={bttl_rows} (bound {2 * users_per_batch}) "
            f"control={bctl_rows}  drain ttl={dt_bttl:5.1f}s "
            f"ctl={dt_bctl:5.1f}s"
        )
        assert bttl_rows <= 2 * users_per_batch, (bttl_rows, users_per_batch)
        assert bctl_rows == seen, (bctl_rows, seen)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
