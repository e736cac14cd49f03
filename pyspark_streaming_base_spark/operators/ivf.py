"""IVF (inverted-file) ANN index — the persisted form of q63's cell
structure, mirroring ``operators/minhash.py``'s write-once/probe-many
shape for the vector path.

``build_ivf_index`` materializes the two tables an IVF search needs:

* ``<path>/centroids``   — (cent_id, cvec): the K-row coarse quantizer;
* ``<path>/assignments`` — (vec_id, cell, vec): every corpus vector with
  its nearest-centroid cell (vectors stored alongside so probes never
  re-read the corpus).

``query_ivf_index`` scores a query batch against its ``nprobe`` nearest
cells only: centroids broadcast, probe pairs broadcast into the
assignments equi-join — the corpus-side work is ``nprobe/K`` of a scan,
and ONLY the batch computes fresh similarities.

Same deterministic tie-breaks as q63 (rounded cosine desc, vec_id asc),
so index-backed search returns exactly what the inline query computes —
asserted in ``tests/test_ivf_index.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.functions.vectorops import cosine, dvec
from pyspark_streaming_base_spark.operators import tombstones


def ivf_assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, vec, cell): nearest-centroid cell per vector — a pure
    PROJECTION over the corpus (r13): the by-construction-small centroid
    table is folded to ONE row of (cent_id, cvec) structs and broadcast,
    and the argmax runs as an expression fold per corpus row. The old
    shape (broadcast join multiplying the corpus ×n_cells, then a
    groupBy(vec_id) pulling it back) paid one full-corpus exchange
    carrying ``vec`` — this pays zero: no exchange, no row
    multiplication, same arithmetic.

    Bit-exact with the former aggregate: ``cosine`` is the same shared
    sequential fold per (vec, cvec) pair, and ``array_max`` over
    struct(csim, -cent_id, …) is the same lexicographic ordering
    ``max_by(cent_id, struct(csim, -cent_id))`` used (NaN/tie semantics
    shared by both — one interpreted ordering)."""
    cents = centroids.groupBy().agg(
        F.collect_list(F.struct("cent_id", "cvec")).alias("_cents")
    )
    best = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                cosine(F.col("vec"), c["cvec"]).alias("csim"),
                (-c["cent_id"]).alias("tb"),
                c["cent_id"].alias("cell"),
            ),
        )
    )
    return (
        emb.join(F.broadcast(cents))  # 1-row broadcast: idiomatic BNLJ
        .select("vec_id", "vec", best["cell"].alias("cell"))
        # empty-centroid input degrades to an empty result (the old
        # join-based semantics), never a NULL cell
        .where(F.col("cell").isNotNull())
    )


def build_ivf_index(
    emb: DataFrame,
    path: str,
    k: int = 0,
    centroids: DataFrame | None = None,
) -> None:
    """Materialize centroids and cell assignments. ``emb`` needs
    (vec_id, vec: array<double>).

    Centroid source, in production-quality order: pass ``centroids``
    (cent_id, cvec) — e.g. the k-means-refined table from
    ``queries/pipeline.py::kmeans_centroids`` renamed (cid→cent_id,
    cv→cvec), whose Lloyd rounds train on a bounded deterministic
    sample (``train_cap``, the FAISS train-on-a-sample convention —
    same knob as ``operators/pq.py::pq_codebooks``; SCALE.md §Bounded
    quantizer training has the measured build-vs-recall row); or give
    ``k`` for the deterministic lowest-vec_id quantizer (the
    structural default the inline q63 demo uses — no training pass at
    all, so there is nothing to sample on this path)."""
    if centroids is None:
        if k <= 0:
            raise ValueError("need centroids or k > 0")
        # true lowest-k ids (TakeOrderedAndProject), not `vec_id < k`:
        # sparse/offset id spaces would silently under-populate the
        # quantizer (same fix as operators/pq.py::build_pq_index)
        centroids = (
            emb.orderBy("vec_id")
            .limit(k)
            .select(F.col("vec_id").alias("cent_id"), F.col("vec").alias("cvec"))
        )
    # a build defines the corpus: tear down any pointer layout from a
    # previous index at this path, and clear its stale tombstones so
    # they can't shadow freshly indexed ids (family contract)
    tombstones.reset_for_build(_tables(path))
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    ivf_assign(emb, centroids).write.mode("overwrite").parquet(f"{path}/assignments")


def append_ivf_index(spark: SparkSession, path: str, new_emb: DataFrame) -> None:
    """Add a batch of NEW vectors under the FROZEN coarse quantizer:
    assign cells against the persisted centroids and parquet-append the
    assignments — O(batch) like ``append_minhash_index`` and
    ``append_pq_index`` (the same add()-after-train() contract; retrain
    + rebuild when the vector distribution drifts). Existing rows are
    untouched, so append == build-on-union under pinned centroids row
    for row. Callers must not append a vec_id twice."""
    centroids = tombstones.read_live(spark, f"{path}/centroids")
    tombstones.append_live(ivf_assign(new_emb, centroids), f"{path}/assignments")


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    nprobe: int,
    top_k: int,
) -> DataFrame:
    """(qid, vec_id, sim_r, rnk ≤ top_k) for a query batch (qid, qvec).
    Reads the LIVE assignments (tombstoned vec_ids excluded)."""
    assigned, centroids = _load_ivf_index(spark, path)
    return ivf_search(queries, centroids, assigned, nprobe, top_k)


def _tables(path: str) -> tombstones.IndexTables:
    """Live ``assignments``; the coarse quantizer is frozen."""
    return tombstones.IndexTables(
        tombstones=f"{path}/tombstones",
        id_col="vec_id",
        live=(f"{path}/assignments",),
        frozen=(f"{path}/centroids",),
        ratio_basis=f"{path}/assignments",
    )


def _load_ivf_index(spark: SparkSession, path: str) -> list:
    """``[live assignments, centroids]`` for the probe paths."""
    return tombstones.load_live_view(spark, _tables(path))


def delete_from_ivf_index(
    spark: SparkSession, path: str, ids, compact_ratio: float = None
) -> None:
    """Tombstone vectors — O(batch); probes stop returning them. Set
    semantics; shared contract in ``operators/tombstones.py``. The
    frozen quantizer is untouched (deletes don't retrain, exactly like
    appends don't). ``compact_ratio`` opts into the delete-time
    auto-compaction hook (the bm25 convention)."""
    tombstones.delete(spark, _tables(path), ids, compact_ratio)


def compact_ivf_index(spark: SparkSession, path: str) -> None:
    """Fold tombstones into the assignments table (staged-swap) and
    clear them."""
    tombstones.compact(spark, _tables(path))


def tune_nprobe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    top_k: int = 10,
    recall_floor: float = 0.9,
    truth: DataFrame = None,
) -> dict:
    """The operational knob a deployed IVF index actually turns: walk
    ``nprobe`` up a DOUBLING schedule (1, 2, 4, … ≤ n_cells) until the
    held-out panel's macro recall@k against the EXACT top-k meets
    ``recall_floor`` — q146's health metric used prescriptively instead
    of diagnostically. READ-ONLY: the index is never touched; the sweep
    is bounded by log₂(cells)+1 probe runs over the panel.

    ``truth`` is the exact (qid, vec_id) top-k table; when omitted it is
    computed brute-force from the index's own LIVE vectors (exact
    scoring with the shared rounded-cosine/vec_id tie-break — the q60
    rule, so candidate supersets can only ADD truth hits and the sweep's
    recall is MONOTONE non-decreasing in nprobe; pinned in
    ``test_ivf_index.py``). Panel cost: O(panel × corpus) once — the
    tuning panel is small by construction; each sweep step costs one
    ordinary probe.

    Returns ``{"nprobe", "recall", "met", "sweep"}`` — ``sweep`` is the
    full [(nprobe, recall), …] trace (log it; the shape says whether the
    floor failed from quantizer quality or from k being too small), and
    ``met`` is False only when even nprobe = n_cells misses the floor
    (the retrain signal — at full probe IVF **is** exact search over
    live vectors, so recall < 1 there means the floor is unreachable for
    this (k, corpus) and the caller should question the floor or k).
    """
    if not 0.0 < recall_floor <= 1.0:
        raise ValueError(f"recall_floor must be in (0, 1], got {recall_floor}")
    live, centroids = _load_ivf_index(spark, path)
    n_cells = centroids.count()

    # r14 (guide §1.2 "the distributed algorithm first"): the old sweep
    # ran a FULL probe per schedule step — ≤ log₂(cells)+1 serial
    # corpus-touching jobs whose scan work sums to ~2× the corpus, plus
    # a separate brute-force truth pass. Every step's result is
    # derivable from ONE full-visibility scoring pass: rank every cell
    # per query once (prb — the same (csim DESC, cent_id ASC) ordering
    # ivf_probe_cells uses), score every candidate once, and grade each
    # candidate's top-k membership at EVERY schedule value from running
    # counts — nprobe=s shows exactly the candidates with prb ≤ s, so
    # "in the top-k at s" is "fewer than k better-ranked visible rows".
    # The exact-truth top-k is the s = n_cells column of the same pass.
    # One corpus-touching job total, identical recalls by construction.
    schedule = [1]
    while schedule[-1] < n_cells:
        schedule.append(min(schedule[-1] * 2, n_cells))

    q_cells = (
        queries.join(F.broadcast(centroids))
        .select(
            "qid",
            "qvec",
            "cent_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("csim"),
        )
        .withColumn(
            "prb",
            F.row_number().over(
                W.partitionBy("qid").orderBy(
                    F.col("csim").desc(), F.col("cent_id")
                )
            ),
        )
        .select("qid", "qvec", F.col("cent_id").alias("cell"), "prb")
    )
    cand = (
        F.broadcast(q_cells)
        .join(live.select("cell", "vec_id", "vec"), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("sim_r", F.round(cosine(F.col("qvec"), F.col("vec")), 6))
        .select("qid", "vec_id", "sim_r", "prb")
    )
    # Bound the exchange before the grading window: a row can be in the
    # global top-k of ANY visible set only if it is in the top-k of its
    # OWN cell-rank class (the class is a subset of every visible set
    # containing the row), so the per-(qid, prb) WindowGroupLimit prunes
    # candidates to ≤ panel × n_cells × k rows map-side — and the
    # "better-visible" counts stay decision-exact on the pruned set
    # (per class, min(k, better) survivors; the < k test is unchanged
    # whether any class saturates or none does).
    pruned = (
        cand.withColumn(
            "crn",
            F.row_number().over(
                W.partitionBy("qid", "prb").orderBy(
                    F.col("sim_r").desc(), F.col("vec_id")
                )
            ),
        )
        .filter(F.col("crn") <= top_k)
        .drop("crn")
    )
    better = W.partitionBy("qid").orderBy(
        F.col("sim_r").desc(), F.col("vec_id")
    ).rowsBetween(W.unboundedPreceding, -1)
    flags = pruned
    for j, s in enumerate(schedule):
        n_better = F.coalesce(
            F.sum((F.col("prb") <= s).cast("long")).over(better), F.lit(0)
        )
        flags = flags.withColumn(
            f"in{j}", (F.col("prb") <= s) & (n_better < top_k)
        )
    if truth is None:
        # exact truth IS the full-probe top-k: at s = n_cells every
        # candidate is visible, so in{last} is the brute-force
        # (sim_r DESC, vec_id) top-k over all live vectors — the same
        # pairs, the same rounded cosine, the same tie-break the old
        # separate truth pass computed
        hit_rows = flags.filter(F.col(f"in{len(schedule) - 1}"))
        per_q = hit_rows.groupBy("qid").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            *[
                F.sum(F.col(f"in{j}").cast("long")).alias(f"h{j}")
                for j in range(len(schedule))
            ],
        )
    else:
        truth = truth.select("qid", "vec_id").localCheckpoint(eager=True)
        per_q_truth = truth.groupBy("qid").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth")
        )
        hits = flags.join(truth, ["qid", "vec_id"]).groupBy("qid").agg(
            *[
                F.sum(F.col(f"in{j}").cast("long")).alias(f"h{j}")
                for j in range(len(schedule))
            ]
        )
        per_q = per_q_truth.join(hits, "qid", "left")
    rec_row = per_q.agg(
        *[
            F.avg(
                F.coalesce(F.col(f"h{j}"), F.lit(0)).cast("double")
                / F.col("n_truth").cast("double")
            ).alias(f"r{j}")
            for j in range(len(schedule))
        ]
    ).collect()[0]  # one L-number row for the whole sweep — bounded

    sweep = []
    for j, s in enumerate(schedule):
        recall = float(rec_row[f"r{j}"] if rec_row[f"r{j}"] is not None else 0.0)
        sweep.append((s, recall))
        if recall >= recall_floor or s >= n_cells:
            return {
                "nprobe": s,
                "recall": recall,
                "met": recall >= recall_floor,
                "sweep": sweep,
            }
    raise AssertionError("unreachable: schedule ends at n_cells")  # pragma: no cover


def ivf_probe_cells(
    queries: DataFrame, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """(qid, qvec, cell): each query's ``nprobe`` nearest coarse cells —
    the one probe definition shared by :func:`ivf_search` (exact scoring
    inside cells) and ``operators/pq.py::ivfadc_search`` (ADC scoring
    inside cells). Broadcast centroid join + per-query rank, ties on
    cent_id."""
    return (
        queries.join(F.broadcast(centroids))
        .select(
            "qid",
            "qvec",
            "cent_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("csim"),
        )
        .withColumn(
            "prb",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.col("csim").desc(), F.col("cent_id"))
            ),
        )
        .filter(F.col("prb") <= nprobe)
        .select("qid", "qvec", F.col("cent_id").alias("cell"))
    )


def ivf_search(
    queries: DataFrame,
    centroids: DataFrame,
    assigned: DataFrame,
    nprobe: int,
    top_k: int,
) -> DataFrame:
    """Cell-probe search over any (centroids, assignments) pair — the one
    definition q63 and the persisted index share."""
    q_cells = ivf_probe_cells(queries, centroids, nprobe)
    cand = F.broadcast(q_cells).join(assigned, "cell").filter(
        F.col("vec_id") != F.col("qid")
    )
    sim = F.round(cosine(F.col("qvec"), F.col("vec")), 6)
    ranked = cand.withColumn("sim_r", sim).withColumn(
        "rnk",
        F.row_number()
        .over(W.partitionBy("qid").orderBy(F.col("sim_r").desc(), F.col("vec_id")))
        .cast("bigint"),
    )
    return ranked.filter(F.col("rnk") <= top_k).select("qid", "vec_id", "sim_r", "rnk")
