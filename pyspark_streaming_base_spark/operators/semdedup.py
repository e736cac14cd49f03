"""Size-gated semantic deduplication (SemDeDup) with a bounded pair space.

The published SemDeDup recipe (Abbas et al., "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", 2023): k-means the
embedding corpus, then drop within-cluster near-duplicates by cosine
similarity. The cluster is the blocking key — but blocking alone does NOT
bound the pair space: Σ C(cluster_size, 2) is ~n²/k at fixed k, and a
skewed corpus (near-identical embeddings collapsing into one cell)
recreates the quadratic blowup at ANY k. "k scales with the corpus" is a
deployment note, not a guard.

This operator makes the pair space bounded BY CONSTRUCTION, with the same
per-key gating philosophy as ``operators/histogram.py`` (count first,
branch per key inside one Catalyst plan, no driver decision):

1. count members per cluster (one map-side-combinable aggregate);
2. clusters at or under ``exact_threshold`` take the EXACT branch —
   every within-cluster pair, bit-reproducible, mirror-checkable;
3. oversized clusters are SUB-BLOCKED by deterministic LSH sign
   signatures: each member gets a ``ceil(log2(n_c / threshold))``-bit
   bucket from fixed hyperplanes (``functions/vectorops.plane_component``
   mix — no RNG), so expected cell size falls back under the threshold;
   pairs form within (cluster, cell) only;
4. cells STILL over the threshold (the near-identical-mass pathology LSH
   cannot split — identical vectors have identical signatures) collapse
   exact-duplicate vectors first (md5 of the serialized vector; non-min
   members of a value group pair only with their group min), then the
   group minima STAR-pair against the cell minimum — O(cell) pairs.

Total candidate pairs ≤ (threshold/2 + 1) · n — linear in the corpus at
fixed threshold, whatever the skew. Every removal is backed by a VERIFIED
pair (rounded cosine ≥ tau against an actual lower-id vector), so the
gated result is always a SUBSET of the ungated policy's removals
(sub-blocking can only lose cross-cell pairs, never invent similarity);
exact-duplicate masses are collapsed losslessly in every tier. At fixture
scales every cluster is far under the default threshold, so the oracle/
mirror-checked result is the exact policy bit-for-bit.

Keys-only exchanges throughout (the rule ``operators/fuzzyjoin.py``
established after string payloads in the candidate exchange OOMed a 1 GB
heap): the pair-generating self-joins shuffle (cluster, vec_id) longs —
the 64-dim vectors never enter the pair exchange; they are re-attached
per surviving CANDIDATE id for the cosine verify, an O(candidates)
equi-join against the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from pyspark_streaming_base_spark.functions.vectorops import (
    cosine,
    l2sq,
    plane_component,
)
from pyspark_streaming_base_spark.operators import tombstones
from pyspark_streaming_base_spark.queries._exact import dround

__all__ = [
    "semdedup_removed",
    "DEFAULT_EXACT_THRESHOLD",
    "assign_to_centroids",
    "build_semdedup_index",
    "append_semdedup_index",
    "semdedup_removed_from_index",
]

#: default per-cluster member budget for the exact all-pairs branch.
#: C(10k, 2) = 5·10⁷ id-pairs (~800 MB of 16 B rows spread over the
#: shuffle) is comfortably spillable; fixture clusters are ≤ ~250
#: members, so oracle/mirror-checked runs always take the exact branch.
DEFAULT_EXACT_THRESHOLD = 10_000

#: fixed signature width: 16 sign bits per vector, masked down to the
#: per-cluster need (ceil(log2(n_c / threshold)) bits) JVM-side. 2^16
#: sub-cells splits a 10⁹-member degenerate cluster to ~15k expected
#: members per cell at the default threshold.
_MAX_SUB_PLANES = 16

#: plane-namespace offset: keeps these hyperplanes disjoint from
#: queries/similarity.py's hash-table planes (which use p = tbl*101+i).
_PLANE_NS = 7_777


def _sig_udf():
    """Pandas UDF: vector → 16-bit LSH sign signature (long).

    Dense (batch × dim) @ (dim × 16) numpy matmul — the Arrow-vectorized
    case where numpy beats ~16 interpreted expression folds per row. The
    plane matrix is built once per worker from the deterministic mix for
    whatever dimension the first batch carries.
    """
    powers = 1 << np.arange(_MAX_SUB_PLANES, dtype=np.int64)
    cache: dict = {}

    @F.pandas_udf(LongType())
    def sig(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        dim = X.shape[1]
        Wm = cache.get(dim)
        if Wm is None:
            Wm = np.array(
                [
                    [plane_component(_PLANE_NS + p, d) for p in range(_MAX_SUB_PLANES)]
                    for d in range(dim)
                ],
                dtype=np.float64,
            )
            cache[dim] = Wm
        return pd.Series(((X @ Wm >= 0) @ powers).astype(np.int64))

    return sig


def _pairs_within(members: DataFrame, keys: list[str]) -> DataFrame:
    """(id_x < id_y) self-join pairs within a blocking key — ids only."""
    x = members.select(*keys, F.col("vec_id").alias("id_x"))
    y = members.select(*keys, F.col("vec_id").alias("id_y"))
    return x.join(y, keys).filter(F.col("id_x") < F.col("id_y")).select("id_x", "id_y")


def semdedup_removed(
    assigned: DataFrame,
    tau: float,
    exact_threshold: int = DEFAULT_EXACT_THRESHOLD,
) -> DataFrame:
    """(vec_id) of every vector REMOVED by the SemDeDup keeper policy:
    a vector is removed iff some lower-id vector in the same blocking
    cell has rounded cosine ≥ ``tau`` to it.

    ``assigned`` needs (vec_id, cid, v: array<double>). Blocking cell =
    cluster for clusters ≤ ``exact_threshold`` members (the exact
    policy), else (cluster, LSH sub-bucket) — see module docstring for
    the tier structure and the boundedness argument.
    """
    if not 0.0 < tau <= 1.0:
        # tau > 1 would silently break the exact-duplicate collapse
        # (identical vectors have cosine exactly 1.0)
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    exact_threshold = max(1, exact_threshold)
    counts = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("_nc"))
    # no forced broadcast: one row per cluster — tiny for k-means-style
    # cids (AQE broadcasts it from observed size), unbounded for
    # caller-supplied blocking keys (same contract as histogram.py)
    tagged = assigned.join(counts, "cid")

    small = tagged.filter(F.col("_nc") <= exact_threshold).select("cid", "vec_id")
    pairs_exact = _pairs_within(small, ["cid"])

    # oversized clusters: mask the 16-bit signature down to the bits this
    # cluster needs (expected cell size ≈ n_c / 2^bits ≤ threshold)
    bits = F.least(
        F.greatest(
            F.ceil(F.log2(F.col("_nc") / F.lit(float(exact_threshold)))),
            F.lit(1),
        ),
        F.lit(_MAX_SUB_PLANES),
    ).cast("int")
    # 2^bits - 1 as the signature mask (pow is exact for bits ≤ 16;
    # shiftleft's bit-count argument cannot be a column)
    mask = (F.pow(F.lit(2.0), bits).cast("long") - 1)
    big = (
        tagged.filter(F.col("_nc") > exact_threshold)
        .withColumn("_sig", _sig_udf()(F.col("v")))
        .select(
            "cid",
            "vec_id",
            "v",
            F.col("_sig").bitwiseAND(mask).alias("sub"),
        )
    )
    cell_counts = big.groupBy("cid", "sub").agg(F.count(F.lit(1)).alias("_cn"))
    cells = big.join(cell_counts, ["cid", "sub"])

    mid = cells.filter(F.col("_cn") <= exact_threshold).select("cid", "sub", "vec_id")
    pairs_mid = _pairs_within(mid, ["cid", "sub"])

    # cells LSH cannot split under the threshold: collapse exact-dup
    # vector values (md5 of the serialized vector — 128-bit, no
    # same-cell collisions in practice), then star-pair group minima
    # against the cell minimum. O(cell) pairs, and an identical-vector
    # mass is handled LOSSLESSLY: every non-min copy pairs with its
    # group min at cosine exactly 1.0 ≥ tau.
    over = cells.filter(F.col("_cn") > exact_threshold).select(
        "cid",
        "sub",
        "vec_id",
        F.md5(F.concat_ws(",", F.transform("v", lambda x: x.cast("string")))).alias(
            "_vh"
        ),
    )
    gmin = over.groupBy("cid", "sub", "_vh").agg(F.min("vec_id").alias("gm"))
    pairs_grp = (
        over.join(gmin, ["cid", "sub", "_vh"])
        .filter(F.col("vec_id") != F.col("gm"))
        .select(F.col("gm").alias("id_x"), F.col("vec_id").alias("id_y"))
    )
    cmin = gmin.groupBy("cid", "sub").agg(F.min("gm").alias("cm"))
    pairs_star = (
        gmin.join(cmin, ["cid", "sub"])
        .filter(F.col("gm") != F.col("cm"))
        .select(F.col("cm").alias("id_x"), F.col("gm").alias("id_y"))
    )

    pairs = (
        pairs_exact.unionByName(pairs_mid)
        .unionByName(pairs_grp)
        .unionByName(pairs_star)
    )
    # r13 (guide §2.5 skew): the pair-generating joins are keyed on the
    # blocking cell, so their output parallelism is capped at the number
    # of DISTINCT cells touched (k=8 at the fixture; a hot near-identical
    # cell concentrates its whole pair mass on one task at any scale) —
    # and the expensive step, the interpreted 64-dim cosine verify,
    # inherits that cap. Re-hash the candidate id-pairs across the cores
    # before the verify: an O(candidates × 16 B) keys-only exchange that
    # parallelizes per-pair arithmetic worth ~100× the row width.
    # Explicit partition count: AQE's size-based coalescing would fold
    # this small-byte/high-CPU exchange back to a handful of tasks.
    pairs = pairs.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, "id_x", "id_y"
    )

    # verify: re-attach vectors PER CANDIDATE (keys-only exchange rule) —
    # two equi-joins against the corpus, O(candidates) rows of payload.
    # r13: each side carries its PRE-COMPUTED norm — ``cosine`` per pair
    # re-folds dot(a,a) and dot(b,b), so 2/3 of the interpreted per-pair
    # arithmetic was recomputing per-VECTOR quantities O(pairs) times
    # (measured 6.5 s of the sf0.1 policy's 9.3 s in the verify).
    # Bit-exact: sqrt(dot(v,v)) is the same fold on the same array
    # whether evaluated per vector or per pair, and the final
    # dot/(nx·ny) reproduces cosine()'s exact operation order.
    from pyspark_streaming_base_spark.functions.vectorops import dot

    nrm = F.sqrt(dot(F.col("v"), F.col("v")))
    vx = assigned.select(
        F.col("vec_id").alias("id_x"), F.col("v").alias("vx"), nrm.alias("nx")
    )
    vy = assigned.select(
        F.col("vec_id").alias("id_y"), F.col("v").alias("vy"), nrm.alias("ny")
    )
    sim = dot(F.col("vx"), F.col("vy")) / (F.col("nx") * F.col("ny"))
    return (
        pairs.join(vx, "id_x")
        .join(vy, "id_y")
        .filter(dround(sim) >= F.lit(tau))
        .select(F.col("id_y").alias("vec_id"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Persisted blocking index — the incremental path for the semantic family.
#
# The lexical dedup family got write-once/append-many state in r5/r6
# (``operators/minhash.py``, ``operators/ivf.py``, ``operators/pq.py``,
# ``operators/components.py::merge_components``); this closes the last
# O(corpus)-per-run recomputation: the SemDeDup BLOCKING KEY. Train the
# Lloyd centroids once (``queries/pipeline.py::kmeans_centroids``), freeze
# them in the index, and every subsequent crawl batch is assigned in
# O(batch) — the corpus is never re-clustered. Same add()-after-train()
# contract as the ANN indexes: retrain + rebuild when the embedding
# distribution drifts.
# ---------------------------------------------------------------------------


def assign_to_centroids(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cid, d2): nearest-centroid L2 assignment under FROZEN
    centroids — a k-row broadcast join + ``min_by`` argmin with the
    (d2, cid) tie-break, the corpus never shuffles. The ONE assignment
    definition: Lloyd's assign step (``queries/pipeline.py::
    kmeans_assign``) and the persisted index both call it, so
    incremental assignment == from-scratch is true by construction
    (and pinned in ``tests/test_semdedup.py``).

    ``emb`` needs (vec_id, v: array<double>); ``centroids`` (cid, cv).
    """
    return (
        emb.crossJoin(F.broadcast(centroids))
        .withColumn("d2", l2sq(F.col("v"), F.col("cv")))
        .groupBy("vec_id")
        .agg(
            F.min_by("cid", F.struct("d2", "cid")).alias("cid"),
            F.min("d2").alias("d2"),
        )
    )


def build_semdedup_index(emb: DataFrame, path: str, centroids: DataFrame) -> None:
    """Materialize the semantic-dedup blocking index:

    * ``<path>/centroids``   — (cid, cv): the frozen refined quantizer
      (pass ``queries/pipeline.py::kmeans_centroids`` output, or any
      (cid, cv) table — the builder does NOT retrain);
    * ``<path>/assignments`` — (vec_id, cid): every corpus vector's
      blocking cell. Keys-only — vectors re-attach from the corpus when
      the dedup policy runs (:func:`semdedup_removed_from_index`).
    """
    if centroids.limit(1).isEmpty():
        # assign_to_centroids against zero centroids drops EVERY row —
        # the index would be silently empty (the r6 quantizer-
        # under-population lesson, applied to the caller-supplied table);
        # one tiny action at write-once build time buys the loud failure
        raise ValueError("centroids table is empty — cannot build index")
    # a build defines the corpus: stale tombstones from a previous index
    # at this path must not shadow freshly indexed ids (family contract)
    tombstones.reset_for_build(_tables(path))
    centroids.select("cid", "cv").write.mode("overwrite").parquet(
        f"{path}/centroids"
    )
    assign_to_centroids(emb, centroids).select("vec_id", "cid").write.mode(
        "overwrite"
    ).parquet(f"{path}/assignments")


def append_semdedup_index(
    spark: SparkSession, path: str, new_emb: DataFrame
) -> None:
    """Assign a batch of NEW vectors under the frozen centroids and
    parquet-append the assignments — O(batch): the existing corpus is
    never re-read or re-clustered. append == build-on-union row-for-row
    under pinned centroids (pytest parity, same contract as
    ``append_ivf_index``/``append_pq_index``). Callers must not append a
    vec_id twice."""
    cent = tombstones.read_live(spark, f"{path}/centroids")
    tombstones.append_live(
        assign_to_centroids(new_emb, cent).select("vec_id", "cid"),
        f"{path}/assignments",
    )


def semdedup_removed_from_index(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    tau: float,
    exact_threshold: int = DEFAULT_EXACT_THRESHOLD,
) -> DataFrame:
    """:func:`semdedup_removed` over the PERSISTED blocking index: the
    (vec_id, cid) cells come from ``<path>/assignments`` (never
    recomputed); ``emb`` (vec_id, v) re-attaches vectors for the pair
    verify — one equi-join, O(corpus rows) but O(1) clustering work."""
    assigned = _live_assignments(spark, path).join(emb, "vec_id")
    return semdedup_removed(assigned, tau, exact_threshold)


def _tables(path: str) -> tombstones.IndexTables:
    """Live keys-only ``assignments``; the frozen centroids are read
    directly where needed, never through the live view."""
    return tombstones.IndexTables(
        tombstones=f"{path}/tombstones",
        id_col="vec_id",
        live=(f"{path}/assignments",),
        ratio_basis=f"{path}/assignments",
    )


def _live_assignments(spark: SparkSession, path: str) -> DataFrame:
    """Assignments minus tombstoned vec_ids — every policy/merge path
    reads through here so deleted vectors neither block nor get
    removed."""
    return tombstones.load_live_view(spark, _tables(path))[0]


def delete_from_semdedup_index(
    spark: SparkSession, path: str, ids, compact_ratio: float = None
) -> None:
    """Tombstone vectors — O(batch); the frozen centroids are untouched.
    Set semantics; shared contract in ``operators/tombstones.py``.
    ``compact_ratio`` opts into the delete-time auto-compaction hook
    (the bm25 convention)."""
    tombstones.delete(spark, _tables(path), ids, compact_ratio)


def compact_semdedup_index(spark: SparkSession, path: str) -> None:
    """Fold tombstones into the assignments table (staged-swap), clear
    them."""
    tombstones.compact(spark, _tables(path))


def merge_semdedup_removed(
    spark: SparkSession,
    path: str,
    emb: DataFrame,
    new_emb: DataFrame,
    prior_removed: DataFrame,
    tau: float,
    exact_threshold: int = DEFAULT_EXACT_THRESHOLD,
) -> DataFrame:
    """Fold a new vector batch into a maintained removal set WITHOUT
    re-running the dedup policy over the whole corpus — the semantic
    analogue of ``operators/components.py::merge_components``, closing
    the crawl loop for this family (append the blocking index, then
    merge the policy output).

    Correct by per-cell independence: :func:`semdedup_removed` decides
    every removal inside ONE blocking cluster (cid) — the member count,
    the gating tier, the sub-buckets, and every candidate pair are
    functions of that cluster's members alone. A cluster that receives
    no new member therefore keeps its removal set verbatim, at ANY
    gating tier; clusters the batch touches are recomputed from their
    (old ∪ new) members under the exact union-state policy. The result
    equals a from-scratch run on the union, pinned in
    ``tests/test_semdedup.py`` (including a threshold-crossing case
    where the batch pushes a cluster from the exact tier into the gated
    tiers).

    Call AFTER :func:`append_semdedup_index` has folded the batch in
    (the same order as the lexical loop: probe/assign → append →
    merge). ``emb`` must cover every assigned vec_id (old and new);
    ``prior_removed`` is the previous (vec_id) removal table.

    Scale: one semi-join of the assignments on the affected cids
    (O(batch) cids, broadcast from observed size by AQE), the policy on
    the affected members only, and an anti-join pass-through of the
    prior removals. The saving is the UNTOUCHED fraction: SemDeDup
    deployments size k with the corpus (~n / cluster budget), so a daily
    batch touches O(batch) of the k cells and the recompute is
    O(batch · cluster budget) pairs. At a tiny fixture k (q125's k=8)
    every cluster is touched and the merge legitimately costs
    ~from-scratch — the bench entry (``semdedup_merge``) prices that
    floor, not the large-k asymptote.
    """
    assignments = _live_assignments(spark, path)
    # the batch's cells, read straight off the already-appended index
    # (no re-assignment): a cid is affected iff a new vec_id landed in it
    affected = (
        assignments.join(new_emb.select("vec_id"), "vec_id", "semi")
        .select("cid")
        .distinct()
    )
    touched = assignments.join(affected, "cid", "semi")
    recomputed = semdedup_removed(
        touched.join(emb, "vec_id"), tau, exact_threshold
    )
    # prior removals in untouched clusters pass through verbatim
    untouched_removed = (
        prior_removed.select("vec_id")
        .join(assignments, "vec_id")
        .join(affected, "cid", "anti")
        .select("vec_id")
    )
    return untouched_removed.unionByName(recomputed.select("vec_id"))
