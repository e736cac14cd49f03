"""Gated-tier tests for ``operators/semdedup.py`` — the branches the
fixture-scale q125 mirror never exercises (every fixture cluster is far
under the default threshold).

Invariants proven here:

* SOUNDNESS: every gated removal is backed by a verified pair, so the
  gated removal set is a SUBSET of the ungated exact policy's (the gate
  can only lose cross-cell pairs, never invent similarity);
* EXACT-MASS COMPLETENESS: an identical-vector mass inside a hot cluster
  is collapsed losslessly — every non-minimum copy is removed — even
  though LSH sub-bucketing cannot split it (identical signatures);
* SMALL-CLUSTER EXACTNESS: clusters at or under the threshold reproduce
  the exact policy bit-for-bit (same result as the ungated all-pairs);
* DEFAULT-THRESHOLD EQUIVALENCE: with the default gate, the whole result
  equals the exact policy (what the q125 numpy mirror relies on).

Vectors are built from a seeded RandomState (test-side determinism only;
the operator itself is seed-free — planes come from the integer mix).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark_streaming_base_spark.operators.semdedup import semdedup_removed

TAU = 0.8
THRESHOLD = 20  # force the gated tiers on the hot cluster below


def _corpus():
    """(vec_id, cid, v) rows: one hot cluster (120 members: a 60-copy
    identical mass + 60 spread vectors with planted near-dup pairs) and
    one small cluster (10 members, one planted near-dup pair)."""
    rng = np.random.RandomState(7)
    rows = []

    base = rng.randn(16)
    mass = [float(x) for x in base]  # exact copies → identical signatures
    for i in range(60):
        rows.append((1000 + i, 0, mass))

    # spread: 30 anchor vectors, each with a noisy near-dup (cos ≈ 0.99)
    for j in range(30):
        a = rng.randn(16)
        rows.append((2000 + 2 * j, 0, [float(x) for x in a]))
        b = a + 0.05 * rng.randn(16)
        rows.append((2000 + 2 * j + 1, 0, [float(x) for x in b]))

    # small cluster: 8 well-separated + one planted pair
    for j in range(8):
        rows.append((3000 + j, 1, [float(x) for x in rng.randn(16)]))
    c = rng.randn(16)
    rows.append((3100, 1, [float(x) for x in c]))
    rows.append((3101, 1, [float(x) for x in c + 0.05 * rng.randn(16)]))
    return rows


def _cos_r(a, b):
    # mirror functions/vectorops.cosine + queries/_exact.dround exactly:
    # sequential left-to-right fold, floor(x*1e6+0.5)/1e6
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6 + 0.5) / 1e6


def _exact_policy_removed(rows, tau):
    by_cluster: dict = {}
    for vid, cid, v in rows:
        by_cluster.setdefault(cid, []).append((vid, v))
    removed = set()
    for members in by_cluster.values():
        members.sort()
        for i, (ida, va) in enumerate(members):
            for idb, vb in members[i + 1 :]:
                if _cos_r(va, vb) >= tau:
                    removed.add(idb)
    return removed


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(_corpus(), "vec_id long, cid long, v array<double>")


def test_gated_tiers_sound_and_mass_complete(spark, corpus_df):
    rows = _corpus()
    exact = _exact_policy_removed(rows, TAU)
    got = {
        r.vec_id
        for r in semdedup_removed(corpus_df, TAU, exact_threshold=THRESHOLD).collect()
    }

    # soundness: gated ⊆ exact policy (verified pairs only)
    assert got <= exact
    # exact-mass completeness: every non-min copy of the identical mass
    # is removed despite LSH being unable to split the mass
    mass_ids = set(range(1000, 1060))
    assert mass_ids - {min(mass_ids)} <= got
    # the small cluster (≤ threshold → exact branch) matches the exact
    # policy restricted to it
    small_ids = {vid for vid, cid, _ in rows if cid == 1}
    assert got & small_ids == exact & small_ids
    assert 3101 in got  # the planted small-cluster near-dup
    # the gate keeps useful recall on this corpus (deterministic: fixed
    # vectors, fixed planes) — planted spread near-dups land in shared
    # sub-buckets often enough to keep the gated result non-degenerate
    assert len(got) >= 0.7 * len(exact)


def test_default_threshold_equals_exact_policy(spark, corpus_df):
    rows = _corpus()
    got = {r.vec_id for r in semdedup_removed(corpus_df, TAU).collect()}
    assert got == _exact_policy_removed(rows, TAU)


def test_tau_out_of_range_rejected(corpus_df):
    with pytest.raises(ValueError):
        semdedup_removed(corpus_df, 1.5)


# ---------------------------------------------------------------------------
# Persisted blocking index (the incremental path — r7)
# ---------------------------------------------------------------------------


def _emb(spark, sf_dir="/root/testdata/sf0.001"):
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.functions.vectorops import dvec
    from pyspark_streaming_base_spark.queries._tables import t

    return t(spark, sf_dir, "embeddings").select(
        "vec_id", dvec("embedding").alias("v")
    )


def test_build_index_matches_from_scratch_assignment(spark, tmp_path):
    """build_semdedup_index under the q94 Lloyd centroids must reproduce
    kmeans_assign's (vec_id, cid) EXACTLY — the blocking key the
    incremental path freezes is the same one q125 computes from
    scratch."""
    from pyspark_streaming_base_spark.operators.semdedup import (
        build_semdedup_index,
    )
    from pyspark_streaming_base_spark.queries.pipeline import (
        kmeans_assign,
        kmeans_centroids,
    )

    sf = "/root/testdata/sf0.001"
    cent = kmeans_centroids(spark, sf)
    path = str(tmp_path / "semdx")
    build_semdedup_index(_emb(spark, sf), path, cent)
    got = {
        (r.vec_id, r.cid)
        for r in spark.read.parquet(f"{path}/assignments").collect()
    }
    want = {
        (r.vec_id, r.cid)
        for r in kmeans_assign(spark, sf).select("vec_id", "cid").collect()
    }
    assert got == want and got


def test_append_equals_build_on_union_under_pinned_centroids(spark, tmp_path):
    """add()-after-train() parity (the append_pq_index pattern): freeze
    centroids, build on batch A, append batch B — identical row set to
    building on A ∪ B under the same frozen centroids. The corpus is
    never re-clustered: append assigns ONLY the new batch."""
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.semdedup import (
        append_semdedup_index,
        build_semdedup_index,
    )
    from pyspark_streaming_base_spark.queries.pipeline import kmeans_centroids

    sf = "/root/testdata/sf0.001"
    emb = _emb(spark, sf)
    cent = kmeans_centroids(spark, sf)
    a = emb.filter(F.col("vec_id") % 3 != 0)
    b = emb.filter(F.col("vec_id") % 3 == 0)

    inc = str(tmp_path / "inc")
    build_semdedup_index(a, inc, cent)
    append_semdedup_index(spark, inc, b)

    full = str(tmp_path / "full")
    build_semdedup_index(emb, full, cent)

    got = {
        (r.vec_id, r.cid)
        for r in spark.read.parquet(f"{inc}/assignments").collect()
    }
    want = {
        (r.vec_id, r.cid)
        for r in spark.read.parquet(f"{full}/assignments").collect()
    }
    assert got == want and got


def test_index_backed_policy_matches_q125(spark, tmp_path):
    """semdedup_removed_from_index == the inline q125 kept/removed
    partition at fixture scale: persisting the blocking key loses
    nothing."""
    from pyspark_streaming_base_spark.operators.semdedup import (
        build_semdedup_index,
        semdedup_removed_from_index,
    )
    from pyspark_streaming_base_spark.queries import load_all
    from pyspark_streaming_base_spark.queries.pipeline import kmeans_centroids

    sf = "/root/testdata/sf0.001"
    emb = _emb(spark, sf)
    path = str(tmp_path / "semdx")
    build_semdedup_index(emb, path, kmeans_centroids(spark, sf))
    removed = {
        r.vec_id
        for r in semdedup_removed_from_index(spark, path, emb, tau=0.35).collect()
    }
    q125 = load_all()["q125_semantic_dedup"].fn(spark, sf).collect()
    assert removed == {r.vec_id for r in q125 if not r.kept}
    assert {r.vec_id for r in q125} > removed  # some vectors kept


def test_merge_removed_equals_from_scratch_across_tiers(spark, tmp_path):
    """merge_semdedup_removed == from-scratch semdedup_removed on the
    union, at a LOW threshold so the batch pushes one cluster across the
    exact→gated tier boundary (per-cell independence must hold at any
    tier, not just the exact branch): cluster 0 has 15 members before /
    25 after (tier crossing), cluster 1 is untouched (its removals must
    pass through verbatim), cluster 2 is new-only."""
    import numpy as np

    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.semdedup import (
        merge_semdedup_removed,
        semdedup_removed,
    )

    rng = np.random.RandomState(11)
    threshold, tau = 20, 0.8

    def near(a):
        return [float(x) for x in (a + 0.05 * rng.randn(a.shape[0]))]

    old_rows, new_rows = [], []
    # cluster 0: 15 old members (5 anchor+near pairs + 5 spread)
    for j in range(5):
        a = rng.randn(16)
        old_rows.append((100 + 2 * j, 0, [float(x) for x in a]))
        old_rows.append((100 + 2 * j + 1, 0, near(a)))
    for j in range(5):
        old_rows.append((150 + j, 0, [float(x) for x in rng.randn(16)]))
    # batch: 10 more into cluster 0 (crosses the threshold), incl. dups
    # of old anchors so NEW removals of old vectors' copies appear
    for j in range(5):
        a = np.array(old_rows[2 * j][2])
        new_rows.append((500 + j, 0, near(a)))
    for j in range(5):
        new_rows.append((550 + j, 0, [float(x) for x in rng.randn(16)]))
    # cluster 1: untouched, with one planted removal pair
    b = rng.randn(16)
    old_rows += [
        (200, 1, [float(x) for x in b]),
        (201, 1, near(b)),
        (202, 1, [float(x) for x in rng.randn(16)]),
    ]
    # cluster 2: new-only, one planted pair
    c = rng.randn(16)
    new_rows += [
        (600, 2, [float(x) for x in c]),
        (601, 2, near(c)),
    ]

    schema = "vec_id long, cid long, v array<double>"
    old_df = spark.createDataFrame(old_rows, schema)
    new_df = spark.createDataFrame(new_rows, schema)
    union_df = old_df.unionByName(new_df)

    path = str(tmp_path / "semdx")
    # post-append index state: assignments cover old ∪ new
    union_df.select("vec_id", "cid").write.parquet(f"{path}/assignments")

    prior = semdedup_removed(old_df, tau, threshold)
    assert {r.vec_id for r in prior.collect()} >= {201}  # cluster 1 seeded

    got = {
        r.vec_id
        for r in merge_semdedup_removed(
            spark,
            path,
            union_df.select("vec_id", "v"),
            new_df.select("vec_id", "v"),
            prior,
            tau,
            threshold,
        ).collect()
    }
    want = {r.vec_id for r in semdedup_removed(union_df, tau, threshold).collect()}
    assert got == want
    assert 201 in got          # untouched cluster passed through
    assert 601 in got          # new-only cluster recomputed
    assert got & set(range(500, 505))  # new dups of old anchors removed


def test_streaming_semantic_crawl_loop_end_to_end(spark, tmp_path):
    """The semantic crawl loop as a STREAM (the embedding-space mirror of
    the lexical loop in test_components_merge.py): day-0 vectors seed the
    frozen-centroid index and removal set; each later day arrives as one
    micro-batch that (1) appends its assignments under the frozen
    centroids, (2) folds its effect into the maintained removal set via
    merge_semdedup_removed — both O(batch). After the stream drains, the
    removal set must equal a from-scratch semdedup_removed over the full
    corpus under the same frozen centroids."""
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.semdedup import (
        append_semdedup_index,
        build_semdedup_index,
        merge_semdedup_removed,
        semdedup_removed,
        semdedup_removed_from_index,
    )
    from pyspark_streaming_base_spark.queries.pipeline import kmeans_centroids

    sf = "/root/testdata/sf0.001"
    tau = 0.35
    emb = _emb(spark, sf)
    cent = kmeans_centroids(spark, sf).localCheckpoint(eager=True)  # frozen
    day0 = emb.filter(F.col("vec_id") % 3 == 0)

    idx = str(tmp_path / "semdx")
    build_semdedup_index(day0, idx, cent)
    removed_dir = tmp_path / "removed"
    semdedup_removed_from_index(spark, idx, emb, tau).write.parquet(
        str(removed_dir / "v0")
    )
    state = {"version": 0}

    staging = str(tmp_path / "days")
    emb.filter(F.col("vec_id") % 3 == 1).coalesce(1).write.mode("append").parquet(staging)
    emb.filter(F.col("vec_id") % 3 == 2).coalesce(1).write.mode("append").parquet(staging)

    def crawl(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        append_semdedup_index(spark, idx, batch_df)
        prior = spark.read.parquet(str(removed_dir / f"v{state['version']}"))
        updated = merge_semdedup_removed(
            spark, idx, emb, batch_df, prior, tau
        )
        state["version"] += 1
        updated.write.parquet(str(removed_dir / f"v{state['version']}"))

    q = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .writeStream.foreachBatch(crawl)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert state["version"] == 2  # one merge per day file

    got = {
        r.vec_id
        for r in spark.read.parquet(str(removed_dir / "v2")).collect()
    }
    from pyspark_streaming_base_spark.operators.semdedup import (
        assign_to_centroids,
    )

    scratch = semdedup_removed(
        assign_to_centroids(emb, cent).select("vec_id", "cid").join(emb, "vec_id"),
        tau,
    )
    want = {r.vec_id for r in scratch.collect()}
    assert got == want and got


def test_build_index_rejects_empty_centroids(spark, tmp_path):
    """An empty caller-supplied centroid table must fail loudly — the
    assignment join would otherwise drop every row and the index would
    be silently empty (the r6 quantizer-under-population lesson)."""
    import pytest as _pytest

    emb = _emb(spark)
    empty = emb.limit(0).selectExpr("vec_id AS cid", "v AS cv")
    from pyspark_streaming_base_spark.operators.semdedup import (
        build_semdedup_index,
    )

    with _pytest.raises(ValueError, match="empty"):
        build_semdedup_index(emb, str(tmp_path / "x"), empty)


def test_delete_equals_rebuild_without(spark, tmp_path, pointer_writer):
    """Tombstoned policy run == policy over the index rebuilt without
    the deleted vectors (frozen centroids shared): a deleted vector can
    neither be removed nor shield a near-dup from removal. Run under
    both pointer kinds (the compact inside delete_* exercises swaps)."""
    import os

    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.semdedup import (
        build_semdedup_index,
        compact_semdedup_index,
        delete_from_semdedup_index,
        semdedup_removed_from_index,
    )
    from pyspark_streaming_base_spark.queries.pipeline import kmeans_centroids

    sf = "/root/testdata/sf0.001"
    emb = _emb(spark, sf)
    cent = kmeans_centroids(spark, sf).localCheckpoint(eager=True)
    idx = str(tmp_path / "idx")
    build_semdedup_index(emb, idx, cent)
    gone = [
        r[0] for r in emb.select("vec_id").orderBy("vec_id").limit(25).collect()
    ]
    delete_from_semdedup_index(spark, idx, gone)

    survivors = emb.filter(~F.col("vec_id").isin(gone))
    want_idx = str(tmp_path / "want")
    build_semdedup_index(survivors, want_idx, cent)

    tau = 0.35
    got = sorted(
        r[0]
        for r in semdedup_removed_from_index(spark, idx, survivors, tau).collect()
    )
    want = sorted(
        r[0]
        for r in semdedup_removed_from_index(
            spark, want_idx, survivors, tau
        ).collect()
    )
    assert got == want
    assert not any(v in gone for v in got)

    compact_semdedup_index(spark, idx)
    assert not os.path.exists(f"{idx}/tombstones")
    assert sorted(
        r[0]
        for r in semdedup_removed_from_index(spark, idx, survivors, tau).collect()
    ) == want
