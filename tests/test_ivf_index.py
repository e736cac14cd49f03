"""Persisted IVF index: index-backed search equals the inline q63 query,
and the probe plan touches the index — not the raw corpus — for the
corpus side."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_streaming_base_spark.functions.vectorops import dvec
from pyspark_streaming_base_spark.operators.ivf import (
    build_ivf_index,
    query_ivf_index,
)
from pyspark_streaming_base_spark.queries import load_all
from pyspark_streaming_base_spark.queries._tables import t
from pyspark_streaming_base_spark.queries.similarity import (
    _IVF_K,
    _IVF_NPROBE,
    _N_QUERIES,
    _TOP_K,
)

from tests.conftest import SF_SMALL

R = load_all()


def test_index_backed_search_equals_inline_query(spark, tmp_path):
    emb = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", dvec("embedding").alias("vec")
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, k=_IVF_K)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    got = {
        (r["qid"], r["rnk"]): (r["vec_id"], r["sim_r"])
        for r in query_ivf_index(
            spark, path, queries, nprobe=_IVF_NPROBE, top_k=_TOP_K
        ).collect()
    }
    want = {
        (r["qid"], r["rnk"]): (r["vec_id"], r["sim_r"])
        for r in R["q63_ann_ivf"].fn(spark, SF_SMALL).collect()
    }
    assert got == want
    assert len(got) > 0


def test_probe_reads_index_not_corpus_for_assignments(spark, tmp_path):
    from pyspark_streaming_base_spark.plans import formatted_plan

    emb = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", dvec("embedding").alias("vec")
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, k=_IVF_K)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    plan = formatted_plan(query_ivf_index(spark, path, queries, 2, 5))
    # embeddings.parquet appears once (the query batch); centroids and
    # assignments come from the materialized index
    assert plan.count("embeddings.parquet") == 1


def test_kmeans_refined_centroids_index(spark, tmp_path):
    """Production path: k-means-refined centroids feed the IVF index; the
    index answers with recall comparable to (typically above) the naive
    lowest-id quantizer, measured against q60's exact top-k."""
    from pyspark_streaming_base_spark.queries.pipeline import kmeans_centroids

    emb = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", dvec("embedding").alias("vec")
    )
    refined = kmeans_centroids(spark, SF_SMALL, k=_IVF_K, iters=3).select(
        F.col("cid").alias("cent_id"), F.col("cv").alias("cvec")
    )
    path = str(tmp_path / "ivf_km")
    build_ivf_index(emb, path, centroids=refined)

    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    got = query_ivf_index(spark, path, queries, nprobe=_IVF_NPROBE, top_k=_TOP_K)
    ann = {(r["qid"], r["vec_id"]) for r in got.collect()}
    exact = {
        (r["qid"], r["vec_id"]) for r in R["q60_knn_bruteforce"].fn(spark, SF_SMALL).collect()
    }
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.3  # nprobe/K of the corpus scanned; floor, not noise


def test_streaming_query_vectors_probe_persisted_index(spark, tmp_path):
    """Real-time retrieval: a STREAM of query vectors probes the
    persisted index through foreachBatch, and the accumulated results
    equal the one-shot batch probe of the same queries — the serving
    path the index-once/probe-many contract exists for. Micro-batches
    arrive one file at a time, so the index is probed repeatedly with
    small query sets (the production shape: queries trickle, the corpus
    side stays the materialized index)."""
    emb = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", dvec("embedding").alias("vec")
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, k=_IVF_K)

    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    staging = str(tmp_path / "qstream")
    # one file per query → one micro-batch per query
    queries.repartition("qid").write.parquet(staging)

    out = str(tmp_path / "results")

    def probe(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        query_ivf_index(
            spark, path, batch_df, nprobe=_IVF_NPROBE, top_k=_TOP_K
        ).write.mode("append").parquet(out)

    q = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .writeStream.foreachBatch(probe)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = {
        (r.qid, r.vec_id, r.sim_r, r.rnk)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.qid, r.vec_id, r.sim_r, r.rnk)
        for r in query_ivf_index(
            spark, path, queries, nprobe=_IVF_NPROBE, top_k=_TOP_K
        ).collect()
    }
    assert got == want  # stream-accumulated == batch, exactly
    assert len({qid for (qid, *_rest) in got}) == _N_QUERIES


def test_append_equals_build_on_union(spark, tmp_path):
    """append_ivf_index under the frozen centroids: assignments equal
    build-on-union row for row, and index-backed search over the
    appended layout equals search over the rebuilt one."""
    from pyspark_streaming_base_spark.operators.ivf import append_ivf_index

    emb = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", dvec("embedding").alias("vec")
    )
    a = emb.filter(F.col("vec_id") % 4 != 0)
    b = emb.filter(F.col("vec_id") % 4 == 0)

    path = str(tmp_path / "ivf_inc")
    # centroids drawn from the FULL id range so build(A) and the pinned
    # rebuild agree on the quantizer (the k= default takes lowest ids,
    # some of which sit in batch B)
    cents = emb.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cent_id"), F.col("vec").alias("cvec")
    )
    build_ivf_index(a, path, centroids=cents)
    append_ivf_index(spark, path, b)

    path_full = str(tmp_path / "ivf_full")
    build_ivf_index(emb, path_full, centroids=cents)

    def rows(p):
        return {
            (r.vec_id, r.cell, tuple(r.vec))
            for r in spark.read.parquet(f"{p}/assignments").collect()
        }

    assert rows(path) == rows(path_full)

    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    got = {
        tuple(r)
        for r in query_ivf_index(
            spark, path, queries, nprobe=_IVF_NPROBE, top_k=_TOP_K
        ).collect()
    }
    want = {
        tuple(r)
        for r in query_ivf_index(
            spark, path_full, queries, nprobe=_IVF_NPROBE, top_k=_TOP_K
        ).collect()
    }
    assert got == want and got


def test_default_quantizer_survives_offset_id_space(spark, tmp_path):
    """Same ADVICE-r6 fix as operators/pq.py: the default k-centroid
    selection must be the true lowest-k ids, not `vec_id < k`."""
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.functions.vectorops import dvec
    from pyspark_streaming_base_spark.operators.ivf import build_ivf_index

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select((F.col("vec_id") + 5_000).alias("vec_id"), dvec("embedding").alias("vec"))
    )
    path = str(tmp_path / "ivf_offset")
    build_ivf_index(emb, path, k=8)
    cent = spark.read.parquet(f"{path}/centroids")
    assert cent.count() == 8
    assert {r.cent_id for r in cent.collect()} == set(range(5_000, 5_008))


def test_delete_equals_rebuild_without(spark, tmp_path, pointer_writer):
    """Tombstoned probe == index rebuilt over survivors (frozen
    centroids shared, so cells are identical and only membership
    changes). Lifecycle template: operators/tombstones.py — run under
    both pointer kinds."""
    from pyspark_streaming_base_spark.operators.ivf import (
        compact_ivf_index,
        delete_from_ivf_index,
        ivf_assign,
    )

    emb = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", dvec("embedding").alias("vec")
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, k=_IVF_K)
    queries = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    gone = [r[0] for r in emb.select("vec_id")
            .filter(F.col("vec_id") >= _N_QUERIES)
            .orderBy("vec_id").limit(40).collect()]
    delete_from_ivf_index(spark, path, gone)

    # rebuild-without under the SAME frozen centroids
    want_path = str(tmp_path / "want")
    cent = spark.read.parquet(f"{path}/centroids")
    cent.write.parquet(f"{want_path}/centroids")
    ivf_assign(
        emb.filter(~F.col("vec_id").isin(gone)), cent
    ).write.parquet(f"{want_path}/assignments")

    def res(p):
        return sorted(
            map(
                tuple,
                query_ivf_index(
                    spark, p, queries, nprobe=_IVF_NPROBE, top_k=_TOP_K
                ).collect(),
            )
        )

    before = res(path)
    assert before == res(want_path)
    assert not any(r[1] in gone for r in before)

    compact_ivf_index(spark, path)
    import os
    assert not os.path.exists(f"{path}/tombstones")
    assert res(path) == before
    from pyspark_streaming_base_spark.operators.tombstones import read_live

    raw = read_live(spark, f"{path}/assignments")
    assert raw.filter(F.col("vec_id").isin(gone)).count() == 0


def test_tune_nprobe_monotone_and_meets_floor(spark, tmp_path):
    """The sweep's recall trace is monotone non-decreasing (supersets of
    candidates under the shared exact tie-break can only add truth
    hits), the chosen setting meets the floor, the sweep stopped at the
    FIRST schedule point that does, and the index is read-only under
    tuning."""
    import os

    from pyspark_streaming_base_spark.operators.ivf import tune_nprobe

    emb = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", dvec("embedding").alias("vec")
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, k=16)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )

    def tree(p):
        out = {}
        for root, _, files in os.walk(p):
            for f in files:
                fp = os.path.join(root, f)
                out[fp] = os.path.getmtime(fp)
        return out

    before = tree(path)
    got = tune_nprobe(spark, path, queries, top_k=10, recall_floor=0.9)
    assert tree(path) == before  # read-only

    recalls = [r for _, r in got["sweep"]]
    assert recalls == sorted(recalls), got["sweep"]  # monotone
    assert got["met"] and got["recall"] >= 0.9
    assert got["nprobe"] == got["sweep"][-1][0]
    # first schedule point meeting the floor (all earlier ones miss it)
    assert all(r < 0.9 for _, r in got["sweep"][:-1]), got["sweep"]
    # full-probe is exact: recall 1.0 when nprobe covers every cell
    full = tune_nprobe(spark, path, queries, top_k=10, recall_floor=1.0)
    assert full["met"] and full["recall"] == 1.0


def test_tune_nprobe_unreachable_floor_flags(spark, tmp_path):
    """A floor no nprobe can reach (truth deliberately poisoned with ids
    the corpus cannot return) comes back met=False at nprobe = n_cells
    instead of looping or lying."""
    from pyspark_streaming_base_spark.operators.ivf import tune_nprobe

    emb = t(spark, SF_SMALL, "embeddings").select(
        "vec_id", dvec("embedding").alias("vec")
    )
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, k=8)
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("vec").alias("qvec")
    )
    bogus = queries.select("qid", (F.col("qid") + 10_000_000).alias("vec_id"))
    got = tune_nprobe(
        spark, path, queries, top_k=5, recall_floor=0.5, truth=bogus
    )
    assert not got["met"] and got["recall"] == 0.0
    assert got["sweep"][-1][0] == 8  # walked all the way to n_cells
