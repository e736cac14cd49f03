"""Persisted MinHash index: probe-vs-recompute equivalence and the
incremental-batch property (signatures computed for the batch only)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_streaming_base_spark.operators.minhash import (
    build_minhash_index,
    minhash_bands,
    query_minhash_index,
)
from pyspark_streaming_base_spark.queries._tables import t

from tests.conftest import SF_SMALL


def test_index_probe_equals_recompute(spark, tmp_path):
    docs = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    path = str(tmp_path / "mh_index")
    build_minhash_index(docs, path)

    batch = docs.filter(F.col("doc_id") < 100)
    got = {
        (r["query_id"], r["index_id"])
        for r in query_minhash_index(spark, path, batch).collect()
    }

    sig = minhash_bands(docs)
    probe_sig = minhash_bands(batch).select(
        F.col("doc_id").alias("query_id"), "band_idx", "band_hash"
    )
    want = {
        (r["query_id"], r["index_id"])
        for r in probe_sig.join(
            sig.select(F.col("doc_id").alias("index_id"), "band_idx", "band_hash"),
            ["band_idx", "band_hash"],
        )
        .filter(F.col("query_id") != F.col("index_id"))
        .select("query_id", "index_id")
        .distinct()
        .collect()
    }
    assert got == want
    assert got  # the corpus has near-dups below id 100 → non-empty

    # every q41-style same-band pair within the batch appears both ways
    sym = {(b, a) for a, b in got if b < 100}
    assert sym <= got


def test_index_is_batch_proportional(spark, tmp_path):
    """The probe plan reads the index parquet; it must NOT re-shingle the
    corpus (only the 3-row batch side computes signatures)."""
    docs = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    path = str(tmp_path / "mh_index")
    build_minhash_index(docs, path)
    batch = docs.filter(F.col("doc_id") < 3)
    from pyspark_streaming_base_spark.plans import formatted_plan

    plan = formatted_plan(query_minhash_index(spark, path, batch))
    # two parquet scans total (formatted explain names each scan twice —
    # tree line + detail header): the 3-row batch (documents.parquet) and
    # the materialized index — the corpus text is never re-read/re-shingled
    assert plan.count("Scan parquet") == 4
    assert plan.count("documents.parquet") == 1


def test_append_equals_build_on_union(spark, tmp_path):
    """Incremental crawl: build on day-1 docs, append day-2 and day-3
    batches — the signature table must equal build-on-the-union row for
    row (the pipeline is pure per-row expressions), and a probe of the
    appended index must return candidates among the appended docs."""
    from pyspark_streaming_base_spark.operators.minhash import append_minhash_index

    docs = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    day1 = docs.filter(F.col("doc_id") % 3 == 0)
    day2 = docs.filter(F.col("doc_id") % 3 == 1)
    day3 = docs.filter(F.col("doc_id") % 3 == 2)

    path = str(tmp_path / "mh_inc")
    build_minhash_index(day1, path)
    append_minhash_index(day2, path)
    append_minhash_index(day3, path)

    path_full = str(tmp_path / "mh_full")
    build_minhash_index(docs, path_full)

    def rows(p):
        return {
            (r.doc_id, r.band_idx, r.band_hash)
            for r in spark.read.parquet(p).collect()
        }

    assert rows(path) == rows(path_full)

    batch = docs.filter(F.col("doc_id") < 100)
    got = {
        (r.query_id, r.index_id)
        for r in query_minhash_index(spark, path, batch).collect()
    }
    want = {
        (r.query_id, r.index_id)
        for r in query_minhash_index(spark, path_full, batch).collect()
    }
    assert got == want and got
    # candidates reach docs from every appended day
    assert {i % 3 for _, i in got} == {0, 1, 2}


# ---------------------------------------------------------------------------
# Delete + compact lifecycle (template shared with operators/bm25.py)
# ---------------------------------------------------------------------------


def _pairs(spark, path, probe):
    from pyspark_streaming_base_spark.operators.minhash import query_minhash_index

    return sorted(
        map(tuple, query_minhash_index(spark, path, probe).collect())
    )


def test_delete_removes_candidates_and_equals_rebuild(spark, tmp_path):
    from pyspark_streaming_base_spark.operators.minhash import (
        build_minhash_index,
        delete_from_minhash_index,
    )

    docs = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    probe = docs.filter(F.col("doc_id") % 5 == 0).limit(40)
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx)
    gone = [
        r[0] for r in corpus.select("doc_id").orderBy("doc_id").limit(50).collect()
    ]
    delete_from_minhash_index(spark, idx, gone)

    want_idx = str(tmp_path / "want")
    build_minhash_index(corpus.filter(~F.col("doc_id").isin(gone)), want_idx)
    got = _pairs(spark, idx, probe)
    assert got == _pairs(spark, want_idx, probe)
    assert not any(ix in gone for _, ix in got)


def test_compact_folds_tombstones(spark, tmp_path, pointer_writer):
    import os

    from pyspark_streaming_base_spark.operators.minhash import (
        build_minhash_index,
        compact_minhash_index,
        delete_from_minhash_index,
    )

    docs = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    probe = docs.filter(F.col("doc_id") % 5 == 0).limit(40)
    idx = str(tmp_path / "idx")
    build_minhash_index(corpus, idx)
    gone = [
        r[0] for r in corpus.select("doc_id").orderBy("doc_id").limit(30).collect()
    ]
    delete_from_minhash_index(spark, idx, gone)
    before = _pairs(spark, idx, probe)

    compact_minhash_index(spark, idx)
    assert not os.path.exists(f"{idx}.tombstones")
    assert _pairs(spark, idx, probe) == before
    from pyspark_streaming_base_spark.operators.tombstones import read_live

    raw = read_live(spark, idx)
    assert raw.filter(F.col("doc_id").isin(gone)).count() == 0


def test_compaction_ratio_counts_docs_not_bands(spark, tmp_path):
    """The signature table holds N_BANDS rows per doc, but the
    tombstone ratio counts docs: deleting 2 of 20 docs (10%) reaches the
    10% threshold — the probe warns and ``compact_ratio=0.1`` compacts."""
    import os

    import pytest

    from pyspark_streaming_base_spark.operators.minhash import (
        N_BANDS,
        delete_from_minhash_index,
        load_minhash_index,
    )
    from pyspark_streaming_base_spark.operators.tombstones import (
        TombstoneCompactionNeeded,
        read_live,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} shares w{i % 3} words") for i in range(20)],
        "doc_id bigint, text string",
    )
    warned, compacted = str(tmp_path / "warned"), str(tmp_path / "compacted")
    for idx in (warned, compacted):
        build_minhash_index(docs, idx)
    assert read_live(spark, warned).count() == 20 * N_BANDS

    delete_from_minhash_index(spark, warned, [0, 1])
    with pytest.warns(TombstoneCompactionNeeded, match="10% of the live ids"):
        load_minhash_index(spark, warned)

    delete_from_minhash_index(spark, compacted, [0, 1], compact_ratio=0.1)
    assert not os.path.exists(f"{compacted}.tombstones")
    ids = {r["doc_id"] for r in read_live(spark, compacted).collect()}
    assert ids == set(range(2, 20))


def test_permutations_are_distinct(spark):
    """Regression guard for the r13 salt fix: a two-parameter lambda
    passed to transform() is the (element, index) variant, so the old
    `lambda x, i=i:` salting silently rebound every salt to the array
    index — all 16 permutation minima collapsed to ONE function and the
    4 band hashes were identical per document. The restored banding
    must produce ≥2 distinct band hashes for essentially every
    multi-shingle document (16 independent permutations agreeing on a
    band quadruple is a ~2⁻⁶⁴ event)."""
    docs = t(spark, SF_SMALL, "documents").select("doc_id", "text").limit(50)
    per_doc = (
        minhash_bands(docs)
        .groupBy("doc_id")
        .agg(F.countDistinct("band_hash").alias("nb"))
        .collect()
    )
    assert per_doc
    assert all(r.nb >= 2 for r in per_doc), [
        (r.doc_id, r.nb) for r in per_doc if r.nb < 2
    ]
