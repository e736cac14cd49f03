"""Persisted BM25 inverted index (`operators/bm25.py`): index-backed
probe == the inline q136 query, append == build-on-union row for row, and
the probe's term filter actually reaches the postings parquet scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.operators.bm25 import (
    append_bm25_index,
    bm25_doclens,
    bm25_postings,
    build_bm25_index,
    query_bm25_index,
)
from pyspark_streaming_base_spark.queries import load_all
from pyspark_streaming_base_spark.queries._tables import t
from pyspark_streaming_base_spark.queries.text import _BM25_TERMS, _BM25_TOPK

from tests.conftest import SF_SMALL


@pytest.fixture()
def docs(spark):
    return t(spark, SF_SMALL, "documents")


def test_index_probe_equals_inline_q136(spark, docs, tmp_path):
    build_bm25_index(docs, str(tmp_path / "idx"))
    got = sorted(
        map(
            tuple,
            query_bm25_index(
                spark, str(tmp_path / "idx"), _BM25_TERMS, top_k=_BM25_TOPK
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, load_all()["q136_bm25_topk"].fn(spark, SF_SMALL).collect())
    )
    assert got == want  # bit-exact, scores included


def test_append_equals_build_on_union(spark, docs, tmp_path):
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    build_bm25_index(a, inc)
    append_bm25_index(b, inc)
    build_bm25_index(docs, full)
    for sub in ("postings", "doclens"):
        got = sorted(map(tuple, spark.read.parquet(f"{inc}/{sub}").collect()))
        want = sorted(map(tuple, spark.read.parquet(f"{full}/{sub}").collect()))
        assert got == want, sub
    # and the probe sees identical scores (stats derive from the tables)
    gq = sorted(map(tuple, query_bm25_index(spark, inc, _BM25_TERMS).collect()))
    wq = sorted(map(tuple, query_bm25_index(spark, full, _BM25_TERMS).collect()))
    assert gq == wq


def test_probe_pushes_term_filter_to_postings_scan(spark, docs, tmp_path):
    build_bm25_index(docs, str(tmp_path / "idx"))
    probe = query_bm25_index(spark, str(tmp_path / "idx"), _BM25_TERMS)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # the In(term, ...) predicate must reach the parquet reader
    assert "PushedFilters: [In(term" in plan, plan[:2000]


def test_postings_and_doclens_shapes(spark, docs):
    p = bm25_postings(docs)
    d = bm25_doclens(docs)
    assert p.columns == ["doc_id", "term", "tf"]
    assert d.columns == ["doc_id", "dl"]
    # postings tf sums back to doclens dl per doc (tokenizer consistency)
    back = p.groupBy("doc_id").agg(F.sum("tf").alias("dl2"))
    j = d.join(back, "doc_id").filter(F.col("dl") != F.col("dl2"))
    assert j.count() == 0


def test_streaming_append_then_probe_equals_batch_build(spark, docs, tmp_path):
    """The lexical index in the crawl loop: day-0 docs seed the index;
    later days stream in as micro-batches folded via append_bm25_index
    (foreachBatch). After the stream drains, probing the incrementally
    grown index equals probing a from-scratch build over the full corpus
    — scores included (stats derive from the tables, so they track every
    append automatically)."""
    day0 = docs.filter(F.col("doc_id") % 3 == 0)
    idx = str(tmp_path / "bm25_idx")
    build_bm25_index(day0, idx)

    staging = str(tmp_path / "days")
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(staging)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(staging)

    def fold(batch_df, batch_id):
        if not batch_df.isEmpty():
            append_bm25_index(batch_df, idx)

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    full = str(tmp_path / "bm25_full")
    build_bm25_index(docs, full)
    got = sorted(map(tuple, query_bm25_index(spark, idx, _BM25_TERMS).collect()))
    want = sorted(map(tuple, query_bm25_index(spark, full, _BM25_TERMS).collect()))
    assert got == want and got


# ---------------------------------------------------------------------------
# Delete + compact lifecycle
# ---------------------------------------------------------------------------


def _probe(spark, path):
    return sorted(
        map(
            tuple,
            query_bm25_index(spark, path, _BM25_TERMS, top_k=_BM25_TOPK).collect(),
        )
    )


def test_delete_equals_rebuild_without(spark, docs, tmp_path):
    """Tombstoned probe == index rebuilt over the surviving docs, scores
    included — deletes self-correct N/avgdl/df, not just the hit list."""
    from pyspark_streaming_base_spark.operators.bm25 import delete_from_bm25_index

    full = str(tmp_path / "full")
    build_bm25_index(docs, full)
    gone = [r[0] for r in docs.select("doc_id").orderBy("doc_id").limit(25).collect()]
    delete_from_bm25_index(spark, full, gone)

    survivors = docs.filter(~F.col("doc_id").isin(gone))
    want_idx = str(tmp_path / "want")
    build_bm25_index(survivors, want_idx)
    assert _probe(spark, full) == _probe(spark, want_idx)


def test_delete_is_idempotent_and_ignores_unknown_ids(spark, docs, tmp_path):
    from pyspark_streaming_base_spark.operators.bm25 import delete_from_bm25_index

    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    delete_from_bm25_index(spark, idx, [0, 1])
    before = _probe(spark, idx)
    delete_from_bm25_index(spark, idx, [0, 1])          # repeat
    delete_from_bm25_index(spark, idx, [999_999_999])   # never indexed
    assert _probe(spark, idx) == before


def test_compact_folds_tombstones_and_preserves_probes(
    spark, docs, tmp_path, pointer_writer
):
    import os

    from pyspark_streaming_base_spark.operators.bm25 import (
        compact_bm25_index,
        delete_from_bm25_index,
        load_bm25_index,
    )

    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    gone = [r[0] for r in docs.select("doc_id").orderBy("doc_id").limit(10).collect()]
    delete_from_bm25_index(spark, idx, gone)
    before = _probe(spark, idx)
    n_live = load_bm25_index(spark, idx)[1].count()

    compact_bm25_index(spark, idx)
    assert not os.path.exists(f"{idx}/tombstones")  # folded in
    assert _probe(spark, idx) == before             # same answers, no anti-join
    assert load_bm25_index(spark, idx)[1].count() == n_live
    # the physical tables no longer contain the deleted ids at all
    from pyspark_streaming_base_spark.operators.tombstones import read_live

    raw = read_live(spark, f"{idx}/doclens")
    assert raw.filter(F.col("doc_id").isin(gone)).count() == 0


def test_streaming_delete_feed_equals_rebuild(spark, docs, tmp_path):
    """Takedowns as a STREAM: deletion requests arrive as micro-batches
    folded via delete_from_bm25_index (foreachBatch) — the takedown-queue
    deployment shape. After the stream drains, the live index answers
    exactly like a from-scratch build over the survivors, and replaying
    a batch (foreachBatch at-least-once) is harmless because tombstones
    are a set."""
    from pyspark_streaming_base_spark.operators.bm25 import delete_from_bm25_index

    idx = str(tmp_path / "bm25_idx")
    build_bm25_index(docs, idx)

    gone = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    staging = str(tmp_path / "takedowns")
    gone.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(staging)
    gone.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(staging)

    def fold(batch_df, batch_id):
        if not batch_df.isEmpty():
            delete_from_bm25_index(spark, idx, batch_df)
            delete_from_bm25_index(spark, idx, batch_df)  # replay: harmless

    q = (
        spark.readStream.schema(gone.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want_idx = str(tmp_path / "want")
    build_bm25_index(docs.join(gone, "doc_id", "anti"), want_idx)
    assert _probe(spark, idx) == _probe(spark, want_idx)


def test_batch_probe_respects_tombstones(spark, docs, tmp_path):
    """query_bm25_index_table == per-query probes of the SAME tombstoned
    index: the batch path reads the live view too."""
    from pyspark_streaming_base_spark.operators.bm25 import (
        delete_from_bm25_index,
        query_bm25_index_table,
    )

    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    gone = [r[0] for r in docs.select("doc_id").orderBy("doc_id").limit(20).collect()]
    delete_from_bm25_index(spark, idx, gone)

    qtab = spark.createDataFrame(
        [("q1", t) for t in _BM25_TERMS[:3]] + [("q2", t) for t in _BM25_TERMS[2:]],
        "qid string, term string",
    )
    got = query_bm25_index_table(spark, idx, qtab, top_k=_BM25_TOPK)
    assert got.filter(F.col("doc_id").isin(gone)).count() == 0
    one = sorted(
        map(
            tuple,
            query_bm25_index(
                spark, idx, _BM25_TERMS[:3], top_k=_BM25_TOPK
            ).collect(),
        )
    )
    batch_q1 = sorted(
        map(
            tuple,
            got.filter(F.col("qid") == "q1").drop("qid").collect(),
        )
    )
    assert batch_q1 == one


def test_probe_reads_tombstones_once_for_both_live_tables(
    spark, docs, tmp_path, monkeypatch
):
    """The shared loader policy (``tombstones.load_live_view``): a probe
    of a tombstoned index anti-joins BOTH live tables (postings and
    doclens) but reads the tombstone set once; a compaction through the
    same loader still removes the deleted ids from both tables."""
    from pyspark_streaming_base_spark.operators import tombstones
    from pyspark_streaming_base_spark.operators.bm25 import (
        compact_bm25_index,
        delete_from_bm25_index,
    )

    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    gone = [r[0] for r in docs.select("doc_id").orderBy("doc_id").limit(5).collect()]
    delete_from_bm25_index(spark, idx, gone)

    calls = []
    real = tombstones.read_tombstones

    def counting(spark_, tomb_path):
        calls.append(tomb_path)
        return real(spark_, tomb_path)

    monkeypatch.setattr(tombstones, "read_tombstones", counting)
    hits = query_bm25_index(spark, idx, _BM25_TERMS, top_k=_BM25_TOPK)
    plan = hits._jdf.queryExecution().optimizedPlan().toString()
    # postings and doclens are both anti-joined (doclens feeds two branches)
    assert plan.count("LeftAnti") >= 2, plan
    assert calls == [f"{idx}/tombstones"]
    assert not {r["doc_id"] for r in hits.collect()} & set(gone)

    compact_bm25_index(spark, idx)
    for table in ("postings", "doclens"):
        raw = tombstones.read_live(spark, f"{idx}/{table}")
        assert raw.filter(F.col("doc_id").isin(gone)).count() == 0, table
