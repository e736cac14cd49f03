"""Persisted containment index (``operators/containment.py``): the
index-backed probe equals the inline q156 operator row for row (the
prefix probe is lossless by the pigeonhole bound), appends are
O(batch)-equivalent to a rebuild, and the delete/compact lifecycle
follows the shared tombstone contract."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyspark_streaming_base_spark.operators.containment import (
    append_containment_index,
    build_containment_index,
    compact_containment_index,
    containment_pairs_from_index,
    delete_from_containment_index,
    query_containment_index,
)
from pyspark_streaming_base_spark.queries import load_all
from pyspark_streaming_base_spark.queries._tables import t

from tests.conftest import SF_SMALL


def _docs(spark):
    return t(spark, SF_SMALL, "documents").select("doc_id", "lang", "text")


def _rows(df):
    return sorted(
        (r["doc_small"], r["doc_big"], r["n_common"], r["n_small"], r["containment"])
        for r in df.collect()
    )


def test_index_probe_equals_inline_q156(spark, tmp_path):
    """The repeated-crawl entry point == the inline operator, pinned
    row-for-row including the exact containment doubles."""
    path = str(tmp_path / "cidx")
    build_containment_index(_docs(spark), path)
    got = _rows(containment_pairs_from_index(spark, path))
    want = _rows(load_all()["q156_containment_pairs"].fn(spark, SF_SMALL))
    assert got == want
    assert got  # the fixture has containment pairs


def test_batch_probe_is_directed_subset(spark, tmp_path):
    """Probing with a batch returns exactly the inline pairs whose
    SMALL side is in the batch (directed semantics)."""
    path = str(tmp_path / "cidx")
    docs = _docs(spark)
    build_containment_index(docs, path)
    batch_ids = {r["doc_id"] for r in docs.filter(F.col("doc_id") % 7 == 0).collect()}
    got = _rows(
        query_containment_index(
            spark, path, docs.filter(F.col("doc_id") % 7 == 0)
        )
    )
    want = [
        r
        for r in _rows(load_all()["q156_containment_pairs"].fn(spark, SF_SMALL))
        if r[0] in batch_ids
    ]
    assert got == want


def test_append_equals_rebuild(spark, tmp_path):
    """Crawl loop: build on day-1, append day-2/day-3 — probe equals a
    from-scratch build on the union (and equals the inline operator)."""
    path = str(tmp_path / "cidx")
    docs = _docs(spark)
    build_containment_index(docs.filter(F.col("doc_id") % 3 == 0), path)
    append_containment_index(docs.filter(F.col("doc_id") % 3 == 1), path)
    append_containment_index(docs.filter(F.col("doc_id") % 3 == 2), path)
    got = _rows(containment_pairs_from_index(spark, path))
    want = _rows(load_all()["q156_containment_pairs"].fn(spark, SF_SMALL))
    assert got == want


def test_probe_does_not_reshingle_corpus(spark, tmp_path):
    """The batch probe's plan reads the persisted tables; the corpus
    text (documents.parquet) is scanned only for the BATCH side — twice
    (prefix generation + the verify re-attach of the batch's own
    shingles), both with the batch filter pushed down — never for the
    corpus side, whose shingles come from the index."""
    from pyspark_streaming_base_spark.plans import formatted_plan

    path = str(tmp_path / "cidx")
    docs = _docs(spark)
    build_containment_index(docs, path)
    batch = docs.filter(F.col("doc_id") < 3)
    plan = formatted_plan(query_containment_index(spark, path, batch))
    assert plan.count("documents.parquet") == 2
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,3)" in plan


def test_delete_then_compact_lifecycle(spark, tmp_path, pointer_writer):
    """Tombstoned docs vanish from BOTH pair sides immediately; compact
    folds them in (pointer swap — a pointer file, or the symlink an
    earlier version wrote — slice layout preserved), clears the
    tombstone set, and preserves the probe exactly."""
    from pyspark_streaming_base_spark.operators.tombstones import snapshot_path

    path = str(tmp_path / "cidx")
    build_containment_index(_docs(spark), path)
    base = _rows(containment_pairs_from_index(spark, path))
    victim = base[0][0]  # a doc that currently pairs as doc_small
    delete_from_containment_index(spark, path, [victim])

    after = _rows(containment_pairs_from_index(spark, path))
    assert all(victim not in (a, b) for a, b, *_ in after)
    assert after == [r for r in base if victim not in (r[0], r[1])]

    compact_containment_index(spark, path)
    assert not os.path.exists(f"{path}/tombstones")
    for table in ("sets", "postings"):
        live = f"{path}/{table}"
        if pointer_writer == "symlink":
            assert os.path.islink(live)
        else:
            assert os.path.isfile(live) and not os.path.islink(live)
    # hive slice layout survives the swap
    gen = snapshot_path(f"{path}/sets")
    assert any(n.startswith("slice=") for n in os.listdir(gen))
    assert _rows(containment_pairs_from_index(spark, path)) == after
    # deleted doc's rows are physically gone from the live tables
    from pyspark_streaming_base_spark.operators.tombstones import read_live

    assert read_live(spark, f"{path}/sets").filter(
        F.col("doc_id") == victim
    ).count() == 0


def test_streaming_append_then_probe_equals_batch_build(spark, tmp_path):
    """The containment index in the crawl loop (the test_bm25_index
    streaming pattern): day-0 docs seed the index; later days stream in
    as micro-batches folded via append_containment_index (foreachBatch).
    After the stream drains, the repeated-crawl probe over the
    incrementally grown index equals the probe over a from-scratch
    build on the full corpus — exact containment doubles included."""
    docs = _docs(spark)
    day0 = docs.filter(F.col("doc_id") % 3 == 0)
    idx = str(tmp_path / "cont_idx")
    build_containment_index(day0, idx)

    staging = str(tmp_path / "days")
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(staging)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(staging)

    def fold(batch_df, batch_id):
        if not batch_df.isEmpty():
            append_containment_index(batch_df, idx)

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

    full = str(tmp_path / "cont_full")
    build_containment_index(docs, full)
    got = _rows(containment_pairs_from_index(spark, idx))
    want = _rows(containment_pairs_from_index(spark, full))
    assert got == want and got


def test_double_append_raises_with_assert_unique(spark, tmp_path):
    """The id-uniqueness contract has a loud failure mode on demand:
    appending a batch whose ids are already indexed raises (naming
    sample duplicates) when assert_unique=True — instead of silently
    doubling the probe's verify cost — and leaves the index unchanged;
    the default stays O(batch)-pure (no corpus scan)."""
    import pytest

    docs = _docs(spark)
    idx = str(tmp_path / "cidx")
    day1 = docs.filter(F.col("doc_id") % 2 == 0)
    day2 = docs.filter(F.col("doc_id") % 2 == 1)
    build_containment_index(day1, idx)
    base = _rows(containment_pairs_from_index(spark, idx))

    with pytest.raises(ValueError, match="duplicate"):
        append_containment_index(day1.limit(3), idx, assert_unique=True)
    assert _rows(containment_pairs_from_index(spark, idx)) == base  # unchanged

    # a genuinely-new batch passes the guard and lands normally
    append_containment_index(day2, idx, assert_unique=True)
    full = str(tmp_path / "full")
    build_containment_index(docs, full)
    assert _rows(containment_pairs_from_index(spark, idx)) == _rows(
        containment_pairs_from_index(spark, full)
    )


def test_rebuild_over_deleted_from_path_resurrects_ids(spark, tmp_path):
    """A build DEFINES the corpus: rebuilding an index in place over a
    previously-deleted-from path must clear the stale tombstones, so
    freshly indexed docs whose ids were tombstoned earlier pair again
    (the family-wide fresh-build contract — without the clear they'd be
    silently dropped)."""
    path = str(tmp_path / "cidx")
    docs = _docs(spark)
    build_containment_index(docs, path)
    base = _rows(containment_pairs_from_index(spark, path))
    victim = base[0][0]
    delete_from_containment_index(spark, path, [victim])
    assert os.path.exists(f"{path}/tombstones")

    build_containment_index(docs, path)  # rebuild in place, same corpus
    assert not os.path.exists(f"{path}/tombstones")
    assert _rows(containment_pairs_from_index(spark, path)) == base


def test_prefix_probe_is_sublinear_in_shingles(spark, tmp_path):
    """The candidate join consumes only each probe's pigeonhole prefix
    (~(1−tau) of its shingles + 1), not the full shingle set — the
    LSH-Ensemble-style probe bound that keeps the join linear-ish at
    scale. Checked by counting prefix rows vs total shingle rows."""
    from pyspark_streaming_base_spark.operators.containment import shingle_sets

    docs = _docs(spark)
    sets = shingle_sets(docs)
    total = sets.agg(F.sum("nt")).collect()[0][0]
    # reproduce the probe's prefix-length rule: nt − ceil(0.9·nt) + 1
    k = (
        F.col("nt")
        - F.floor((F.col("nt") * F.lit(9) + F.lit(9)) / F.lit(10))
        + F.lit(1)
    )
    prefix_rows = sets.select(k.alias("k")).agg(F.sum("k")).collect()[0][0]
    assert prefix_rows <= 0.2 * total


def test_append_after_compact_through_pointer(spark, tmp_path, pointer_writer):
    """The crawl loop keeps working ACROSS a compaction: after
    delete+compact turns the tables into generation pointers (either
    kind), a partitioned APPEND must land in the current generation and
    the next probe must see old + appended docs minus the deleted one —
    i.e. equal the inline operator over exactly that surviving corpus."""
    path = str(tmp_path / "cidx")
    docs = _docs(spark)
    day1 = docs.filter(F.col("doc_id") % 3 != 2)
    day2 = docs.filter(F.col("doc_id") % 3 == 2)
    build_containment_index(day1, path)

    victim = day1.select("doc_id").orderBy("doc_id").first()["doc_id"]
    delete_from_containment_index(spark, path, [victim])
    compact_containment_index(spark, path)
    # live path is a pointer now, either kind
    assert os.path.islink(f"{path}/sets") or os.path.isfile(f"{path}/sets")

    append_containment_index(day2, path)
    got = _rows(containment_pairs_from_index(spark, path))

    # inline q156 over the exact surviving corpus
    from pyspark_streaming_base_spark.operators.containment import (
        query_containment_index,
    )

    surviving = docs.filter(F.col("doc_id") != victim)
    want_path = str(tmp_path / "ref")
    build_containment_index(surviving, want_path)
    want = _rows(containment_pairs_from_index(spark, want_path))
    assert got == want
    assert all(victim not in (a, b) for a, b, *_ in got)
