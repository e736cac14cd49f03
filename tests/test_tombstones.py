"""Shared tombstone lifecycle (``operators/tombstones.py``): the
generation-pointer swap is reader-safe and crash-bounded, the
compaction trigger fires at the documented ratio, and read failures on
the takedown path propagate instead of resurrecting deleted ids."""

from __future__ import annotations

import os
import threading
import warnings

import pytest

from pyspark_streaming_base_spark.operators.tombstones import (
    COMPACT_RATIO,
    MAX_DRIVER_DELETE_BATCH,
    TombstoneCompactionNeeded,
    apply_tombstones,
    clear_tombstones,
    maybe_compact,
    read_live,
    read_tombstones,
    swap_in,
    tombstone_ratio,
    vacuum_generations,
    write_tombstones,
)


def _ids(spark, n, start=0):
    return spark.range(start, start + n).withColumnRenamed("id", "doc_id")


def _live(tmp_path, name="live"):
    return str(tmp_path / name)


def _pointer_ok(live: str, kind: str) -> bool:
    """``symlink``: the earlier versions' link. ``manifest``: a regular
    pointer file whose first line is the pointer magic."""
    if kind == "symlink":
        return os.path.islink(live)
    if not os.path.isfile(live) or os.path.islink(live):
        return False
    with open(live, encoding="utf-8") as f:
        return f.readline().strip() == "spark-graft-generation-pointer"


def _gen_dirs(tmp_path):
    return [
        n
        for n in os.listdir(tmp_path)
        if n.startswith("live.gen.") and os.path.isdir(tmp_path / n)
    ]


def test_swap_in_migrates_legacy_dir_then_flips_pointer(
    spark, tmp_path, pointer_writer
):
    """First swap over a plain directory (a pre-pointer-layout index)
    migrates it to a generation dir + pointer (a pointer file, or the
    symlink an earlier version wrote); subsequent swaps are pure pointer
    flips and the table contents follow."""
    live = _live(tmp_path)
    _ids(spark, 10).write.parquet(live)
    assert not os.path.islink(live)

    swap_in(live, _ids(spark, 6))
    assert _pointer_ok(live, pointer_writer)
    assert read_live(spark, live).count() == 6

    swap_in(live, _ids(spark, 3))
    assert _pointer_ok(live, pointer_writer)
    assert read_live(spark, live).count() == 3


def test_swap_retains_published_generations_and_vacuum_reclaims(
    spark, tmp_path, pointer_writer
):
    """Retention is count-based over PUBLISHED generations: the newest
    GENERATIONS_RETAINED (2) previous gens survive each swap — so even
    back-to-back swaps leave a slightly-stale reader's files intact —
    and vacuum_generations removes everything but the current target."""
    from pyspark_streaming_base_spark.operators.tombstones import (
        GENERATIONS_RETAINED,
    )

    assert GENERATIONS_RETAINED == 2
    live = _live(tmp_path)
    _ids(spark, 4).write.parquet(live)
    swap_in(live, _ids(spark, 5))  # migrates legacy → gen + current gen
    assert len(_gen_dirs(tmp_path)) == 2  # current + the legacy dir

    swap_in(live, _ids(spark, 7))
    assert len(_gen_dirs(tmp_path)) == 3  # current + 2 retained

    swap_in(live, _ids(spark, 9))
    assert len(_gen_dirs(tmp_path)) == 3  # oldest swept, still cur + 2

    removed = vacuum_generations(live)
    assert removed == 2
    assert len(_gen_dirs(tmp_path)) == 1
    assert read_live(spark, live).count() == 9


def test_reader_survives_back_to_back_swaps(spark, tmp_path, pointer_writer):
    """The delete-time auto-compaction scenario: two rapid flips after a
    reader resolved the pointer. With count-based retention (2 previous
    published generations) the reader's snapshot files are still there;
    the pointer itself already serves the newest snapshot."""
    from pyspark_streaming_base_spark.operators.tombstones import snapshot_path

    live = _live(tmp_path)
    _ids(spark, 20).write.parquet(live)
    swap_in(live, _ids(spark, 21))  # establish pointer layout

    old_df = spark.read.parquet(snapshot_path(live))  # reader mid-flight
    swap_in(live, _ids(spark, 22))  # first rapid flip
    swap_in(live, _ids(spark, 23))  # second rapid flip, back-to-back

    assert old_df.count() == 21  # two flips later, files still intact
    assert read_live(spark, live).count() == 23


def test_snapshot_resolved_before_swap_survives_the_swap(
    spark, tmp_path, pointer_writer
):
    """The deterministic core of reader safety: a reader that resolved
    the pointer (the read_live protocol) BEFORE a compaction flip can
    still read its snapshot completely afterwards — the pre-flip
    generation is retained, so there is no missing-file window. The
    pointer itself already serves the new snapshot."""
    from pyspark_streaming_base_spark.operators.tombstones import snapshot_path

    live = _live(tmp_path)
    _ids(spark, 40).write.parquet(live)
    swap_in(live, _ids(spark, 41))  # establish pointer layout

    old_snapshot = snapshot_path(live)
    old_df = spark.read.parquet(old_snapshot)  # reader mid-flight
    swap_in(live, _ids(spark, 42))  # compaction flips underneath it

    assert old_df.count() == 41  # old reader completes on retained gen
    assert read_live(spark, live).count() == 42  # new readers see the swap


def test_concurrent_reader_never_sees_missing_table(
    spark, tmp_path, pointer_writer
):
    """A reader thread hammering the live table through repeated swaps
    (via the read_live pointer-resolution protocol every probe uses)
    always lands on SOME complete snapshot — the missing-directory
    window of the old rmtree+rename scheme is gone. Every observed
    count is a committed snapshot size (never partial, never an
    error)."""
    live = _live(tmp_path)
    _ids(spark, 50).write.parquet(live)
    swap_in(live, _ids(spark, 51))  # establish pointer layout up front

    sizes = {51, 52, 53, 54, 55}
    seen, errors = [], []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                seen.append(read_live(spark, live).count())
            except Exception as e:  # noqa: BLE001 — the assertion target
                errors.append(repr(e))
                return

    th = threading.Thread(target=reader)
    th.start()
    try:
        for n in sorted(sizes - {51}):
            swap_in(live, _ids(spark, n))
    finally:
        stop.set()
        th.join(timeout=120)
    assert not errors, f"reader observed a torn/missing table: {errors[:3]}"
    assert seen, "reader never completed a read"
    assert set(seen) <= sizes


def test_append_through_pointer_reaches_current_generation(
    spark, tmp_path, pointer_writer
):
    """Index APPEND paths go through append_live (resolve the pointer,
    then parquet-append into the current generation): a raw write
    through the pointer FILE would fail outright."""
    from pyspark_streaming_base_spark.operators.tombstones import append_live

    live = _live(tmp_path)
    _ids(spark, 5).write.parquet(live)
    swap_in(live, _ids(spark, 5))
    append_live(_ids(spark, 3, start=100), live)
    assert read_live(spark, live).count() == 8


def test_symlink_pointer_from_earlier_version_reads_and_converts(spark, tmp_path):
    """Earlier versions published the generation pointer as a symlink.
    Such an index still reads and appends through the link, and its
    next swap replaces the link with a pointer file serving the same
    rows."""
    from pyspark_streaming_base_spark.operators.tombstones import append_live

    live = _live(tmp_path)
    gen = f"{live}.gen.earlier"
    _ids(spark, 5).write.parquet(gen)
    os.symlink(gen, live)  # the layout an earlier version wrote

    assert read_live(spark, live).count() == 5
    append_live(_ids(spark, 2, start=100), live)
    rows = sorted(r["doc_id"] for r in read_live(spark, live).collect())
    assert len(rows) == 7

    swap_in(live, read_live(spark, live))
    assert _pointer_ok(live, "manifest")
    assert sorted(r["doc_id"] for r in read_live(spark, live).collect()) == rows


def test_manifest_pointer_file_is_validated(spark, tmp_path):
    """A stray regular file at a live path is NOT silently treated as a
    pointer: snapshot_path raises so the caller hears about the
    corruption instead of reading a nonsense location. An actual
    manifest pointer carries the magic first line."""
    import pytest

    from pyspark_streaming_base_spark.operators.tombstones import snapshot_path

    stray = str(tmp_path / "stray")
    with open(stray, "w") as f:
        f.write("not a pointer\n")
    with pytest.raises(ValueError, match="generation pointer"):
        snapshot_path(stray)

    live = _live(tmp_path)
    _ids(spark, 4).write.parquet(live)
    swap_in(live, _ids(spark, 5))
    first = open(live).readline().strip()
    assert first == "spark-graft-generation-pointer"
    assert os.path.isdir(snapshot_path(live))


def test_read_tombstones_missing_vs_corrupt(spark, tmp_path):
    """Path-missing → None (fresh index); anything else — e.g. a corrupt
    tombstone file — PROPAGATES, because 'nothing deleted' is the wrong
    default for a takedown path."""
    tomb = str(tmp_path / "tombs")
    assert read_tombstones(spark, tomb) is None

    os.makedirs(tomb)
    with open(os.path.join(tomb, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not parquet")
    with pytest.raises(Exception):
        read_tombstones(spark, tomb).collect()


def test_apply_tombstones_warns_past_ratio(spark, tmp_path):
    """With live_path wired, a probe whose tombstone set reached
    COMPACT_RATIO of the live rows raises TombstoneCompactionNeeded —
    the silent-degradation guard."""
    live, tomb = _live(tmp_path), str(tmp_path / "tombs")
    _ids(spark, 100).write.parquet(live)
    df = spark.read.parquet(live)

    write_tombstones(spark, tomb, [0, 1], "doc_id")  # 2% — under threshold
    with warnings.catch_warnings():
        warnings.simplefilter("error", TombstoneCompactionNeeded)
        assert apply_tombstones(spark, tomb, df, "doc_id", live_path=live).count() == 98

    write_tombstones(spark, tomb, range(2, 15), "doc_id")  # 15% — over
    with pytest.warns(TombstoneCompactionNeeded):
        out = apply_tombstones(spark, tomb, df, "doc_id", live_path=live)
    assert out.count() == 85


def test_maybe_compact_fires_at_threshold_and_preserves_probe(spark, tmp_path):
    """maybe_compact: no-op under the ratio, compacts at it — and the
    compacted probe equals the tombstoned probe row-for-row."""
    live, tomb = _live(tmp_path), str(tmp_path / "tombs")
    _ids(spark, 100).write.parquet(live)

    write_tombstones(spark, tomb, [1], "doc_id")
    calls = []

    def compact():
        calls.append(1)
        swap_in(live, apply_tombstones(spark, tomb, read_live(spark, live), "doc_id"))
        clear_tombstones(tomb)

    assert maybe_compact(tomb, live, compact) is False  # 1% < 10%
    assert not calls

    write_tombstones(spark, tomb, range(10, 25), "doc_id")
    before = sorted(
        r["doc_id"]
        for r in apply_tombstones(
            spark, tomb, read_live(spark, live), "doc_id"
        ).collect()
    )
    assert maybe_compact(tomb, live, compact) is True
    assert calls == [1]
    assert tombstone_ratio(tomb, live) is None  # tombstones cleared
    after = sorted(r["doc_id"] for r in read_live(spark, live).collect())
    assert after == before


def test_tombstone_ratio_counts_footers_only(spark, tmp_path):
    live, tomb = _live(tmp_path), str(tmp_path / "tombs")
    _ids(spark, 200).write.parquet(live)
    assert tombstone_ratio(tomb, live) is None  # no tombstones yet
    write_tombstones(spark, tomb, range(20), "doc_id")
    assert tombstone_ratio(tomb, live) == pytest.approx(0.10)
    assert COMPACT_RATIO == 0.10


def test_driver_side_delete_batch_is_capped(spark, tmp_path):
    """An iterable bigger than MAX_DRIVER_DELETE_BATCH is rejected with
    the pass-a-DataFrame message; a DataFrame of any size is accepted."""
    tomb = str(tmp_path / "tombs")
    with pytest.raises(ValueError, match="DataFrame"):
        write_tombstones(
            spark, tomb, range(MAX_DRIVER_DELETE_BATCH + 1), "doc_id"
        )
    write_tombstones(spark, tomb, _ids(spark, 3), "doc_id")
    assert read_tombstones(spark, tomb).count() == 3


def test_delete_time_auto_compaction_hook(spark, tmp_path):
    """Every index family's delete takes an opt-in compact_ratio: once
    tombstones reach it, the delete call itself folds them in (probe
    preserved, tombstone table gone) — an operator who never schedules
    maintenance still never degrades past the ratio. Exercised on the
    BM25 and containment families (the same shared hook serves all six)."""
    from pyspark.sql import functions as F

    from pyspark_streaming_base_spark.operators.bm25 import (
        build_bm25_index,
        delete_from_bm25_index,
        query_bm25_index,
    )
    from pyspark_streaming_base_spark.operators.containment import (
        build_containment_index,
        containment_pairs_from_index,
        delete_from_containment_index,
    )
    from pyspark_streaming_base_spark.queries._tables import t

    from tests.conftest import SF_SMALL

    docs = t(spark, SF_SMALL, "documents").select("doc_id", "lang", "text")

    # BM25: 20% delete with ratio 0.1 -> compacts in the delete call
    bidx = str(tmp_path / "bm25")
    build_bm25_index(docs.select("doc_id", "text"), bidx)
    gone = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    delete_from_bm25_index(spark, bidx, gone, compact_ratio=0.1)
    assert not os.path.exists(f"{bidx}/tombstones")  # folded immediately
    hits = query_bm25_index(spark, bidx, ["spark", "data"], top_k=10).collect()
    assert hits and all(r["doc_id"] % 5 != 0 for r in hits)

    # containment: tiny delete under the ratio -> tombstones stay
    cidx = str(tmp_path / "cont")
    build_containment_index(docs, cidx)
    base = sorted(
        (r["doc_small"], r["doc_big"])
        for r in containment_pairs_from_index(spark, cidx).collect()
    )
    victim = base[0][0]
    delete_from_containment_index(spark, cidx, [victim], compact_ratio=0.5)
    assert os.path.exists(f"{cidx}/tombstones")  # 1 doc < 50%: no fold
    # and with ratio 0.0 the next delete folds everything
    delete_from_containment_index(spark, cidx, [victim], compact_ratio=0.0)
    assert not os.path.exists(f"{cidx}/tombstones")
    after = sorted(
        (r["doc_small"], r["doc_big"])
        for r in containment_pairs_from_index(spark, cidx).collect()
    )
    assert after == [p for p in base if victim not in p]


def test_swap_sweeps_crash_debris(
    spark, tmp_path, pointer_writer
):
    """A crash between the generation write and the pointer flip leaves
    a stale gen dir (and possibly a stale ptr temp); the live pointer is
    untouched — the old snapshot still serves — and the NEXT successful
    swap sweeps the debris: a gen dir that was never PUBLISHED (absent
    from the history sidecar) is reclaimed regardless of age, while
    published previous generations are retained by count."""
    import os

    live = _live(tmp_path)
    _ids(spark, 9).write.parquet(live)
    swap_in(live, _ids(spark, 10))  # establish pointer layout

    # simulate the crash: a written-but-never-flipped generation + a
    # stale pointer temp file
    stale_gen = f"{live}.gen.deadbeef"
    os.makedirs(stale_gen)
    open(f"{stale_gen}/part-0.parquet", "wb").close()
    os.symlink(stale_gen, f"{live}.ptr.deadbeef")

    assert read_live(spark, live).count() == 10  # old snapshot intact

    swap_in(live, _ids(spark, 11))
    assert read_live(spark, live).count() == 11
    assert not os.path.exists(stale_gen)  # debris swept by the swap


# ---------------------------------------------------------------------------
# The lifecycle every persisted-index family runs through its IndexTables
# ---------------------------------------------------------------------------

_N = 20  # ids 0..19


def _docs(spark, ids, id_offset=0):
    """One unique shingle run per doc (so each doc matches only its own
    copy) plus a shared term every BM25 probe can hit."""
    return spark.createDataFrame(
        [
            (i + id_offset, "en", f"common a{i} b{i} c{i} d{i} e{i}")
            for i in ids
        ],
        "doc_id bigint, lang string, text string",
    )


def _vecs(spark, ids, col="vec"):
    import math

    return spark.createDataFrame(
        [
            (i, [math.cos(i), math.sin(i), i / _N, 1.0 - i / _N])
            for i in ids
        ],
        f"vec_id bigint, {col} array<double>",
    )


def _bm25(spark):
    from pyspark_streaming_base_spark.operators import bm25

    return dict(
        tomb="/tombstones",
        build=lambda p, ids: bm25.build_bm25_index(_docs(spark, ids), p),
        probe=lambda p: {
            r["doc_id"] for r in bm25.query_bm25_index(spark, p, ["common"]).collect()
        },
        delete=lambda p, ids, **kw: bm25.delete_from_bm25_index(spark, p, ids, **kw),
        compact=lambda p: bm25.compact_bm25_index(spark, p),
    )


def _minhash(spark):
    from pyspark_streaming_base_spark.operators import minhash

    # probe with exact copies under other ids: each live doc is a
    # candidate of its copy
    copies = _docs(spark, range(_N), id_offset=1000)
    return dict(
        tomb=".tombstones",
        build=lambda p, ids: minhash.build_minhash_index(_docs(spark, ids), p),
        probe=lambda p: {
            r["index_id"] for r in minhash.query_minhash_index(spark, p, copies).collect()
        },
        delete=lambda p, ids, **kw: minhash.delete_from_minhash_index(spark, p, ids, **kw),
        compact=lambda p: minhash.compact_minhash_index(spark, p),
    )


def _ivf(spark):
    from pyspark_streaming_base_spark.operators import ivf

    q = spark.createDataFrame([(-1, [0.0, 0.0, 0.5, 0.5])], "qid bigint, qvec array<double>")
    return dict(
        tomb="/tombstones",
        build=lambda p, ids: ivf.build_ivf_index(_vecs(spark, ids), p, k=2),
        probe=lambda p: {
            r["vec_id"]
            for r in ivf.query_ivf_index(spark, p, q, nprobe=2, top_k=_N).collect()
        },
        delete=lambda p, ids, **kw: ivf.delete_from_ivf_index(spark, p, ids, **kw),
        compact=lambda p: ivf.compact_ivf_index(spark, p),
    )


def _pq(spark):
    from pyspark_streaming_base_spark.operators import pq

    q = spark.createDataFrame([(-1, [0.0, 0.0, 0.5, 0.5])], "qid bigint, qvec array<double>")
    return dict(
        tomb="/tombstones",
        build=lambda p, ids: pq.build_pq_index(
            _vecs(spark, ids), p, m=2, k=4, iters=1, n_cells=2
        ),
        probe=lambda p: {
            r["vec_id"]
            for r in pq.query_pq_index(
                spark, p, q, m=2, nprobe=2, shortlist=_N, top_k=_N
            ).collect()
        },
        delete=lambda p, ids, **kw: pq.delete_from_pq_index(spark, p, ids, **kw),
        compact=lambda p: pq.compact_pq_index(spark, p),
    )


def _semdedup(spark):
    from pyspark_streaming_base_spark.operators import semdedup

    cent = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 1.0]), (1, [-1.0, 0.0, 1.0, 0.0])],
        "cid int, cv array<double>",
    )
    return dict(
        tomb="/tombstones",
        build=lambda p, ids: semdedup.build_semdedup_index(
            _vecs(spark, ids, col="v"), p, cent
        ),
        # every dedup policy reads the index through the live assignments
        probe=lambda p: {
            r["vec_id"] for r in semdedup._live_assignments(spark, p).collect()
        },
        delete=lambda p, ids, **kw: semdedup.delete_from_semdedup_index(
            spark, p, ids, **kw
        ),
        compact=lambda p: semdedup.compact_semdedup_index(spark, p),
    )


def _containment(spark):
    from pyspark_streaming_base_spark.operators import containment

    copies = _docs(spark, range(_N), id_offset=1000)
    return dict(
        tomb="/tombstones",
        build=lambda p, ids: containment.build_containment_index(_docs(spark, ids), p),
        probe=lambda p: {
            r["doc_big"]
            for r in containment.query_containment_index(spark, p, copies).collect()
        },
        delete=lambda p, ids, **kw: containment.delete_from_containment_index(
            spark, p, ids, **kw
        ),
        compact=lambda p: containment.compact_containment_index(spark, p),
    )


_FAMILIES = {
    "bm25": _bm25,
    "minhash": _minhash,
    "ivf": _ivf,
    "pq": _pq,
    "semdedup": _semdedup,
    "containment": _containment,
}


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_family_delete_compact_rebuild(spark, tmp_path, family):
    """Each family, on a 20-id index: a probe after a delete excludes
    the deleted ids (and warns past ``COMPACT_RATIO``); compacting folds
    the tombstones WITHOUT warning that compaction is needed;
    ``compact_ratio=0.0`` folds the tombstones inside the delete call;
    and a rebuild over the deleted-from, compacted path brings every id
    back."""
    fam = _FAMILIES[family](spark)
    path = str(tmp_path / "idx")
    tomb = path + fam["tomb"]
    everything = set(range(_N))

    fam["build"](path, range(_N))
    assert fam["probe"](path) == everything

    fam["delete"](path, range(10))  # half the ids: past the ratio in every family
    with pytest.warns(TombstoneCompactionNeeded):
        assert fam["probe"](path) == everything - set(range(10))

    with warnings.catch_warnings():
        warnings.simplefilter("error", TombstoneCompactionNeeded)
        fam["compact"](path)
        assert not os.path.exists(tomb)
        assert fam["probe"](path) == everything - set(range(10))

        fam["delete"](path, [10, 11], compact_ratio=0.0)
        assert not os.path.exists(tomb)
        assert fam["probe"](path) == everything - set(range(12))

    fam["build"](path, range(_N))
    assert not os.path.exists(tomb)
    assert fam["probe"](path) == everything
