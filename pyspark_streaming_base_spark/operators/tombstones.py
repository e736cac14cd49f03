"""Shared tombstone-delete machinery for the persisted-index family
(BM25 ``operators/bm25.py``, MinHash ``operators/minhash.py``, IVF
``operators/ivf.py``, IVFADC ``operators/pq.py``, semantic blocking
``operators/semdedup.py``, containment ``operators/containment.py``) —
ONE definition of the lifecycle so every index deletes the same way
(the CLAUDE.md single-helper rule).

The pattern: a delete is an O(batch) append of ids to a tombstone
parquet table; probes read a LIVE view (index rows anti-joined against
the tombstone set) so deleted documents neither match nor contribute to
derived statistics; compaction folds tombstones into a staged-swap
rewrite of the physical tables when the tombstone list outgrows its
anti-join. Semantics: a tombstone set — unknown ids are no-ops, repeats
are idempotent. Single-writer maintenance contract, like the appends.

Reader safety (the part appends get for free and rewrites don't): the
live table path is a GENERATION POINTER flipped atomically with
``os.replace`` — so a probe racing a compaction resolves either the old
snapshot or the new one, never a missing directory. Retention is
COUNT-BASED over the published-generation HISTORY (the
``<live>.gen.history`` sidecar): the newest ``GENERATIONS_RETAINED``
previous generations survive each swap, so even back-to-back swaps
(delete-time auto-compaction can produce two rapid flips) leave a
reader that resolved the pointer before BOTH flips with intact files;
generation dirs that were never published (crash debris) are swept by
the next swap regardless of age. ``vacuum_generations`` reclaims
everything but the current snapshot once no readers remain.
Crash-safety: the only mutation of the live path is the single atomic
pointer flip — a crash before it leaves the old snapshot live, a crash
after it leaves the new one live, and stale generation/pointer temp
files are swept by the next swap or vacuum.
One documented exception: the FIRST swap over a legacy real-directory
layout (an index built before this scheme) must rename that directory
aside before the flip — a one-time, two-rename migration window.

The pointer is a tiny TEXT FILE naming the current generation
directory, published with write-temp + atomic replace (the
``sinks/manifest_parquet.py`` commit idea applied to a pointer). That is
the object-store shape: S3/GCS-style stores have no symlinks or atomic
renames of directories, but a single-key overwrite is exactly what their
APIs give you. ``snapshot_path`` still resolves a symlink pointer (the
layout earlier versions published), so such an index keeps reading and
its next ``swap_in`` replaces the link with a pointer file.

Each family declares its layout once as an ``IndexTables`` (tombstone
path, id column, live and frozen tables, ratio basis, slice
partitioning), and four functions run the whole lifecycle from it:
``load_live_view`` opens the index for probes and loads (every table
and the tombstone set read through the ``parquet.read_parquet`` schema
memo, tombstones read once and anti-joined into every live table, the
compaction-ratio check run at most once); ``delete`` appends tombstones
and, past an opt-in ``compact_ratio``, compacts (and says so);
``compact`` reads the live view without the ratio check, ``swap_in``s
every live table and clears the tombstones; ``reset_for_build`` is the build prelude (``reset_live``
every declared table, clear the tombstones).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import warnings
from dataclasses import dataclass
from typing import Callable, Optional, Sequence, Tuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from pyspark_streaming_base_spark.parquet import read_parquet

#: Tombstone-to-live row ratio at which probes warn and
#: ``maybe_compact`` fires: past this, the anti-join side stops being
#: trivially broadcastable relative to the index and every probe pays
#: for deletes that one rewrite would retire.
COMPACT_RATIO = 0.10

#: Driver-side delete batches (plain Python iterables) are capped —
#: bigger deletes must arrive as a DataFrame so the ids never ride
#: through the driver.
MAX_DRIVER_DELETE_BATCH = 100_000

#: How many PREVIOUS published generations each swap retains (besides
#: the current one). 2 — not 1 — because delete-time auto-compaction
#: hooks make back-to-back swaps plausible: a reader that resolved the
#: pointer just before TWO rapid flips must still find its snapshot.
GENERATIONS_RETAINED = 2

#: First line of a manifest pointer file — identifies the file as a
#: generation pointer (vs any stray file at the live path).
_POINTER_MAGIC = "spark-graft-generation-pointer"


def _read_pointer_file(live_path: str) -> str:
    with open(live_path, "r", encoding="utf-8") as f:
        lines = f.read().splitlines()
    if len(lines) < 2 or lines[0] != _POINTER_MAGIC:
        raise ValueError(
            f"{live_path} is a file but not a generation pointer "
            f"(expected first line {_POINTER_MAGIC!r})"
        )
    return lines[1]


class TombstoneCompactionNeeded(UserWarning):
    """The tombstone set has outgrown ``COMPACT_RATIO`` of the live
    table — schedule ``compact_*`` (or ``maybe_compact``) for this
    index."""


def write_tombstones(
    spark: SparkSession, tomb_path: str, ids, id_col: str
) -> None:
    """Append a delete batch to the tombstone table at ``tomb_path``.
    ``ids``: a DataFrame carrying ``id_col``, or a small iterable of
    values (assumed bigint ids, the family's id convention) — iterables
    materialize on the driver, so batches past
    ``MAX_DRIVER_DELETE_BATCH`` are rejected; ship those as a
    DataFrame."""
    if not isinstance(ids, DataFrame):
        ids = list(ids)
        if len(ids) > MAX_DRIVER_DELETE_BATCH:
            raise ValueError(
                f"delete batch of {len(ids)} ids exceeds the driver-side "
                f"cap ({MAX_DRIVER_DELETE_BATCH}); pass a DataFrame so the "
                "ids stay distributed"
            )
        ids = spark.createDataFrame([(int(i),) for i in ids], f"{id_col} bigint")
    ids.select(id_col).write.mode("append").parquet(tomb_path)


def read_tombstones(spark: SparkSession, tomb_path: str) -> Optional[DataFrame]:
    """The distinct tombstoned ids, or None when nothing was ever
    deleted (the common fresh-index case — avoids planning a no-op
    anti-join). ONLY the path-missing case maps to None: any other read
    failure (corrupt parquet, permissions, transient FS error)
    propagates, because treating it as "nothing deleted" would silently
    resurrect tombstoned docs — the wrong failure mode for a takedown
    path."""
    if not os.path.exists(tomb_path):
        return None
    try:
        return read_parquet(spark, tomb_path).distinct()
    except AnalysisException:
        # the dir vanished between the existence check and the read
        # (a racing clear_tombstones) — same meaning as path-missing.
        # Decided by RE-CHECKING the filesystem, not by matching the
        # exception message (Spark versions phrase PATH_NOT_FOUND
        # differently); anything else propagates.
        if not os.path.exists(tomb_path):
            return None
        raise


def _warn_past_ratio(
    tomb_path: str, live_path: str, warn_ratio: float, stacklevel: int = 3, rows_per_id: int = 1
) -> None:
    """Fire ``TombstoneCompactionNeeded`` once the tombstone-to-live
    ratio (parquet footers — driver-side metadata only, no job; see
    ``tombstone_ratio``) reaches ``warn_ratio``, so an operator who
    never schedules compaction hears about the silently-degrading probe
    instead of paying for it forever. Attributed to the caller of the
    public entry point."""
    ratio = tombstone_ratio(tomb_path, live_path, rows_per_id)
    if ratio is not None and ratio >= warn_ratio:
        warnings.warn(
            f"tombstones at {tomb_path} are {ratio:.0%} of the live "
            f"ids at {live_path} (threshold {warn_ratio:.0%}); "
            "schedule compaction",
            TombstoneCompactionNeeded,
            stacklevel=stacklevel,
        )


def apply_tombstones(
    spark: SparkSession,
    tomb_path: str,
    df: DataFrame,
    id_col: str,
    live_path: Optional[str] = None,
    warn_ratio: Optional[float] = COMPACT_RATIO,
) -> DataFrame:
    """``df`` minus tombstoned ids — the LIVE view. One anti-join; the
    tombstone side is a bare id list, broadcast by AQE while it stays
    small (compaction is the remedy when it doesn't). When the caller
    passes ``live_path`` (the physical table backing ``df``), the
    compaction-ratio check runs against it (see ``_warn_past_ratio``).
    Index families open their tables through ``load_live_view``
    instead, which shares one tombstone read across several tables."""
    tomb = read_tombstones(spark, tomb_path)
    if tomb is None:
        return df
    if live_path is not None and warn_ratio is not None:
        _warn_past_ratio(tomb_path, live_path, warn_ratio)
    return df.join(tomb.select(id_col), id_col, "anti")


@dataclass(frozen=True, kw_only=True)
class IndexTables:
    """The layout of one persisted index — everything the shared
    lifecycle needs to know about a family. ``tombstones``: the
    tombstone table's path; ``id_col``: the id column tombstones and
    live tables share; ``live``: the tables probes anti-join against
    the tombstones and compaction rewrites; ``frozen``: tables read as
    written (centroids, codebooks, ordering stats); ``ratio_basis``: the
    table the tombstone-to-live ratio is measured against, holding
    ``rows_per_id`` rows per id (MinHash: one per band), so the ratio
    counts ids; ``partition_by``: the hive layout compaction keeps for
    every live table. Each family states its layout once, in a private
    ``_tables(path, ...)``."""

    tombstones: str
    id_col: str
    live: Tuple[str, ...]
    frozen: Tuple[str, ...] = ()
    ratio_basis: str
    rows_per_id: int = 1
    partition_by: Tuple[str, ...] = ()


def _open(
    spark: SparkSession,
    tables: IndexTables,
    frozen: Sequence[str],
    ratio_basis: Optional[str],
) -> list:
    """Every live table minus the tombstoned ids, then each of
    ``frozen`` as read. All tables resolve through ``read_live`` and the
    tombstone set through ``read_tombstones``; both declare the schema
    the memo learned, so opening an index launches no job once its
    tables have been seen. The tombstone set is read ONCE and shared by
    every anti-join; the ratio check against ``ratio_basis`` runs at
    most once, only when tombstones exist, and not at all when it is
    None."""
    tomb = read_tombstones(spark, tables.tombstones)
    opened = [read_live(spark, p) for p in (*tables.live, *frozen)]
    if tomb is None:
        return opened
    if ratio_basis is not None:
        # attributed to the caller of load_live_view, as for
        # apply_tombstones
        _warn_past_ratio(tables.tombstones, ratio_basis, COMPACT_RATIO, 4, tables.rows_per_id)
    ids = tomb.select(tables.id_col)
    n = len(tables.live)
    return [t.join(ids, tables.id_col, "anti") for t in opened[:n]] + opened[n:]


def load_live_view(spark: SparkSession, tables: IndexTables) -> list:
    """Open one persisted index: every live table minus the tombstoned
    ids, then every frozen table, in declaration order. The one entry
    point for every index probe and load; warns
    ``TombstoneCompactionNeeded`` once the tombstones reach
    ``COMPACT_RATIO`` of ``ratio_basis``."""
    return _open(spark, tables, tables.frozen, tables.ratio_basis)


def delete(
    spark: SparkSession,
    tables: IndexTables,
    ids,
    compact_ratio: Optional[float] = None,
) -> bool:
    """Tombstone ``ids`` (see ``write_tombstones``) — O(batch), no table
    rewrite. With ``compact_ratio`` set, the delete is also the
    compaction scheduler: once the tombstones reach that fraction of
    ``ratio_basis`` it runs ``compact``. Returns whether it did."""
    write_tombstones(spark, tables.tombstones, ids, tables.id_col)
    return compact_ratio is not None and maybe_compact(
        tables.tombstones,
        tables.ratio_basis,
        lambda: compact(spark, tables),
        compact_ratio,
        tables.rows_per_id,
    )


def compact(spark: SparkSession, tables: IndexTables) -> None:
    """Fold the tombstones into the index: ``swap_in`` each live table
    minus the deleted ids (keeping ``partition_by``), then clear the
    tombstone set. Reads without the ratio check — a compaction is the
    remedy the warning asks for, not a probe."""
    for path, df in zip(tables.live, _open(spark, tables, (), None)):
        swap_in(path, df, tables.partition_by)
    clear_tombstones(tables.tombstones)


def reset_for_build(tables: IndexTables) -> None:
    """The build prelude: ``reset_live`` every declared table and clear
    the tombstones. A build defines the corpus, so stale deletes must
    not shadow freshly indexed ids, and its overwrite writes must land
    in plain directories, not through a generation pointer."""
    for path in (*tables.live, *tables.frozen):
        reset_live(path)
    clear_tombstones(tables.tombstones)


def _parquet_rows(path: str) -> Optional[int]:
    """Row count from parquet FOOTERS under ``path`` — O(files)
    driver-side metadata, no Spark job (the bounded-collect budget
    SCALE.md allows). None when nothing readable is there."""
    import pyarrow.parquet as pq

    if not os.path.exists(path):
        return None
    total, found = 0, False
    for root, _dirs, files in os.walk(path, followlinks=True):
        for fn in files:
            if fn.endswith(".parquet"):
                total += pq.read_metadata(os.path.join(root, fn)).num_rows
                found = True
    return total if found else None


def tombstone_ratio(tomb_path: str, live_path: str, rows_per_id: int = 1) -> Optional[float]:
    """Tombstoned ids / live ids from parquet footers (the live table
    holds ``rows_per_id`` rows per id), or None when either side is
    missing/empty. The tombstone count includes idempotent
    repeat-appends (footers can't distinct), so this is an upper bound
    — exactly the right bias for a compaction trigger."""
    tomb = _parquet_rows(snapshot_path(tomb_path))
    live = _parquet_rows(snapshot_path(live_path))
    if tomb is None or not live:
        return None
    return tomb * rows_per_id / live


def maybe_compact(
    tomb_path: str,
    live_path: str,
    compact_fn: Callable[[], None],
    ratio: float = COMPACT_RATIO,
    rows_per_id: int = 1,
) -> bool:
    """Run ``compact_fn`` iff the tombstone-to-live ratio (see
    ``tombstone_ratio``) reached ``ratio``; returns whether it ran. The
    scheduling hook callers put after delete batches:
    ``maybe_compact(tp, lp, lambda: compact_bm25_index(spark, path))``."""
    r = tombstone_ratio(tomb_path, live_path, rows_per_id)
    if r is not None and r >= ratio:
        compact_fn()
        return True
    return False


def snapshot_path(live_path: str) -> str:
    """Resolve the generation POINTER to the immutable snapshot
    directory it names (a pointer file via its recorded target, a
    plain directory is its own snapshot, and a symlink pointer from an
    earlier version via realpath). Probes must read the resolved path,
    not the pointer: file paths listed through the pointer would dangle
    if a compaction flipped it mid-read, while the resolved generation
    dir is never mutated and survives at least ``GENERATIONS_RETAINED``
    further swaps (see ``swap_in``'s retention rule)."""
    if os.path.islink(live_path):
        return os.path.realpath(live_path)
    if os.path.isfile(live_path):
        return _read_pointer_file(live_path)
    return live_path


def read_live(spark: SparkSession, live_path: str) -> DataFrame:
    """``read_parquet`` of the CURRENT snapshot behind ``live_path`` —
    the one read entry point for every persisted-index probe, so the
    pointer-resolution rule lives in one place."""
    return read_parquet(spark, snapshot_path(live_path))


def append_live(df: DataFrame, live_path: str, partition_by=()) -> None:
    """Parquet-append a batch to the CURRENT generation behind
    ``live_path`` — the one WRITE entry point for every index family's
    O(batch) append, mirroring ``read_live``. Resolving the pointer
    first is what makes appends work at all (a raw
    ``.parquet(live_path)`` would try to write into the pointer FILE).
    Single-writer maintenance contract: an append racing a
    compaction flip may land in the pre-flip generation — same as the
    family-wide contract that appends and compactions don't race."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(snapshot_path(live_path))


def _generation_dirs(live_path: str) -> list:
    parent = os.path.dirname(os.path.abspath(live_path)) or "."
    prefix = os.path.basename(live_path) + ".gen."
    if not os.path.isdir(parent):
        return []
    return [
        os.path.join(parent, n)
        for n in os.listdir(parent)
        if n.startswith(prefix) and os.path.isdir(os.path.join(parent, n))
    ]


def _history_path(live_path: str) -> str:
    return f"{live_path}.gen.history"


def _read_history(live_path: str) -> list:
    """Published-generation history (oldest → newest, realpaths,
    current last). Missing/corrupt → empty (retention then degrades to
    current+previous for one swap — the pre-history behavior — and the
    sidecar is rebuilt by that swap)."""
    try:
        with open(_history_path(live_path), "r", encoding="utf-8") as f:
            hist = json.load(f)
        return [g for g in hist if isinstance(g, str)]
    except (OSError, json.JSONDecodeError):
        return []


def _write_history(live_path: str, hist: list) -> None:
    tmp = f"{_history_path(live_path)}.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(hist, f)
    os.replace(tmp, _history_path(live_path))


def _publish_pointer(live_path: str, gen: str) -> Optional[str]:
    """Atomically point ``live_path`` at ``gen`` with a pointer file
    (replacing a symlink pointer from an earlier version), migrating a
    legacy real-directory live table aside first. Returns the pre-flip
    snapshot path (None for a fresh live path)."""
    prev: Optional[str] = (
        os.path.realpath(snapshot_path(live_path))
        if os.path.lexists(live_path)
        else None
    )
    if os.path.isdir(live_path) and not os.path.islink(live_path):
        # legacy real-directory live: rename aside, then flip (a
        # one-time two-rename window; every later swap is atomic)
        legacy = f"{live_path}.gen.legacy-{uuid.uuid4().hex}"
        os.rename(live_path, legacy)
        prev = os.path.realpath(legacy)

    tmp = f"{live_path}.ptr.{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(f"{_POINTER_MAGIC}\n{os.path.abspath(gen)}\n")
    try:
        os.replace(tmp, live_path)
    except BaseException:
        if os.path.lexists(tmp):
            os.remove(tmp)
        raise
    return prev


def swap_in(live_path: str, staged_df: DataFrame, partition_by=()) -> None:
    """Staged-swap rewrite of one physical table, safe for concurrent
    readers: write the new snapshot to a fresh generation directory
    ``<live>.gen.<id>``, then flip the ``live_path`` pointer to it with
    one atomic ``os.replace`` of a pointer file. A reader resolving the
    pointer sees the old snapshot or the new one, never a missing
    directory.

    Retention: the newest ``GENERATIONS_RETAINED`` PUBLISHED previous
    generations survive each swap (recorded in the ``.gen.history``
    sidecar), so back-to-back swaps — plausible under the delete-time
    auto-compaction hooks — still leave a reader that resolved the
    pointer before several flips with intact files. Generation dirs
    that were never published (crash debris: written but never flipped
    to) are swept immediately. ``vacuum_generations`` reclaims all but
    the current snapshot once no readers remain. Crash-safety: a crash
    before the flip leaves the old snapshot live; after it, the new
    one; a crash between flip and history write only delays retention
    bookkeeping by one swap (the next swap re-derives the pre-flip
    generation from the pointer itself).

    Legacy migration: an index built before this scheme has a real
    directory at ``live_path`` — that first swap renames it aside
    before the flip (a one-time two-rename window)."""
    gen = f"{live_path}.gen.{uuid.uuid4().hex}"
    writer = staged_df.write.mode("overwrite")
    if partition_by:
        # tables laid out hive-partitioned (e.g. the containment index's
        # size slices) keep that layout through compaction
        writer = writer.partitionBy(*partition_by)
    writer.parquet(gen)

    prev = _publish_pointer(live_path, gen)

    # retention: newest GENERATIONS_RETAINED published gens + current
    hist = _read_history(live_path)
    if prev is not None and prev not in hist:
        hist.append(prev)  # pre-history index or legacy migration
    cur = os.path.realpath(os.path.abspath(gen))
    hist = [g for g in hist if g != cur] + [cur]
    hist = hist[-(GENERATIONS_RETAINED + 1):]
    keep = set(hist)
    for d in _generation_dirs(live_path):
        if os.path.realpath(d) not in keep:
            shutil.rmtree(d, ignore_errors=True)
    _write_history(live_path, [g for g in hist if os.path.isdir(g)])


def vacuum_generations(live_path: str) -> int:
    """Reclaim every generation directory except the current pointer
    target — the maintenance job to run once no reader can still hold
    a previous snapshot. Returns the number of directories removed."""
    if not os.path.lexists(live_path):
        return 0
    current = os.path.realpath(snapshot_path(live_path))
    removed = 0
    for d in _generation_dirs(live_path):
        if os.path.realpath(d) != current:
            shutil.rmtree(d, ignore_errors=True)
            removed += 1
    if os.path.isdir(current):
        _write_history(live_path, [current])
    return removed


def clear_tombstones(tomb_path: str) -> None:
    shutil.rmtree(tomb_path, ignore_errors=True)


def assert_ids_absent(
    live_path: str, batch_ids: DataFrame, id_col: str, n_sample: int = 5
) -> None:
    """Raise ``ValueError`` if any id in ``batch_ids`` already exists in
    the live table — the OPT-IN guard for the family-wide "never append
    an id twice" contract (a silent double-append doesn't corrupt
    results where probes distinct their candidates, but it silently
    doubles storage and verify cost). Costs one keys-only scan of the
    live table's id column (semi-join; the batch side broadcasts), so
    it is a flag rather than a default: the O(batch) append property is
    the family's scale story, and callers with an external uniqueness
    guarantee (e.g. a crawl frontier that never re-emits an id) skip
    it."""
    spark = batch_ids.sparkSession
    existing = read_live(spark, live_path).select(id_col)
    dup = batch_ids.select(id_col).distinct().join(existing, id_col, "semi")
    sample = [r[0] for r in dup.limit(n_sample).collect()]
    if sample:
        raise ValueError(
            f"append would duplicate {id_col}s already present in "
            f"{live_path} (sample: {sample}); the family contract is one "
            "append per id — dedupe the batch or delete the old rows first"
        )


def reset_live(live_path: str) -> None:
    """Tear down any generation pointer, retained generations and
    history sidecar at ``live_path`` so a fresh BUILD writes a plain
    directory. ``build_*_index`` call this before their overwrite
    writes: a parquet overwrite THROUGH a pointer would fail outright
    (or, through an earlier version's symlink, mutate an immutable
    snapshot).
    A build defines the corpus — it is not a reader-safe operation, so
    tearing the pointer down is in contract (rewrites that must stay
    reader-safe go through ``swap_in``)."""
    if os.path.islink(live_path) or os.path.isfile(live_path):
        os.remove(live_path)
    elif os.path.isdir(live_path):
        shutil.rmtree(live_path, ignore_errors=True)
    for d in _generation_dirs(live_path):
        shutil.rmtree(d, ignore_errors=True)
    hp = _history_path(live_path)
    if os.path.exists(hp):
        os.remove(hp)
