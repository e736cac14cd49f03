"""Pure-Python Delta transaction-log writer.

The jar-backed ``DeltaStreamingSink`` (A3) cannot execute in environments
without delta-spark; ``sources/delta_log.py`` already closed the READ side
by replaying the published transaction-log protocol. This module closes
the WRITE side: commit parquet data files into a Delta table by appending
protocol-conformant JSON actions under ``_delta_log/`` — the same action
vocabulary the reference's committed fixture uses
(``/root/reference/tests/resources/delta_streaming_source/test_table/
_delta_log/00000000000000000000.json``: ``protocol`` / ``metaData`` /
``add``; we additionally emit ``remove`` for overwrites and ``txn`` for
streaming idempotence — all per the public Delta protocol spec).

Commit mechanics (single-writer-safe on any filesystem with atomic
put-if-absent, which the local-filesystem Delta LogStore also assumes):

1. Spark writes the batch to a staging directory inside the table
   (``df.write.parquet`` — all data movement is executor-side; the driver
   only renames files and writes O(files) metadata, exactly what every
   Delta writer's driver does).
2. The staged files are renamed to ``part-<version>-<i>`` names (the
   commit version is embedded, so a lost race cannot collide), then a
   commit JSON listing ``add`` (and for overwrite, ``remove``) actions is
   published with ``O_CREAT|O_EXCL`` — if the version was taken by a
   concurrent writer the files are re-renamed under the next version and
   the commit is retried.
3. Optional ``txn`` action ``{appId, version}`` per commit gives
   exactly-once streaming: ``foreach_batch(app_id)`` skips any micro-batch
   whose id is <= the last committed txn version for that app — replay
   after a sink failure becomes a no-op instead of a duplicate
   (the actually-wired version of the reference's declared
   ``txnAppId``/``txnVersion`` knobs, reference ``sinks/delta.py``).
4. ``checkpoint()`` compacts the log into a parquet checkpoint +
   ``_last_checkpoint`` (the reader starts from it instead of replaying
   every JSON commit — O(files) state, not O(history)).

Scale shape: per commit the driver handles one rename + one stat per
staged file and never touches row data — including parquet FOOTERS: the
per-file skipping ``stats`` are computed executor-side in one Spark job
(:func:`_stats_for_staged`), so a thousand-file commit on object storage
costs the driver a thousand renames of metadata, never a thousand remote
footer reads (real Delta computes stats in the write task for the same
reason). At 100 TB the log is O(total files) metadata like any Delta
deployment; checkpoints keep snapshot construction O(active files).

Timestamps in actions are taken from the data files' filesystem mtimes
(no wall-clock reads of our own), and the table id is derived from the
table path + schema — byte-identical logs for identical inputs.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Callable, Dict, List, Optional, Sequence, Tuple
from urllib.parse import unquote

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ..operators.schema_align import align_schema
from ..sources.delta_log import (
    DeltaLogSnapshot,
    _COMMIT_RE,
    decode_path,
    encode_path,
    latest_log_version,
    read_commit,
)

_SKIP_FILES = {"_SUCCESS"}


def _is_data_file(name: str) -> bool:
    return (
        name not in _SKIP_FILES
        and not name.startswith(".")
        and not name.startswith("_")
        and name.endswith(".parquet")
    )


def _file_stats(path: str) -> str:
    """Protocol ``stats`` JSON for one data file from its parquet footer:
    numRecords + per-top-level-column minValues/maxValues/nullCount
    (primitive types only — the same fields the reference fixture's adds
    carry). O(columns) footer metadata; row data is never read."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            cc = row_group.column(ci)
            name = cc.path_in_schema
            if "." in name:  # nested leaves: out of scope
                continue
            st = cc.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue  # undecoded physical values: skip, never guess
            if hasattr(lo, "isoformat"):
                continue  # timestamps/dates: JSON round-trip is lossy
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            if st.null_count is not None:
                nulls[name] = nulls.get(name, 0) + st.null_count
    out = {"numRecords": md.num_rows}
    if mins:
        out["minValues"] = mins
        out["maxValues"] = maxs
        out["nullCount"] = nulls
    return json.dumps(out)


def _stats_for_staged(spark, staged) -> Dict[str, str]:
    """Per-staged-file ``stats`` JSON computed EXECUTOR-side in one Spark
    job: the driver ships only the file paths and collects only the
    O(files) stats strings — it never opens a parquet footer itself.
    A driver-serial footer loop is harmless on a local FS but serializes
    thousands of remote reads through one process on object storage; real
    Delta writers fold stats into the write task for the same reason.

    The executors run the SAME :func:`_file_stats` (pickled by module
    reference), so the emitted JSON is byte-identical to a driver-side
    computation — pinned in ``tests/test_delta_log_writer.py``. An RDD is
    the right tool here (the one legitimate use: per-item imperative
    metadata work over a small path list, no row data involved)."""
    paths = [src for (_rel, _pv, src) in staged]
    if not paths:
        return {}
    sc = spark.sparkContext
    slices = min(len(paths), sc.defaultParallelism) or 1
    return dict(
        sc.parallelize(paths, slices).map(lambda p: (p, _file_stats(p))).collect()
    )


class DeltaLogTable:
    """Writable Delta table backed by the pure-Python log protocol.

    Read back with ``sources.delta_log.DeltaLogSnapshot`` (or any Delta
    client — the on-disk format is the published protocol).
    """

    def __init__(self, table_path: str, checkpoint_interval: int = 10) -> None:
        self.table_path = table_path
        self._log_dir = os.path.join(table_path, "_delta_log")
        if checkpoint_interval < 1:
            raise ValueError("checkpoint_interval must be >= 1")
        self.checkpoint_interval = checkpoint_interval

    # -- table lifecycle -----------------------------------------------------
    def exists(self) -> bool:
        return os.path.isdir(self._log_dir) and any(
            _COMMIT_RE.match(n) for n in os.listdir(self._log_dir)
        )

    def create(
        self,
        schema: StructType,
        partition_columns: Sequence[str] = (),
        configuration: Optional[Dict[str, str]] = None,
    ) -> int:
        """Commit version 0: ``protocol`` + ``metaData`` (no data files).

        Mirrors the action order of the reference fixture's commit 0.
        """
        if self.exists():
            raise FileExistsError(f"Delta table already exists: {self.table_path}")
        missing = [c for c in partition_columns if c not in schema.fieldNames()]
        if missing:
            raise ValueError(f"partition columns not in schema: {missing}")
        os.makedirs(self._log_dir, exist_ok=True)
        schema_json = json.dumps(schema.jsonValue(), separators=(",", ":"))
        table_id = hashlib.md5(
            (self.table_path + "\n" + schema_json).encode()
        ).hexdigest()
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": table_id,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_json,
                    "partitionColumns": list(partition_columns),
                    "configuration": dict(configuration or {}),
                }
            },
        ]
        if not self._publish(actions, version=0):
            raise FileExistsError(
                f"concurrent writer created {self.table_path} first"
            )
        return 0

    # -- snapshot / read-back -----------------------------------------------
    def snapshot(self, version: Optional[int] = None) -> DeltaLogSnapshot:
        return DeltaLogSnapshot(self.table_path, version=version)

    def read(self, spark, version: Optional[int] = None) -> DataFrame:
        return self.snapshot(version).read(spark)

    # -- writes --------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        txn: Optional[Tuple[str, int]] = None,
    ) -> int:
        """Commit ``df`` as one atomic log version. Returns the version.

        ``mode``: ``append`` adds files; ``overwrite`` additionally emits
        ``remove`` for every previously-active file. ``txn`` is an
        ``(app_id, version)`` pair for idempotent streaming commits.
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        snap = self.snapshot()  # raises if table was never created
        pcols = snap.partition_columns
        # same contract as UpsertTable: align by name, lossless casts
        # only, extra columns rejected, missing columns rejected
        df = align_schema(
            df, snap.schema, on_missing="error", on_extra="error"
        )

        staging = os.path.join(self.table_path, f".staging-{snap.version + 1}")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        writer = df.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(staging)

        staged = self._collect_staged(staging, pcols)
        stats = _stats_for_staged(df.sparkSession, staged)
        try:
            version = self._commit_staged(staged, snap, mode, txn, stats)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        if (version + 1) % self.checkpoint_interval == 0:
            self.checkpoint()
        return version

    def append(self, df: DataFrame, txn: Optional[Tuple[str, int]] = None) -> int:
        return self.write(df, mode="append", txn=txn)

    def overwrite(self, df: DataFrame, txn: Optional[Tuple[str, int]] = None) -> int:
        return self.write(df, mode="overwrite", txn=txn)

    # -- streaming idempotence ----------------------------------------------
    def last_txn_version(self, app_id: str) -> int:
        """Highest committed ``txn.version`` for ``app_id`` (-1 if none).

        Snapshot-backed: checkpoints persist the per-app txn ledger, so
        the answer survives ``clean_log`` — the property exactly-once
        replay depends on across metadata retention.
        """
        if not os.path.isdir(self._log_dir):
            return -1
        try:
            snap = self.snapshot()
        except (FileNotFoundError, ValueError):
            return -1
        return snap.txn_versions.get(app_id, -1)

    def foreach_batch(
        self, app_id: str, mode: str = "append"
    ) -> Callable[[DataFrame, int], None]:
        """``foreachBatch`` function with exactly-once replay semantics:
        a micro-batch whose id was already committed for ``app_id`` is
        skipped entirely (same contract proven for ``UpsertTable``)."""

        def _write(batch_df: DataFrame, batch_id: int) -> None:
            if batch_id <= self.last_txn_version(app_id):
                return
            self.write(batch_df, mode=mode, txn=(app_id, int(batch_id)))

        return _write

    # -- checkpointing -------------------------------------------------------
    def checkpoint(self) -> int:
        """Write a parquet checkpoint of the current snapshot state plus
        ``_last_checkpoint``. Returns the checkpointed version."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot()
        # checkpoint rows carry the fields the snapshot reader consumes;
        # empty dict/list values are elided (pyarrow cannot infer empty
        # struct types) — the reader treats absent as empty
        md = {
            "id": snap.metadata.get("id"),
            "schemaString": snap._schema_json,
            "partitionColumns": snap.partition_columns or None,
        }
        rows: List[dict] = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": md},
        ]
        for app, v in sorted(snap.txn_versions.items()):
            rows.append({"txn": {"appId": app, "version": int(v)}})
        for rel, pv in sorted(snap._active.items()):
            abs_path = os.path.join(self.table_path, rel)
            rows.append(
                {
                    "add": {
                        "path": encode_path(rel),
                        # None, not {}: pyarrow cannot infer an empty
                        # struct; the reader coalesces null back to {}
                        "partitionValues": pv or None,
                        "size": os.path.getsize(abs_path),
                        "modificationTime": int(os.path.getmtime(abs_path) * 1000),
                        "dataChange": False,
                        # skipping stats survive log compaction
                        "stats": snap._add_stats.get(rel),
                    }
                }
            )
        # one action per row; absent action-columns are null structs
        keys = ("protocol", "metaData", "add", "txn")
        normalized = [{k: r.get(k) for k in keys} for r in rows]
        table = pa.Table.from_pylist(normalized)
        ckpt = os.path.join(self._log_dir, f"{snap.version:020d}.checkpoint.parquet")
        pq.write_table(table, ckpt)
        with open(os.path.join(self._log_dir, "_last_checkpoint"), "w") as f:
            json.dump({"version": snap.version, "size": len(rows)}, f)
        return snap.version

    # -- incremental reads & maintenance ------------------------------------
    def read_changes(
        self,
        spark,
        from_version: int,
        to_version: Optional[int] = None,
    ) -> DataFrame:
        """Rows ADDED in commits ``(from_version, to_version]`` — the
        file-level change feed an incremental (streaming) consumer tails:
        each micro-batch is "the add actions of the commits since my last
        offset", exactly how Delta streaming sources page a table without
        jars. Only ``dataChange=true`` adds count (compaction rewrites are
        invisible, as the protocol intends); ``remove`` actions are not
        reflected (append-oriented feed — use snapshots for merge-on-read
        semantics).
        """
        versions = sorted(
            int(m.group(1))
            for n in os.listdir(self._log_dir)
            if (m := _COMMIT_RE.match(n))
        )
        latest = max(versions) if versions else -1
        if to_version is None:
            to_version = latest
        if to_version > latest or from_version > to_version:
            raise ValueError(
                f"bad change range ({from_version}, {to_version}] with latest {latest}"
            )
        snap = self.snapshot()  # for schema + partition columns
        pcols = snap.partition_columns
        full = snap.schema
        files: List[Tuple[str, Dict[str, Optional[str]]]] = []
        for v in versions:
            if v <= from_version or v > to_version:
                continue
            for action in read_commit(self._log_dir, v):
                a = action.get("add")
                if a and a.get("dataChange", True):
                    rel = decode_path(a["path"])
                    files.append(
                        (os.path.join(self.table_path, rel), a.get("partitionValues") or {})
                    )
        if not files:
            return spark.createDataFrame([], full)
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType as _St

        data_schema = _St([f for f in full.fields if f.name not in pcols])
        by_pv: Dict[Tuple, List[str]] = {}
        for p, pv in files:
            by_pv.setdefault(tuple(sorted(pv.items())), []).append(p)
        parts = []
        for key, paths in sorted(by_pv.items()):
            df = spark.read.schema(data_schema).parquet(*sorted(paths))
            pv = dict(key)
            for f in full.fields:
                if f.name in pcols:
                    df = df.withColumn(f.name, F.lit(pv.get(f.name)).cast(f.dataType))
            parts.append(df.select([f.name for f in full.fields]))
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df)
        return out


    def compact(self, spark, target_files: int = 1, zorder=None) -> int:
        """Small-files compaction: rewrite the current snapshot into
        ``target_files`` files per partition tuple and commit the swap as
        ``add(dataChange=false)`` + ``remove(dataChange=false)`` — a pure
        layout change, invisible to the change feed (proven in tests).
        Returns the commit version. One Spark job: a coalesced re-write of
        the snapshot through the normal staging path.

        ``zorder=["a", "b"]`` is OPTIMIZE ZORDER BY: the rewrite routes
        through ``operators/zorder.py::zorder_by`` so each output file
        covers a compact hyper-rectangle of those columns' key space —
        multi-column min/max file skipping for every later scan, still
        committed as a no-op to the change feed.
        """
        snap = self.snapshot()
        df = snap.read(spark)
        if zorder:
            from pyspark_streaming_base_spark.operators.zorder import zorder_by

            df = zorder_by(df, list(zorder), num_partitions=max(1, int(target_files)))
        else:
            df = df.coalesce(max(1, int(target_files)))
        pcols = snap.partition_columns
        staging = os.path.join(self.table_path, f".staging-compact-{snap.version + 1}")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        writer = df.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(staging)
        staged = self._collect_staged(staging, pcols)
        stats = _stats_for_staged(spark, staged)
        try:
            v = self._latest_version() + 1
            adds, moved = [], []
            for i, (rel_dir, pv, src) in enumerate(staged):
                name = f"part-{v:020d}-{i:05d}-c000.snappy.parquet"
                rel = os.path.join(rel_dir, name) if rel_dir else name
                dest = os.path.join(self.table_path, rel)
                os.makedirs(os.path.dirname(dest), exist_ok=True)
                os.replace(src, dest)
                moved.append((dest, src))
                st = os.stat(dest)
                adds.append(
                    {
                        "add": {
                            "path": encode_path(rel),
                            "partitionValues": pv,
                            "size": st.st_size,
                            "modificationTime": int(st.st_mtime * 1000),
                            "dataChange": False,
                            "stats": stats[src],
                        }
                    }
                )
            actions: List[dict] = []
            for rel, _pv in sorted(snap._active.items()):
                actions.append(
                    {
                        "remove": {
                            "path": encode_path(rel),
                            "deletionTimestamp": max(
                                (a["add"]["modificationTime"] for a in adds), default=0
                            ),
                            "dataChange": False,
                        }
                    }
                )
            actions.extend(adds)
            if not self._publish(actions, version=v):
                for dest, src in moved:
                    os.replace(dest, src)
                raise RuntimeError(
                    "concurrent Delta writers detected; DeltaLogTable is "
                    f"single-writer (version {v} was taken mid-commit)"
                )
            return v
        finally:
            shutil.rmtree(staging, ignore_errors=True)


    def vacuum(self) -> List[str]:
        """Delete data files no longer referenced by ANY commit's surviving
        add set (i.e. removed at some version and never re-added). Time
        travel to versions whose files were vacuumed stops working — the
        same tradeoff real Delta VACUUM documents. Returns deleted paths.
        """
        snap = self.snapshot()
        active = {os.path.normpath(p) for p, _ in snap.files()}
        deleted = []
        for root, dirs, names in os.walk(self.table_path):
            dirs[:] = [d for d in dirs if d != "_delta_log" and not d.startswith(".")]
            for n in names:
                if not _is_data_file(n):
                    continue
                p = os.path.normpath(os.path.join(root, n))
                if p not in active:
                    os.remove(p)
                    deleted.append(p)
        return sorted(deleted)

    def clean_log(self, retain_versions: int = 0) -> List[str]:
        """Log retention: delete JSON commits at or below the checkpointed
        version minus ``retain_versions`` — the metadata half of what
        keeps a 100 TB table's log O(active files) instead of O(history).
        Requires a checkpoint (take one first); the checkpoint carries
        the full file state AND the per-app ``txn`` ledger, so snapshot
        reads and exactly-once replay are unaffected (proven in tests).
        Time travel below the retained horizon stops working — the same
        tradeoff as real Delta's ``logRetentionDuration``. Returns the
        deleted commit paths.
        """
        lc = os.path.join(self._log_dir, "_last_checkpoint")
        if not os.path.exists(lc):
            raise ValueError("clean_log requires a checkpoint; call checkpoint() first")
        with open(lc) as f:
            ckpt_v = int(json.load(f)["version"])
        horizon = ckpt_v - max(0, int(retain_versions))
        deleted = []
        for n in sorted(os.listdir(self._log_dir)):
            m = _COMMIT_RE.match(n)
            if m and int(m.group(1)) <= horizon:
                p = os.path.join(self._log_dir, n)
                os.remove(p)
                deleted.append(p)
        return deleted

    # -- internals -----------------------------------------------------------
    def _collect_staged(
        self, staging: str, pcols: Sequence[str]
    ) -> List[Tuple[str, Dict[str, Optional[str]], str]]:
        """(relative dir, partitionValues, staged abs path) per data file,
        in deterministic (path-sorted) order."""
        out = []
        for root, _dirs, files in sorted(os.walk(staging)):
            rel_dir = os.path.relpath(root, staging)
            rel_dir = "" if rel_dir == "." else rel_dir
            pv: Dict[str, Optional[str]] = {}
            if rel_dir:
                for seg in rel_dir.split(os.sep):
                    if "=" not in seg:
                        raise ValueError(f"unexpected staging dir {rel_dir!r}")
                    k, _, v = seg.partition("=")
                    pv[k] = (
                        None
                        if v == "__HIVE_DEFAULT_PARTITION__"
                        else unquote(v)
                    )
            missing = [c for c in pcols if c not in pv]
            if rel_dir and missing:
                raise ValueError(f"partition dirs missing {missing} in {rel_dir!r}")
            for name in sorted(files):
                if _is_data_file(name):
                    out.append((rel_dir, pv, os.path.join(root, name)))
        return out

    def _latest_version(self) -> int:
        return latest_log_version(self._log_dir)

    def _publish(self, actions: List[dict], version: int) -> bool:
        """Put-if-absent (``O_CREAT|O_EXCL``) commit of ``version``.
        Returns False if a concurrent writer already owns that version —
        the actions are NOT written anywhere in that case."""
        path = os.path.join(self._log_dir, f"{version:020d}.json")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        with os.fdopen(fd, "w") as f:
            for a in actions:
                f.write(json.dumps(a, separators=(",", ":")) + "\n")
        return True

    def _commit_staged(
        self,
        staged: List[Tuple[str, Dict[str, Optional[str]], str]],
        snap: DeltaLogSnapshot,
        mode: str,
        txn: Optional[Tuple[str, int]],
        stats: Dict[str, str],
    ) -> int:
        """``stats`` maps staged src path → stats JSON, computed
        executor-side by :func:`_stats_for_staged` BEFORE the rename —
        the driver's only per-file work here is ``os.replace`` + stat."""
        v = self._latest_version() + 1
        adds = []
        moved = []
        for i, (rel_dir, pv, src) in enumerate(staged):
            name = f"part-{v:020d}-{i:05d}-c000.snappy.parquet"
            rel = os.path.join(rel_dir, name) if rel_dir else name
            dest = os.path.join(self.table_path, rel)
            os.makedirs(os.path.dirname(dest), exist_ok=True)
            os.replace(src, dest)
            moved.append((dest, src))
            st = os.stat(dest)
            adds.append(
                {
                    "add": {
                        "path": encode_path(rel),
                        "partitionValues": pv,
                        "size": st.st_size,
                        "modificationTime": int(st.st_mtime * 1000),
                        "dataChange": True,
                        "stats": stats[src],
                    }
                }
            )
        actions: List[dict] = []
        if txn is not None:
            actions.append({"txn": {"appId": txn[0], "version": int(txn[1])}})
        if mode == "overwrite":
            ts = max((a["add"]["modificationTime"] for a in adds), default=0)
            for rel, _pv in sorted(snap._active.items()):
                actions.append(
                    {
                        "remove": {
                            "path": encode_path(rel),
                            "deletionTimestamp": ts,
                            "dataChange": True,
                        }
                    }
                )
        actions.extend(adds)
        if self._publish(actions, version=v):
            return v
        # commit version taken mid-commit: roll the data files back to
        # staging (nothing referenced them — the commit never published)
        # and fail loudly. Retrying under a new version would be valid,
        # but this table is documented single-writer; silent retries
        # would mask a deployment error.
        for dest, src in moved:
            os.replace(dest, src)
        raise RuntimeError(
            "concurrent Delta writers detected; DeltaLogTable is "
            f"single-writer (version {v} was taken mid-commit)"
        )
