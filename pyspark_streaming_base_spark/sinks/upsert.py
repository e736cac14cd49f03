"""Keyed upsert table ("apply changes" / CDC merge) — Delta-MERGE
semantics without Delta, on the manifest commit protocol.

The reference's idempotent-write knobs (A12) stop at *replay protection*;
real CDC ingestion also needs *merge* semantics: each arriving batch of
(key, sequence, payload[, delete flag]) rows must upsert into a queryable
table keeping only the latest version of every key. This module
implements the copy-on-write flavor the way a table format would:

* the table is laid out as ``N`` hash buckets of the key
  (``pmod(xxhash64(keys), N)``); each bucket directory carries its own
  snapshot manifests (``_manifests/<batch_id>.json`` listing the
  bucket's current parquet files, written atomically via tmp +
  ``os.replace``);
* ``apply(batch_df, batch_id)`` rewrites ONLY the buckets containing the
  batch's keys — and does it in ONE Spark job: the current snapshots of
  every touched bucket union with the batch, a single exchange
  repartitions by ``_bucket``, keep-latest runs bucket-locally (the
  dedup and the rank window both include ``_bucket`` in their grouping,
  so the one exchange satisfies both), and ``partitionBy("_bucket")``
  writes every merged bucket from that one job. The driver then promotes
  the staged files into the per-bucket directories (pure ``os.replace``
  metadata ops) and commits each bucket's manifest. Untouched buckets
  are untouched — the 100 TB property: write amplification is (touched
  buckets / N) of the table, not the table, and wall-clock is one job
  per batch, not one job per touched bucket;
* readers (``read``) take each bucket's HIGHEST-numbered manifest — a
  consistent per-bucket snapshot; concurrent readers never see a
  half-merged bucket (old manifest stays valid until the new one lands);
* replay-idempotent by algebra AND by protocol: a replayed batch merges
  its own earlier output (keep-latest of an idempotent union) and
  overwrites the SAME manifest id, so crash-rerun converges to the same
  snapshot — the same guarantee the ledger gives plain appends in
  ``foreach_batch.py``;
* deletes: an optional boolean column marks tombstones. Tombstones are
  RETAINED in the stored snapshot (they compete on sequence like any
  version, so a late-arriving row older than the delete cannot resurrect
  the key) and filtered out at read time; a genuinely later re-insert
  wins by sequence, CDC-style. Physically dropping old tombstones is a
  maintenance compaction once the watermark passes their sequence.
  **Tie rule (documented contract): when a tombstone and a non-delete
  row share the same (key, sequence), the delete wins** — the rank
  window orders by (seq DESC, delete DESC), so survivorship is
  deterministic even on colliding sequences.

* ADDITIVE schema evolution (the Delta ``mergeSchema`` contract): a
  batch may carry NEW columns — they append to the stored schema as
  nullable fields, and files written before the evolution null-fill them
  at read (snapshot reads always apply the stored schema explicitly).
  Existing columns keep their stored type; the batch safe-casts to it
  (widening ok, narrowing raises — ``operators/schema_align.py``). The
  merge keys (key/seq/delete) must always be present. Time travel reads
  old snapshots under the LATEST schema (null-filled), not the
  historical one.

The driver only ever touches bucket ids and file names (O(metadata));
all data movement is Spark parquet read/write of the touched buckets.

Scale tuning: ``n_buckets`` trades write amplification against small
files — size it so one bucket ≈ a few target files. At real scale the
same layout upgrades to partition+bucket (date/bucket) without changing
the protocol — see :class:`PartitionedUpsertTable`, whose ``apply`` is
the same single job over (partition, bucket) pairs.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.parquet import read_parquet


def _keep_latest(
    df: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
    delete_col: Optional[str],
    group_extra: Sequence[str] = (),
) -> DataFrame:
    """Latest version per key (within ``group_extra`` scope, e.g. the
    ``_bucket`` / ``_part`` helper columns). (key, seq) collisions
    resolve delete-wins; exact duplicates collapse first so the rank is
    deterministic. Both the dedup grouping and the window partition
    include ``group_extra``, so a child already hash-partitioned on the
    extras needs NO further exchange (HashPartitioning on a subset of
    the clustering keys satisfies ClusteredDistribution).
    """
    dedup_cols = list(group_extra) + list(key_cols) + [seq_col]
    order = [F.col(seq_col).desc()]
    if delete_col:
        dedup_cols.append(delete_col)
        order.append(F.coalesce(F.col(delete_col), F.lit(False)).desc())
    w = Window.partitionBy(*(list(group_extra) + list(key_cols))).orderBy(*order)
    return (
        df.dropDuplicates(dedup_cols)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


class UpsertTable:
    """Bucketed copy-on-write keyed table with snapshot manifests."""

    def __init__(
        self,
        root: str,
        key_cols: Sequence[str],
        seq_col: str,
        n_buckets: int = 16,
        delete_col: Optional[str] = None,
    ) -> None:
        if not key_cols:
            raise ValueError("key_cols must be non-empty")
        self.root = root
        self.key_cols = list(key_cols)
        self.seq_col = seq_col
        self.n_buckets = int(n_buckets)
        self.delete_col = delete_col
        os.makedirs(root, exist_ok=True)

    # -- layout helpers ------------------------------------------------------
    def _bucket_expr(self) -> F.Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets))

    def _bucket_dir(self, b: int) -> str:
        return os.path.join(self.root, f"bucket={b:05d}")

    def _manifest_dir(self, b: int) -> str:
        return os.path.join(self._bucket_dir(b), "_manifests")

    def _latest_manifest(self, b: int, as_of: Optional[int] = None) -> Optional[str]:
        """Highest-numbered manifest, optionally capped at ``as_of``
        (zero-padded names sort numerically)."""
        mdir = self._manifest_dir(b)
        if not os.path.isdir(mdir):
            return None
        names = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
        if as_of is not None:
            cap = f"{as_of:020d}.json"
            names = [n for n in names if n <= cap]
        return os.path.join(mdir, names[-1]) if names else None

    def _bucket_files(self, b: int, as_of: Optional[int] = None) -> List[str]:
        m = self._latest_manifest(b, as_of)
        if m is None:
            return []
        with open(m) as f:
            return json.load(f)["files"]

    def _commit_bucket(self, b: int, batch_id: int, files: List[str]) -> None:
        mdir = self._manifest_dir(b)
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "files": sorted(files)}, f)
        os.replace(tmp, os.path.join(mdir, f"{batch_id:020d}.json"))

    def _schema_path(self) -> str:
        return os.path.join(self.root, "_schema.json")

    def _write_schema_once(self, df: DataFrame) -> None:
        if not os.path.exists(self._schema_path()):
            self._write_schema(df.schema)

    def _write_schema(self, schema) -> None:
        tmp = self._schema_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(schema.json())
        os.replace(tmp, self._schema_path())

    def _stored_schema(self):
        if not os.path.exists(self._schema_path()):
            return None
        from pyspark.sql.types import StructType

        with open(self._schema_path()) as f:
            return StructType.fromJson(json.load(f))

    def _evolve_schema(self, stored, batch_schema):
        """ADDITIVE schema evolution (the Delta `mergeSchema` contract):
        batch columns unknown to the stored schema are appended as
        nullable fields; existing columns keep their stored type (the
        batch is safe-cast to it by ``align_schema`` — widening ok,
        narrowing raises). Returns the evolved StructType."""
        from pyspark.sql.types import StructField, StructType

        have = {f.name.lower() for f in stored.fields}
        new = [
            StructField(f.name, f.dataType, nullable=True)
            for f in batch_schema.fields
            if f.name.lower() not in have
        ]
        return StructType(list(stored.fields) + new) if new else stored

    def _promote_staging(self, staging: str) -> Dict[int, List[str]]:
        """Move a ``partitionBy('_bucket')`` staging output into the
        per-bucket ``data/`` directories. Driver-side, pure ``os.replace``
        (same filesystem — staging lives under the table root): O(files)
        metadata ops, never data movement. Returns {bucket: [files]}.
        """
        out: Dict[int, List[str]] = {}
        for d in sorted(os.listdir(staging)):
            if not d.startswith("_bucket="):
                continue
            b = int(d.split("=", 1)[1])
            dest = os.path.join(self._bucket_dir(b), "data", uuid.uuid4().hex)
            os.makedirs(dest, exist_ok=True)
            files: List[str] = []
            src_dir = os.path.join(staging, d)
            for fn in sorted(os.listdir(src_dir)):
                if fn.endswith(".parquet"):
                    dst = os.path.join(dest, fn)
                    os.replace(os.path.join(src_dir, fn), dst)
                    files.append(dst)
            out[b] = files
        shutil.rmtree(staging, ignore_errors=True)
        return out

    def _staging_dir(self) -> str:
        return os.path.join(self.root, "_staging", uuid.uuid4().hex)

    # -- write path ----------------------------------------------------------
    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        """Merge one batch of change rows in ONE Spark job; rewrites only
        touched buckets. The job's plan is: union(current snapshots of
        touched buckets, batch) → single exchange on ``_bucket`` →
        bucket-local dedup + rank (no further exchange — both group on
        ``_bucket`` first) → ``partitionBy('_bucket')`` write. Manifests
        commit from the job's output listing, after the data lands.
        """
        spark = batch_df.sparkSession
        # the merge keys must be present — a CDC row without its key or
        # sequence is meaningless (other columns may evolve; these can't)
        required = self.key_cols + [self.seq_col] + (
            [self.delete_col] if self.delete_col else []
        )
        batch_names = {c.lower() for c in batch_df.columns}
        missing = [c for c in required if c.lower() not in batch_names]
        if missing:
            raise ValueError(f"batch is missing required columns {missing}")
        # ADDITIVE schema evolution: new batch columns append (nullable);
        # rows/files written under the old schema null-fill them at read
        stored = self._stored_schema()
        if stored is None:
            target = batch_df.schema
            self._write_schema(target)
        else:
            target = self._evolve_schema(stored, batch_df.schema)
            if target != stored:
                self._write_schema(target)
        from pyspark_streaming_base_spark.operators.schema_align import (
            align_schema,
        )

        batch = align_schema(batch_df, target).withColumn(
            "_bucket", self._bucket_expr()
        )
        # driver sees only bucket IDS (≤ n_buckets ints) — never data
        touched = sorted(
            r["_bucket"] for r in batch.select("_bucket").distinct().collect()
        )
        if not touched:
            return

        current_files = [f for b in touched for f in self._bucket_files(b)]
        if current_files:
            # explicit schema: pre-evolution files lack the new columns —
            # the parquet reader null-fills them under the target schema
            current = spark.read.schema(target).parquet(
                *current_files
            ).withColumn("_bucket", self._bucket_expr())
            merged = current.unionByName(batch)
        else:
            merged = batch
        latest = _keep_latest(
            merged.repartition(len(touched), F.col("_bucket")),
            self.key_cols,
            self.seq_col,
            self.delete_col,
            group_extra=["_bucket"],
        )
        staging = self._staging_dir()
        latest.write.partitionBy("_bucket").mode("overwrite").parquet(staging)
        new_files = self._promote_staging(staging)
        for b in touched:
            # a touched bucket always has ≥1 surviving row (keep-latest of
            # a non-empty slice); .get guards a pathological empty write
            self._commit_bucket(b, batch_id, new_files.get(b, []))

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch`` (CDC apply-changes)."""
        return lambda df, batch_id: self.apply(df, batch_id)

    def compact(self, spark: SparkSession, drop_tombstones_before: int) -> None:
        """Maintenance job: garbage-collect tombstones whose sequence is
        below ``drop_tombstones_before`` (i.e. no straggler older than the
        delete can still arrive — the caller's retention watermark) and
        rewrite every non-empty bucket as one snapshot — in ONE Spark job
        (same union → bucket exchange → partitionBy shape as ``apply``).
        Commits under each bucket's next manifest id, so readers flip
        atomically per bucket.
        """
        if not self.delete_col:
            raise ValueError("compact without delete_col has nothing to GC")
        last_ids: Dict[int, int] = {}
        all_files: List[str] = []
        for b in range(self.n_buckets):
            files = self._bucket_files(b)
            if not files:
                continue
            m = self._latest_manifest(b)
            with open(m) as f:  # type: ignore[arg-type]
                last_ids[b] = json.load(f)["batch_id"]
            all_files.extend(files)
        if not last_ids:
            return
        stored = self._stored_schema()
        cur = (
            spark.read.schema(stored).parquet(*all_files)
            if stored is not None
            else read_parquet(spark, *all_files)
        ).withColumn("_bucket", self._bucket_expr())
        kept = cur.filter(
            ~(
                F.coalesce(F.col(self.delete_col), F.lit(False))
                & (F.col(self.seq_col) < drop_tombstones_before)
            )
        )
        staging = self._staging_dir()
        (
            kept.repartition(len(last_ids), F.col("_bucket"))
            .write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(staging)
        )
        new_files = self._promote_staging(staging)
        for b, last_id in last_ids.items():
            # a bucket whose every row was a GC'd tombstone commits an
            # empty file list — the bucket is now empty, not stale
            self._commit_bucket(b, last_id + 1, new_files.get(b, []))

    def vacuum(self, retain_last: int = 1) -> int:
        """Orphan GC: delete data files not referenced by any of each
        bucket's last ``retain_last`` manifests, and drop the older
        manifests themselves. Returns the number of files removed.
        Time travel (``read(as_of=...)``) only works back to the oldest
        retained manifest — the Delta/Iceberg VACUUM tradeoff.
        """
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        removed = 0
        for b in range(self.n_buckets):
            mdir = self._manifest_dir(b)
            if not os.path.isdir(mdir):
                continue
            names = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
            keep_names = names[-retain_last:]
            referenced = set()
            for n in keep_names:
                with open(os.path.join(mdir, n)) as f:
                    referenced.update(json.load(f)["files"])
            data_root = os.path.join(self._bucket_dir(b), "data")
            if os.path.isdir(data_root):
                for sub in os.listdir(data_root):
                    subdir = os.path.join(data_root, sub)
                    for fn in os.listdir(subdir):
                        p = os.path.join(subdir, fn)
                        if fn.endswith(".parquet") and p not in referenced:
                            os.remove(p)
                            removed += 1
                    if not os.listdir(subdir):
                        os.rmdir(subdir)
            for n in names[:-retain_last]:
                os.remove(os.path.join(mdir, n))
        return removed

    # -- read path -----------------------------------------------------------
    def read(self, spark: SparkSession, as_of: Optional[int] = None) -> DataFrame:
        """Snapshot read: each bucket's latest manifest, or — with
        ``as_of`` — its latest manifest numbered <= that batch id
        (time travel across the numbered snapshot history)."""
        files: List[str] = []
        for b in range(self.n_buckets):
            files.extend(self._bucket_files(b, as_of))
        if files:
            stored = self._stored_schema()
            # explicit stored schema: files written before a schema
            # evolution null-fill the later columns
            df = (
                spark.read.schema(stored).parquet(*files)
                if stored is not None
                else read_parquet(spark, *files)
            )
            if self.delete_col:
                df = df.filter(~F.coalesce(F.col(self.delete_col), F.lit(False)))
            return df
        if os.path.exists(self._schema_path()):
            from pyspark.sql.types import StructType

            with open(self._schema_path()) as f:
                schema = StructType.fromJson(json.load(f))
            return spark.createDataFrame([], schema)
        raise FileNotFoundError(f"no snapshot or schema at {self.root}")


class PartitionedUpsertTable:
    """Partition-nested :class:`UpsertTable` (e.g. by event date): layout
    ``root/part=<value>/bucket=NNNNN/...`` where each partition value owns
    an independent bucketed child table.

    This is the layout promise made concrete: a batch only ever touches
    (its partitions) × (its key buckets), so steady-state CDC against a
    date-partitioned 100 TB table rewrites a few buckets of a few recent
    dates — and, like :class:`UpsertTable`, does it in ONE Spark job per
    batch: a single exchange on (``_part``, ``_bucket``), partition-local
    keep-latest, one ``partitionBy('_part', '_bucket')`` write, then
    per-(partition, bucket) manifest commits from the staged listing.
    Partition values must be stringable and filesystem-safe (dates,
    hours, small enums — Spark's partition-dir escaping would otherwise
    diverge from the ``part=<value>`` layout). The driver handles
    partition VALUES and file names only — bounded by the batch's own
    partition spread.
    """

    def __init__(
        self,
        root: str,
        partition_col: str,
        key_cols: Sequence[str],
        seq_col: str,
        n_buckets: int = 16,
        delete_col: Optional[str] = None,
    ) -> None:
        self.root = root
        self.partition_col = partition_col
        self._child_args = dict(
            key_cols=list(key_cols),
            seq_col=seq_col,
            n_buckets=n_buckets,
            delete_col=delete_col,
        )
        os.makedirs(root, exist_ok=True)

    def _child(self, value: str) -> UpsertTable:
        return UpsertTable(
            os.path.join(self.root, f"part={value}"), **self._child_args
        )

    def _partition_values(self) -> List[str]:
        return sorted(
            d.split("=", 1)[1]
            for d in os.listdir(self.root)
            if d.startswith("part=")
        )

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        pc = self.partition_col
        keys = self._child_args["key_cols"]
        seq_col = self._child_args["seq_col"]
        delete_col = self._child_args["delete_col"]
        nb = self._child_args["n_buckets"]
        bucket_expr = F.pmod(F.xxhash64(*keys), F.lit(nb))

        batch = batch_df.withColumn(
            "_part", F.col(pc).cast("string")
        ).withColumn("_bucket", bucket_expr)
        # driver sees only (partition value, bucket id) pairs — bounded by
        # the batch's own partition spread × n_buckets, never data
        pairs = sorted(
            (r["_part"], r["_bucket"])
            for r in batch.select("_part", "_bucket").distinct().collect()
        )
        if not pairs:
            return
        children = {v: self._child(v) for v in sorted({v for v, _ in pairs})}
        for child in children.values():
            child._write_schema_once(batch_df)

        current_files = [
            f for v, b in pairs for f in children[v]._bucket_files(b)
        ]
        if current_files:
            current = (
                read_parquet(spark, *current_files)
                .withColumn("_part", F.col(pc).cast("string"))
                .withColumn("_bucket", bucket_expr)
            )
            merged = current.unionByName(batch)
        else:
            merged = batch
        latest = _keep_latest(
            merged.repartition(len(pairs), F.col("_part"), F.col("_bucket")),
            keys,
            seq_col,
            delete_col,
            group_extra=["_part", "_bucket"],
        )
        staging = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        (
            latest.write.partitionBy("_part", "_bucket")
            .mode("overwrite")
            .parquet(staging)
        )
        # promote staging/_part=<v>/_bucket=<b>/*.parquet into each
        # child's bucket dirs, then commit — pure metadata ops
        committed = set()
        for d in sorted(os.listdir(staging)):
            if not d.startswith("_part="):
                continue
            v = d.split("=", 1)[1]
            child = children[v]
            sub = os.path.join(staging, d)
            for bd in sorted(os.listdir(sub)):
                if not bd.startswith("_bucket="):
                    continue
                b = int(bd.split("=", 1)[1])
                dest = os.path.join(
                    child._bucket_dir(b), "data", uuid.uuid4().hex
                )
                os.makedirs(dest, exist_ok=True)
                files = []
                src_dir = os.path.join(sub, bd)
                for fn in sorted(os.listdir(src_dir)):
                    if fn.endswith(".parquet"):
                        dst = os.path.join(dest, fn)
                        os.replace(os.path.join(src_dir, fn), dst)
                        files.append(dst)
                child._commit_bucket(b, batch_id, files)
                committed.add((v, b))
        shutil.rmtree(staging, ignore_errors=True)
        for v, b in pairs:
            if (v, b) not in committed:
                children[v]._commit_bucket(b, batch_id, [])

    def foreach_batch(self):
        return lambda df, batch_id: self.apply(df, batch_id)

    def read(self, spark: SparkSession) -> DataFrame:
        values = self._partition_values()
        if not values:
            raise FileNotFoundError(f"no partitions at {self.root}")
        out = None
        for v in values:
            df = self._child(v).read(spark)
            out = df if out is None else out.unionByName(df)
        return out
