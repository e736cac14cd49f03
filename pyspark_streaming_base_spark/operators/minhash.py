"""MinHash banding — THE single definition of the signature pipeline
(q41, the q45 pipeline stage, and the persisted index all import this),
plus the index materialization the banding enables at scale.

Signature: per-row array expressions — shingle strings hashed once
(``xxhash64``), 16 permutations as salted rehashes of the 64-bit values,
4 bands of 4 minima hashed to one bucket id per band, stacked by ONE
explode. No explode-shuffle, no per-doc groupBy; the first exchange a
consumer pays is its own band join.

Index: at 100 TB you do not recompute signatures of the full corpus per
incremental batch — ``build_minhash_index`` materializes the stacked
(doc_id, band_idx, band_hash) table once (parquet), and
``query_minhash_index`` joins only the NEW documents' signatures against
it: the classic write-once/probe-many inverted-index shape, with the
shuffle proportional to the batch, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.functions.textops import word_shingles
from pyspark_streaming_base_spark.operators import tombstones

#: Signature geometry shared by every consumer (16 = 4 bands × 4 rows).
N_PERM = 16
BAND_SIZE = 4
N_BANDS = N_PERM // BAND_SIZE


def minhash_bands(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, band_idx, band_hash) — one row per document per band."""
    hb = df.select(
        id_col,
        F.transform(word_shingles(F.col(text_col)), lambda s: F.xxhash64(s)).alias(
            "hb"
        ),
    )
    # r13 fix: the salt MUST be closed over with a one-argument lambda.
    # The previous `lambda x, i=i: …` form has arity 2, and pyspark
    # treats any two-parameter lambda passed to transform() as the
    # (element, index) variant — the default was silently REBOUND to the
    # array-index column, collapsing all 16 "permutations" into the one
    # function min_j(xxhash64(h_j, j)) and making the 4 band hashes
    # identical (verified empirically; q41's verified output was missing
    # 12 true Jaccard≥0.8 pairs at sf0.1 that the restored banding
    # recovers — a strict superset at every fixture SF). Guarded by
    # test_minhash_index.py::test_permutations_are_distinct.
    def _salted(i: int):
        return lambda x: F.xxhash64(x, F.lit(i))

    mins = hb.select(
        id_col,
        *[
            F.array_min(F.transform(F.col("hb"), _salted(i))).alias(f"h{i}")
            for i in range(N_PERM)
        ],
    )
    return mins.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            *[F.col(f"h{b * BAND_SIZE + r}") for r in range(BAND_SIZE)]
                        ).alias("band_hash"),
                    )
                    for b in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(
        id_col,
        F.col("bb.band_idx").alias("band_idx"),
        F.col("bb.band_hash").alias("band_hash"),
    )


def build_minhash_index(
    docs: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Materialize the signature table as the persisted near-dup index.
    Clears any tombstones a previous index at ``path`` left behind — a
    build defines the corpus, so stale deletes must not shadow freshly
    indexed ids (the family-wide fresh-build contract)."""
    tombstones.reset_for_build(_tables(path, id_col))
    minhash_bands(docs, id_col, text_col).write.mode("overwrite").parquet(path)


def append_minhash_index(
    new_docs: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Fold a NEW batch into the persisted index without touching the
    existing signatures: the batch is shingled/signed exactly like
    :func:`build_minhash_index` does (the signature pipeline is pure
    per-row expressions, so batch-then-append equals build-on-the-union
    row for row) and appended to the parquet signature table. The
    daily-crawl loop is therefore ``query_minhash_index`` (candidates vs
    yesterday's corpus) → ``append_minhash_index`` (today's docs join the
    corpus) → ``merge_components`` (clusters absorb the new edges) — each
    step O(batch), never O(corpus). Callers must not append an id twice
    (the same contract as the build input's id uniqueness)."""
    tombstones.append_live(minhash_bands(new_docs, id_col, text_col), path)


def query_minhash_index(
    spark: SparkSession,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate (query_id, index_id) pairs for a batch of new documents
    against the persisted index — signatures computed for the BATCH only;
    the corpus contributes its materialized table. Self-matches (same id)
    are excluded; downstream verifies candidates with exact Jaccard.
    """
    index = load_minhash_index(spark, path, id_col).select(
        F.col(id_col).alias("index_id"), "band_idx", "band_hash"
    )
    probe = minhash_bands(new_docs, id_col, text_col).select(
        F.col(id_col).alias("query_id"), "band_idx", "band_hash"
    )
    # Broadcast the PROBE side: an incremental batch is small by
    # construction, so the corpus-sized index streams through the join
    # without being re-shuffled (a shuffle_hash hint here would re-shuffle
    # the whole index on every probe).
    return (
        F.broadcast(probe)
        .join(
            index,
            ["band_idx", "band_hash"],
        )
        .filter(F.col("query_id") != F.col("index_id"))
        .select("query_id", "index_id")
        .distinct()
    )


def index_band_pairs(index: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Candidate (src < dst) pairs from a persisted signature table — the
    band self-join used to (re)build cluster state from the index (the
    from-scratch arm of the crawl loop; the incremental arm probes with
    :func:`query_minhash_index` and folds edges via
    ``operators/components.py::merge_components``). SHUFFLE_HASH on both
    sides: band buckets are near-unique so neither side is broadcastable,
    and sort-merge would pay two sorts for a bag-of-buckets join."""
    l, r = index.alias("l"), index.alias("r")
    return (
        l.hint("shuffle_hash")
        .join(
            r.hint("shuffle_hash"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("src"), F.col(f"r.{id_col}").alias("dst"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Deletes + compaction (the shared lifecycle in operators/tombstones.py)
# ---------------------------------------------------------------------------
#
# Dedup removals, takedowns, and re-crawls DELETE documents from the
# corpus; the signature index must stop producing candidates for them.
# Deletes are O(batch) tombstone appends at `<path>.tombstones` (a
# SIBLING path — the signature table's own directory must stay a plain
# parquet dataset for the append path); probes anti-join the signatures
# against the tombstone set; compaction folds tombstones into a rewrite.


def _tables(path: str, id_col: str) -> tombstones.IndexTables:
    """One live table, the signatures at ``path`` itself: ``N_BANDS``
    rows per doc, so the compaction ratio counts docs, not bands."""
    return tombstones.IndexTables(
        tombstones=f"{path}.tombstones",
        id_col=id_col,
        live=(path,),
        ratio_basis=path,
        rows_per_id=N_BANDS,
    )


def delete_from_minhash_index(
    spark: SparkSession, path: str, ids, id_col: str = "doc_id",
    compact_ratio: float = None,
) -> None:
    """Tombstone documents — O(batch), no signature rewrite. Set
    semantics; shared contract in ``operators/tombstones.py``.
    ``compact_ratio`` opts into the delete-time auto-compaction hook
    (the bm25 convention)."""
    tombstones.delete(spark, _tables(path, id_col), ids, compact_ratio)


def load_minhash_index(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> DataFrame:
    """The LIVE signature table: tombstoned ids excluded. Probe and
    rebuild paths read through here so deleted docs can neither emit nor
    receive candidates."""
    return tombstones.load_live_view(spark, _tables(path, id_col))[0]


def compact_minhash_index(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> None:
    """Rewrite the signature table minus tombstones and clear them —
    staged-swap via ``operators/tombstones.py::swap_in``."""
    tombstones.compact(spark, _tables(path, id_col))
