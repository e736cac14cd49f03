"""Persisted containment-search index — the at-scale path for q156's
asymmetric near-dup crawl (token-shingle containment C(A→B) = |A∩B|/|A|
≥ t), so repeated crawls stop re-shingling the corpus.

Layout follows the LSH Ensemble partition design (Zhu, Nargesian, Pu,
Miller, "LSH Ensemble: Internet-Scale Domain Search", VLDB 2016): the
corpus is physically partitioned into SET-SIZE SLICES (hive partition
column ``slice = floor(log2(|B|))``), because the containment gate
``|B| ≥ t·|A|`` is a size predicate — a probe knows its own |A| and can
skip every slice whose size upper bound fails the gate before touching
a row. Where LSH Ensemble then probes per-slice MinHash sketches
(recall < 1 by construction), this index stores the exact INVERTED
shingle postings per slice and probes them with the pigeonhole prefix
rule, so candidate recall is 1 and the verified result equals the
inline q156 operator row for row:

* **prefix rule** (the PPJoin/Ensemble candidate bound,
  ``operators/allpairs.py``'s lemma specialised to containment): a pair
  with C(A→B) ≥ t = num/den shares ≥ ceil(t·|A|) of A's shingles, so A
  can MISS at most ``|A| − ceil(t·|A|)`` of them — probing ANY
  ``|A| − ceil(t·|A|) + 1`` of A's shingles (its RAREST ones, by the
  index's df table, so posting lists are short) must hit every
  qualifying B at least once. At t = 0.9 that is ~10% of each probe's
  shingles, concentrated on the low-df vocabulary tail.
* **verify**: candidates (keys-only pairs) re-attach both shingle sets
  by id and pay one exact ``array_intersect`` — identical math to the
  inline operator, so no approximation anywhere.

Tables under ``<path>/``:

* ``sets`` — (doc_id, lang, nt, shingles, slice), hive-partitioned by
  slice: the shingle sets, read only per-candidate for verification;
* ``postings`` — (sh = xxhash64(shingle), doc_id, lang, nt, slice),
  hive-partitioned by slice: the inverted index the prefix probe joins
  (hashed keys keep the exchange 8-byte; a hash collision can only ADD
  a candidate, never lose one — exactness lives in the verify);
* ``df`` — (sh, dfreq): document frequencies for the rarest-first
  prefix ORDER. Ordering is an efficiency choice, not a correctness
  one (the pigeonhole bound holds for ANY k-subset), so appends may
  leave it stale; compaction rebuilds it.

Lifecycle = the shared ``operators/tombstones.py`` contract: O(batch)
appends, tombstone deletes, ratio-triggered compaction with the
generation-pointer staged swap (hive layout preserved by the
``partition_by=("slice",)`` of its ``IndexTables``). The one
family-specific step is the ``df`` table: a build resets it, and
compaction rebuilds it from the compacted postings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.functions.textops import tokens, word_shingles
from pyspark_streaming_base_spark.operators import tombstones

__all__ = [
    "build_containment_index",
    "append_containment_index",
    "query_containment_index",
    "containment_pairs_from_index",
    "delete_from_containment_index",
    "compact_containment_index",
]


def shingle_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """(doc_id, lang, nt, shingles, slice) for each non-blank document —
    ONE definition shared by build, append and the probe side, so the
    index and the q156 inline operator shingle identically (same
    ``word_shingles``, same token-count blank guard)."""
    return (
        docs.filter(F.size(tokens(F.col(text_col))) > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(lang_col).alias("lang"),
            word_shingles(F.col(text_col)).alias("shingles"),
        )
        .withColumn("nt", F.size("shingles").cast("bigint"))
        .withColumn("slice", F.floor(F.log2("nt")).cast("int"))
    )


def _postings(sets: DataFrame) -> DataFrame:
    return sets.select(
        "doc_id",
        "lang",
        "nt",
        "slice",
        F.explode("shingles").alias("_sg"),
    ).select("doc_id", "lang", "nt", "slice", F.xxhash64("_sg").alias("sh"))


def _df_table(postings: DataFrame) -> DataFrame:
    return postings.groupBy("sh").agg(F.count(F.lit(1)).alias("dfreq"))


def build_containment_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> None:
    """Materialize sets + postings (slice-partitioned) + df stats.

    A build DEFINES the corpus at ``path``: any tombstones left from a
    previous index at the same location are cleared, so rebuilding over
    a previously-deleted-from path can't silently drop freshly indexed
    docs whose ids happen to match old tombstones (the family-wide
    fresh-build contract — every ``build_*_index`` does this). The
    reset covers ``df`` too: compaction swaps it behind a pointer."""
    tombstones.reset_for_build(_tables(path))
    sets = shingle_sets(docs, id_col, text_col, lang_col)
    sets.write.mode("overwrite").partitionBy("slice").parquet(f"{path}/sets")
    spark = docs.sparkSession
    posts = _postings(tombstones.read_live(spark, f"{path}/sets"))
    posts.write.mode("overwrite").partitionBy("slice").parquet(f"{path}/postings")
    _df_table(tombstones.read_live(spark, f"{path}/postings")).write.mode(
        "overwrite"
    ).parquet(f"{path}/df")


def append_containment_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    assert_unique: bool = False,
) -> None:
    """Fold a new batch in — O(batch): shingle the batch once, append its
    sets and postings partitions. The df ORDERING table goes stale (new
    shingles probe as df-0/rarest, which only re-orders prefixes —
    recall is k-subset-invariant); compaction refreshes it. Callers must
    not append an id twice (the family's id-uniqueness contract): a
    duplicate id is invisible to the probe (candidates are distinct'd)
    but silently doubles its verify cost. ``assert_unique=True`` buys
    the loud failure instead — one keys-only semi-join of the batch ids
    against the live sets table (O(corpus ids), so opt-in; see
    ``tombstones.assert_ids_absent``)."""
    if assert_unique:
        # the persisted sets table stores the id as doc_id regardless of
        # the caller's id_col
        tombstones.assert_ids_absent(
            f"{path}/sets",
            new_docs.select(F.col(id_col).alias("doc_id")),
            "doc_id",
        )
    sets = shingle_sets(new_docs, id_col, text_col, lang_col)
    tombstones.append_live(sets, f"{path}/sets", partition_by=("slice",))
    tombstones.append_live(_postings(sets), f"{path}/postings", partition_by=("slice",))


def _tables(path: str) -> tombstones.IndexTables:
    """Live ``sets`` and ``postings`` (slice-partitioned, a layout
    compaction keeps); ``df`` is read as written. The compaction-ratio
    check compares against the one-row-per-doc sets table (postings
    rows inflate both sides of the ratio identically only when doc
    sizes are even)."""
    return tombstones.IndexTables(
        tombstones=f"{path}/tombstones",
        id_col="doc_id",
        live=(f"{path}/sets", f"{path}/postings"),
        frozen=(f"{path}/df",),
        ratio_basis=f"{path}/sets",
        partition_by=("slice",),
    )


def _load(spark: SparkSession, path: str) -> list:
    """``[live sets, live postings, df]`` through the shared loader."""
    return tombstones.load_live_view(spark, _tables(path))


def _probe_side(sets: DataFrame) -> DataFrame:
    return sets.select(
        F.col("doc_id").alias("query_id"),
        F.col("lang").alias("q_lang"),
        F.col("shingles").alias("q_shingles"),
        F.col("nt").alias("nt_a"),
    )


def query_containment_index(
    spark: SparkSession,
    path: str,
    probe_docs: DataFrame,
    tau_num: int = 9,
    tau_den: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Directed containment pairs (doc_small = probe, doc_big = index)
    with C(small→big) ≥ tau, probing the PERSISTED index: the batch is
    shingled once; the corpus contributes postings + sets. Same output
    contract as q156: (doc_small, doc_big, n_common, n_small,
    containment), same-lang, self-pairs excluded."""
    probe = _probe_side(shingle_sets(probe_docs, id_col, text_col, lang_col))
    return _probe(*_load(spark, path), probe, tau_num, tau_den)


def containment_pairs_from_index(
    spark: SparkSession, path: str, tau_num: int = 9, tau_den: int = 10
) -> DataFrame:
    """q156 over the index's OWN corpus — the repeated-crawl entry point:
    no re-shingling anywhere (probe side = the live sets table)."""
    sets, posts, df_tbl = _load(spark, path)
    return _probe(sets, posts, df_tbl, _probe_side(sets), tau_num, tau_den)


def _probe(
    sets: DataFrame,
    posts: DataFrame,
    df_tbl: DataFrame,
    probe: DataFrame,
    tau_num: int,
    tau_den: int,
) -> DataFrame:
    if not (0 < tau_num <= tau_den):
        raise ValueError(f"tau must be in (0, 1]: got {tau_num}/{tau_den}")
    # prefix length k = nt_a − ceil(tau·nt_a) + 1 (pigeonhole: a B at
    # threshold matches ≥ ceil(tau·nt_a) of A's shingles, so any k-subset
    # of A contains at least one match)
    k = (
        F.col("nt_a")
        - F.floor((F.col("nt_a") * F.lit(tau_num) + F.lit(tau_den - 1)) / F.lit(tau_den))
        + F.lit(1)
    )
    pref = (
        probe.select(
            "query_id",
            "q_lang",
            "nt_a",
            k.alias("_k"),
            F.explode("q_shingles").alias("_sg"),
        )
        .select(
            "query_id", "q_lang", "nt_a", "_k", F.xxhash64("_sg").alias("sh")
        )
        # rarest-first order from the (possibly stale) df table; unseen
        # shingles rank rarest. Keys-only rows throughout.
        .join(df_tbl, "sh", "left")
        .withColumn(
            "_pos",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.coalesce(F.col("dfreq"), F.lit(0)), F.col("sh")
                )
            ),
        )
        .filter(F.col("_pos") <= F.col("_k"))
        .select("query_id", "q_lang", "nt_a", "sh")
    )
    # candidate generation: prefix equi-join on (sh, lang) with the
    # integer size gate. `slice` rides on the posting row so the gate
    # `den·2^(slice+1) > num·nt_a` (slice upper bound vs the implied
    # |B| ≥ tau·|A| floor) prunes whole hive partitions at the scan when
    # nt_a is bound — the LSH Ensemble slice-skip, exact here.
    cand = (
        pref.join(
            posts,
            (pref["sh"] == posts["sh"])
            & (pref["q_lang"] == posts["lang"])
            & (pref["query_id"] != posts["doc_id"])
            & (posts["nt"] * F.lit(tau_den) >= pref["nt_a"] * F.lit(tau_num)),
        )
        .select("query_id", posts["doc_id"].alias("index_id"))
        .distinct()
    )
    # verify: re-attach both shingle sets by id (keys-only until here)
    qs = probe.select("query_id", "q_shingles", "nt_a")
    bs = sets.select(
        F.col("doc_id").alias("index_id"), F.col("shingles").alias("b_shingles")
    )
    n_common = F.size(F.array_intersect(F.col("q_shingles"), F.col("b_shingles")))
    containment = n_common.cast("double") / F.col("nt_a")
    return (
        cand.join(qs, "query_id")
        .join(bs, "index_id")
        .select(
            F.col("query_id").alias("doc_small"),
            F.col("index_id").alias("doc_big"),
            n_common.cast("bigint").alias("n_common"),
            F.col("nt_a").cast("bigint").alias("n_small"),
            containment.alias("containment"),
        )
        # the same double comparison as the inline q156 operator
        # (tau_num/tau_den is the identical IEEE literal), so the pinned
        # row-for-row equality cannot drift on a rounding boundary
        .filter(F.col("containment") >= F.lit(tau_num / tau_den))
    )


def delete_from_containment_index(
    spark: SparkSession, path: str, ids, compact_ratio: float = None
) -> None:
    """Tombstone documents — O(batch); probes stop pairing them on
    either side. Set semantics; shared contract in
    ``operators/tombstones.py``. ``compact_ratio`` opts into the
    delete-time auto-compaction hook (the bm25 convention)."""
    if tombstones.delete(spark, _tables(path), ids, compact_ratio):
        _refresh_df(spark, path)


def compact_containment_index(spark: SparkSession, path: str) -> None:
    """Fold tombstones into sets + postings (generation-pointer staged
    swaps, slice layout preserved) and clear the tombstone set, then
    rebuild the df ordering table from the compacted postings."""
    tombstones.compact(spark, _tables(path))
    _refresh_df(spark, path)


def _refresh_df(spark: SparkSession, path: str) -> None:
    """Rebuild the df ordering table after a compaction: postings now
    resolves to the compacted generation (swap_in materializes before
    flipping), so df is computed from it."""
    tombstones.swap_in(
        f"{path}/df", _df_table(tombstones.read_live(spark, f"{path}/postings"))
    )
