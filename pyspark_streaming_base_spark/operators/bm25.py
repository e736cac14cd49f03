"""Persisted BM25 inverted index with O(batch) appends — the lexical
member of the index-lifecycle family (MinHash `operators/minhash.py`,
IVF `operators/ivf.py`, IVFADC `operators/pq.py`, semantic blocking
`operators/semdedup.py`).

THE single definition of the BM25 scoring pipeline: q136 (inline query),
q138's lexical arm (via q136), and the persisted index all run the same
``bm25_postings`` / ``bm25_doclens`` / ``bm25_score_terms`` functions, so
inline == index-backed by construction (and pinned in
``tests/test_bm25_index.py``).

Index layout under ``path`` (two parquet tables):

* ``postings/`` — ``(doc_id, term, tf)``: the inverted file. Query-term
  reads push an ``In(term, …)`` filter to the parquet scan, so a k-term
  probe reads ~k terms' postings, not the corpus.
* ``doclens/`` — ``(doc_id, dl)``: per-document token counts.

Append = append-only writes of the new batch's postings/doclens rows —
both tables are per-document facts, so batch-then-append equals
build-on-the-union ROW FOR ROW (no quantizer to freeze, unlike the
vector indexes). Corpus statistics (N, avgdl, per-term df) are derived
at probe time from the tables themselves — one narrow aggregate over
doclens (doc-count-sized) and a k-row aggregate over the pushed-down
postings — so append can never leave a stale df/N behind.

Scoring: Okapi BM25 (Robertson et al., TREC-3 1994 — public) with the
Robertson–Spärck Jones idf in RATIONAL form ``(N − df + 0.5)/(df + 0.5)``
(no log — the q57 linear-idf lesson: every factor an IEEE-exact integer
ratio, bit-deterministic cross-engine). Per-term scores round to the
10⁻⁶ grid per row and exact-sum as int64 (``queries/_exact.py`` scheme),
so document scores are partition-order independent.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.functions.textops import tokens
from pyspark_streaming_base_spark.operators import tombstones

#: Okapi defaults — shared with q136's oracle SQL (queries/text.py).
K1 = 1.2
B = 0.75


def bm25_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted-file rows ``(id, term, tf)`` — one narrow explode + one
    map-side-combinable aggregate."""
    return (
        docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def bm25_doclens(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document token counts ``(id, dl)``. Zero-length docs are KEPT:
    they can never score, but they are part of the corpus N and avgdl —
    the same convention as q136's oracle."""
    return docs.select(
        id_col, F.size(tokens(F.col(text_col))).cast("bigint").alias("dl")
    )


def bm25_score_expr(
    tf: Column, dl: Column, df: Column, n: Column, avgdl: Column
) -> Column:
    """The 10⁶-scaled per-(doc, term) BM25 contribution as bigint — the
    ONE expression tree q136's oracle mirrors token for token
    (parenthesization is part of the cross-engine contract)."""
    idf = ((n.cast("double") - df.cast("double")) + F.lit(0.5)) / (
        df.cast("double") + F.lit(0.5)
    )
    norm = (tf.cast("double") * F.lit(K1 + 1.0)) / (
        tf.cast("double")
        + F.lit(K1)
        * (F.lit(1.0 - B) + F.lit(B) * (dl.cast("double") / avgdl))
    )
    return F.floor(idf * norm * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")


def bm25_score_terms(
    postings: DataFrame,
    doclens: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    top_k: Optional[int] = None,
) -> DataFrame:
    """Score every document containing at least one query term:
    ``(id, n_terms_hit, score)``, optionally cut to the global top-k
    (``TakeOrderedAndProject`` — per-partition top-k, ties on the id).

    Plan shape: the ``isin`` filter reaches the postings scan (parquet
    ``In`` pushdown when postings are a parquet table); df attaches to
    the matching rows via a term-partitioned window (r14 — the old
    separate ``groupBy(term)`` + broadcast-join-back referenced the
    postings subtree TWICE, which for inline callers meant a second
    full corpus tokenize; the window's exchange carries only the
    matching docs × k terms rows); corpus stats fold to a 1-row
    broadcast; the only corpus-proportional exchange is the join back
    to doclens.
    """
    from pyspark.sql import Window as W

    if not terms:
        raise ValueError("bm25_score_terms: empty query term list")
    hits = postings.filter(F.col("term").isin(*terms)).withColumn(
        "df", F.count(F.lit(1)).over(W.partitionBy("term")).cast("bigint")
    )
    stats = doclens.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    scored = (
        hits.join(doclens, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            bm25_score_expr(
                F.col("tf"), F.col("dl"), F.col("df"), F.col("n"), F.col("avgdl")
            ).alias("s6"),
        )
    )
    out = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        (F.sum("s6").cast("double") / F.lit(1000000.0)).alias("score"),
    )
    if top_k is not None:
        out = out.orderBy(F.col("score").desc(), id_col).limit(top_k)
    return out.select(id_col, "n_terms_hit", "score")


def build_bm25_index(
    docs: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Materialize the inverted file + doc lengths as the persisted
    lexical index (write-once/probe-many). Clears any tombstones a
    previous index at ``path`` left behind — a build defines the corpus,
    so stale deletes must not shadow freshly indexed ids (the
    family-wide fresh-build contract)."""
    tombstones.reset_for_build(_tables(path, id_col))
    bm25_postings(docs, id_col, text_col).write.mode("overwrite").parquet(
        f"{path}/postings"
    )
    bm25_doclens(docs, id_col, text_col).write.mode("overwrite").parquet(
        f"{path}/doclens"
    )


def append_bm25_index(
    new_docs: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Fold a new batch in — O(batch) appends to both tables; derived
    statistics (N, avgdl, df) self-update because probes always compute
    them from the tables. Callers must not append an id twice (the same
    id-uniqueness contract as every index in this family)."""
    tombstones.append_live(bm25_postings(new_docs, id_col, text_col), f"{path}/postings")
    tombstones.append_live(bm25_doclens(new_docs, id_col, text_col), f"{path}/doclens")


def query_bm25_index(
    spark: SparkSession,
    path: str,
    terms: Sequence[str],
    id_col: str = "doc_id",
    top_k: Optional[int] = None,
) -> DataFrame:
    """Probe the persisted index: the corpus is NEVER re-tokenized — the
    term filter pushes down to the postings parquet, so the probe reads
    ~|terms| postings lists + one doclens scan. Reads the LIVE view
    (tombstoned docs excluded, statistics self-corrected)."""
    postings, doclens = load_bm25_index(spark, path, id_col)
    return bm25_score_terms(postings, doclens, terms, id_col, top_k)


def bm25_score_query_table(
    postings: DataFrame,
    doclens: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    top_k: Optional[int] = None,
) -> DataFrame:
    """BATCH retrieval: score a whole query TABLE ``(qid, term)`` in one
    plan — the production shape (a bench of queries, not one). Returns
    ``(qid, id, n_terms_hit, score)``, optionally cut to the per-query
    top-k (partitioned rank → WindowGroupLimit, never a global sort).

    Same exact-math contract as :func:`bm25_score_terms` (idf rational,
    10⁻⁶-grid exact-sum scores); df/N/avgdl derive from the corpus
    tables only, so the query table never perturbs the statistics.

    Scale: the postings join keys on the DISTINCT query-term set (a
    broadcast — benches are small); each query's scoring rows are its
    matching postings only; the k-cut runs per qid.
    """
    from pyspark.sql import Window as W

    qterms = queries.select("qid", "term")
    distinct_terms = qterms.select("term").distinct()
    hits = postings.join(F.broadcast(distinct_terms), "term")
    df_t = hits.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    stats = doclens.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    scored = (
        hits.join(F.broadcast(qterms), "term")
        .join(doclens, id_col)
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            id_col,
            bm25_score_expr(
                F.col("tf"), F.col("dl"), F.col("df"), F.col("n"), F.col("avgdl")
            ).alias("s6"),
        )
    )
    out = scored.groupBy("qid", id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        (F.sum("s6").cast("double") / F.lit(1000000.0)).alias("score"),
    )
    if top_k is not None:
        w = W.partitionBy("qid").orderBy(F.col("score").desc(), id_col)
        out = (
            out.withColumn("rnk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rnk") <= top_k)
            .drop("rnk")
        )
    return out.select("qid", id_col, "n_terms_hit", "score")


# ---------------------------------------------------------------------------
# Deletes + compaction: the rest of the index lifecycle
# ---------------------------------------------------------------------------
#
# Appends alone can't serve a production corpus — takedowns, dedup
# removals, and re-crawls all DELETE documents. Every persisted-index
# family runs the same lifecycle, written once in operators/tombstones.py
# and driven by the family's `_tables` declaration (an `IndexTables`):
# deletes are O(delete-batch) TOMBSTONE appends at `path/tombstones`;
# probes anti-join the live tables against them, and because
# N/avgdl/df are always derived from the (now filtered) tables at probe
# time, the statistics self-correct — a deleted doc leaves the corpus
# AND the idf denominator in the same operation. Compaction rewrites
# the live tables minus tombstones (staged swap) when the tombstone set
# has grown enough to matter; until then a probe pays one anti-join
# against a (usually broadcast-sized) id list. A build resets every
# declared table and clears the tombstones. Same single-writer
# maintenance contract as the append paths.


def _tables(path: str, id_col: str) -> tombstones.IndexTables:
    """Live ``postings`` and ``doclens``; the ratio check runs against
    doclens (one row per doc, like the tombstones)."""
    return tombstones.IndexTables(
        tombstones=f"{path}/tombstones",
        id_col=id_col,
        live=(f"{path}/postings", f"{path}/doclens"),
        ratio_basis=f"{path}/doclens",
    )


def delete_from_bm25_index(
    spark: SparkSession,
    path: str,
    ids,
    id_col: str = "doc_id",
    compact_ratio: float = None,
) -> None:
    """Tombstone a batch of document ids — O(batch), no table rewrite.
    Set semantics (unknown ids no-op, repeats idempotent); see
    ``operators/tombstones.py`` for the shared lifecycle contract.
    ``compact_ratio`` (r9, opt-in self-maintenance): when set, fold the
    tombstones in right here once they reach that fraction of the live
    docs — the delete call becomes the compaction scheduler, so an
    operator who never runs maintenance still never degrades past the
    ratio."""
    tombstones.delete(spark, _tables(path, id_col), ids, compact_ratio)


def load_bm25_index(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> tuple:
    """The LIVE ``(postings, doclens)`` view: tombstoned docs removed
    from both tables, so every derived statistic (N, avgdl, df) reflects
    the post-delete corpus. All probe entry points read through here.
    Both tables share one tombstone read."""
    return tuple(tombstones.load_live_view(spark, _tables(path, id_col)))


def compact_bm25_index(
    spark: SparkSession, path: str, id_col: str = "doc_id"
) -> None:
    """Fold tombstones into the tables: rewrite ``postings``/``doclens``
    without the deleted docs and clear the tombstone set. Run when the
    tombstone list has grown past broadcast size (until then probes pay
    one cheap anti-join). Staged-swap per table via
    ``operators/tombstones.py::swap_in`` — crash-safe, single-writer."""
    tombstones.compact(spark, _tables(path, id_col))


def query_bm25_index_table(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "doc_id",
    top_k: Optional[int] = None,
) -> DataFrame:
    """Batch retrieval against the persisted index: score a whole query
    TABLE ``(qid, term)`` in one plan (the q154 production shape)
    through the LIVE view — tombstoned docs excluded and statistics
    self-corrected, exactly like the single-query probe."""
    postings, doclens = load_bm25_index(spark, path, id_col)
    return bm25_score_query_table(postings, doclens, queries, id_col, top_k)
