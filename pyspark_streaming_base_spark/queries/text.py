"""Text-analysis operators (SURVEY.md §2C C19): token stats, quality
scoring, language ID, document fingerprinting.

All built-in expression work — no Python in the hot path. Each query is a
single scan + narrow groupBy/projection, so the plans are embarrassingly
parallel at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.functions.textops import tokens as _tokens
from pyspark_streaming_base_spark.functions.textops import (
    word_shingles as _shingles,
)
from pyspark_streaming_base_spark.operators.spread import spread
from pyspark_streaming_base_spark.queries import query
from pyspark_streaming_base_spark.queries._tables import t

#: Tiny per-language stopword lists for the heuristic language-ID operator.
_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for"],
    "es": ["el", "la", "de", "y", "en", "es", "por", "un"],
    "zh": ["de", "shi", "le", "zai", "he", "you", "wo", "ta"],
}


@query(
    "q50_token_stats",
    oracle="""
    SELECT
      doc_id,
      CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)
        AS n_distinct,
      CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS n_token_chars,
      CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
        / len(list_filter(string_split(text, ' '), x -> x <> '')) AS avg_token_len
    FROM documents
    """,
)
def q50_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document (C19): counts, distinct counts, char
    totals, average token length. Integer-derived doubles are exact."""
    d = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    return d.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct"),
        n_chars.cast("bigint").alias("n_token_chars"),
        (n_chars.cast("double") / n_tokens).alias("avg_token_len"),
    )


#: GPT-2-style pre-tokenizer, simplified to the subset with identical
#: semantics in Java regex (Spark) and RE2 (DuckDB): a token is an optional
#: leading space + a letter run, digit run, or other-symbol run. The real
#: BPE pre-tokenizer adds contraction splits and a lookahead; RE2 has no
#: lookahead, so the shared subset is the cross-engine contract.
_BPE_RE = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


@query(
    "q54_bpe_token_count",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(MAX(n_bpe) AS BIGINT) AS max_bpe_tokens,
           CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) AS bpe_per_word
    FROM (
      SELECT lang,
             len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws
      FROM documents
    )
    GROUP BY lang
    """,
)
def q54_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style token counting (C19): pre-tokenizer regex token counts per
    document, rolled up by language, with the tokens-per-word ratio every
    training-data budget estimate needs. Pure ``regexp_extract_all`` —
    JVM-side, no UDF; the ratio is an exact integer quotient in double."""
    d = t(spark, sf_dir, "documents")
    n_bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), F.lit(0)))
    n_ws = F.size(_tokens(F.col("text")))
    return (
        d.select("lang", n_bpe.alias("n_bpe"), n_ws.alias("n_ws"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
            F.max("n_bpe").cast("bigint").alias("max_bpe_tokens"),
            (F.sum("n_bpe").cast("double") / F.sum("n_ws")).alias("bpe_per_word"),
        )
    )


@query(
    "q51_quality_score",
    oracle="""
    SELECT doc_id, n_tokens, distinct_ratio, length_score,
           0.45 * distinct_ratio + 0.35 * length_score
             + 0.2 * (CASE WHEN n_tokens >= 10 THEN 1.0 ELSE 0.0 END) AS quality
    FROM (
      SELECT
        doc_id,
        CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE)
          / len(list_filter(string_split(text, ' '), x -> x <> '')) AS distinct_ratio,
        LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS length_score
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
    )
    """,
)
def q51_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality score (C19): lexical diversity + length
    saturation + minimum-length gate, combined linearly. Every term uses
    exact double arithmetic so the score hash-matches the oracle.

    Empty/whitespace-only docs are filtered on BOTH sides (n_tokens > 0):
    the distinct-token ratio would otherwise be 0/0 — NaN on Spark,
    engine-dependent in DuckDB — so the guard is explicit rather than
    fixture-dependent."""
    d = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    length_score = F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0))
    base = d.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        distinct_ratio.alias("distinct_ratio"),
        length_score.alias("length_score"),
    ).filter(F.col("n_tokens") > 0)
    return base.select(
        "doc_id",
        "n_tokens",
        "distinct_ratio",
        "length_score",
        (
            0.45 * F.col("distinct_ratio")
            + 0.35 * F.col("length_score")
            + 0.2 * F.when(F.col("n_tokens") >= 10, 1.0).otherwise(0.0)
        ).alias("quality"),
    )


@query(
    "q52_language_id",
    oracle="""
    SELECT doc_id, lang, en_hits, es_hits, zh_hits,
           CASE
             WHEN en_hits >= es_hits AND en_hits >= zh_hits THEN 'en'
             WHEN es_hits >= zh_hits THEN 'es'
             ELSE 'zh'
           END AS pred_lang
    FROM (
      SELECT
        doc_id, lang,
        CAST(len(list_intersect(toks, {en})) AS BIGINT) AS en_hits,
        CAST(len(list_intersect(toks, {es})) AS BIGINT) AS es_hits,
        CAST(len(list_intersect(toks, {zh})) AS BIGINT) AS zh_hits
      FROM (
        SELECT doc_id, lang,
               list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
        FROM documents
      )
    )
    """.format(
        en=str(_STOPWORDS["en"]),
        es=str(_STOPWORDS["es"]),
        zh=str(_STOPWORDS["zh"]),
    ),
)
def q52_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID via stopword-set overlap (C19).

    Counts distinct-token hits against tiny per-language lexicons and takes
    the argmax with a fixed precedence (en > es > zh on ties) so the
    prediction is deterministic. Pure array built-ins.
    """
    d = t(spark, sf_dir, "documents")
    toks = F.array_distinct(_tokens(F.col("text")))
    base = d.select("doc_id", "lang", toks.alias("toks"))
    hits = {
        lang: F.size(
            F.array_intersect(F.col("toks"), F.array(*[F.lit(w) for w in words]))
        ).cast("bigint")
        for lang, words in _STOPWORDS.items()
    }
    scored = base.select(
        "doc_id",
        "lang",
        hits["en"].alias("en_hits"),
        hits["es"].alias("es_hits"),
        hits["zh"].alias("zh_hits"),
    )
    return scored.withColumn(
        "pred_lang",
        F.when(
            (F.col("en_hits") >= F.col("es_hits")) & (F.col("en_hits") >= F.col("zh_hits")),
            "en",
        )
        .when(F.col("es_hits") >= F.col("zh_hits"), "es")
        .otherwise("zh"),
    )


@query(
    "q56_rolling_hash",
    oracle="""
    SELECT rh,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, least(strlen(text), 64) + 1),
                                i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
               (acc, x) -> (acc * 257 + x) % 2147483647) AS rh
      FROM documents
    )
    GROUP BY rh
    """,
)
def q56_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial (Rabin–Karp) rolling-hash document fingerprint (C19):
    ``h = (h·257 + charcode) mod (2³¹−1)`` folded over the first 64
    characters, then collision-cluster stats. Complements q53's md5
    prefix: the polynomial form extends incrementally (sliding windows /
    chunked content-defined dedup) where a block digest can't.

    Exactly oracle-checkable: both engines fold the same codepoint
    sequence left-to-right in int64 (no overflow: acc < 2³¹, acc·257 +
    255 < 2³⁹). Scale: per-row expression work plus one constant-width
    groupBy — same shape as q53.
    """
    d = t(spark, sf_dir, "documents")
    chars = F.transform(
        F.sequence(F.lit(1), F.least(F.length("text"), F.lit(64))),
        lambda i: F.ascii(F.substring(F.col("text"), i, F.lit(1))).cast("bigint"),
    )
    rh = F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, x: (acc * 257 + x) % 2147483647,
    )
    return (
        d.select("doc_id", rh.alias("rh"))
        .groupBy("rh")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
        )
    )


@query(
    "q57_tfidf_topk",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
      FROM documents WHERE doc_id < 100
    ),
    tf AS (
      SELECT doc_id, term,
             CAST(COUNT(*) AS DOUBLE)
               / SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tok)
    SELECT doc_id, term, tfidf, rnk
    FROM (
      SELECT tf.doc_id, tf.term,
             tf.tf * (n.n / df.df) AS tfidf,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * (n.n / df.df) DESC, tf.term
             ) AS BIGINT) AS rnk
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    WHERE rnk <= 3
    """,
)
def q57_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (C19): term frequency × inverse
    document frequency, linear-idf variant (``N/df`` instead of
    ``ln(N/df)``) so every factor is an exact integer ratio — doubles are
    bit-deterministic across engines, no transcendental rounding risk
    (Java's and DuckDB's ``ln`` are not both correctly-rounded).

    Scale: one explode → (doc, term) aggregation, one term-level
    aggregation (both map-side combined), a hash join on term, and the
    per-doc top-k window (WindowGroupLimit pre-filters). The doc_id < 100
    block bounds the demo; at 100 TB the same plan runs unblocked.
    """
    tok = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
    )
    from pyspark.sql import Window as W

    tf = (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "tf",
            F.col("cnt").cast("double") / F.sum("cnt").over(W.partitionBy("doc_id")),
        )
    )
    df_ = tok.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    n = tok.select(F.countDistinct("doc_id").cast("double").alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.col("tf") * (F.col("n") / F.col("df")))
    )
    wr = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tfidf", "rnk")
    )


#: Count-Min Sketch geometry: d hash rows × w buckets. Error ≤ 2N/w with
#: probability 1 − (1/2)^d; w=1024 at N≈50k tokens → ≤ ~100 overcount.
_CMS_D = 4
_CMS_W = 1024


@query("q58_countmin_freq", oracle=None)  # sketch is hash-defined; pytest pins bounds
def q58_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch term frequencies (novel-sketch op): the sketch is
    built distributively — each token occurrence lands in ``d`` (row,
    bucket) cells via salted xxhash64, one groupBy — and point estimates
    are the min over the ``d`` cells. Output compares the estimate to the
    exact count for the 20 most frequent terms: CMS guarantees
    ``est ≥ true`` always and bounds the overestimate by the sketch
    width (pinned in pytest).

    Scale: the sketch is ``d·w`` cells REGARDLESS of corpus size — the
    point of a sketch; merging shards is cell-wise addition (the same
    groupBy), so 1000 executors build one sketch with no coordination.
    """
    tok = t(spark, sf_dir, "documents").select(
        F.explode(_tokens(F.col("text"))).alias("term")
    )
    rows = tok.select(
        "term",
        F.explode(
            F.array(*[F.lit(i) for i in range(_CMS_D)])
        ).alias("row_i"),
    ).withColumn("bucket", F.pmod(F.xxhash64("term", "row_i"), F.lit(_CMS_W)))
    sketch = rows.groupBy("row_i", "bucket").agg(
        F.count(F.lit(1)).alias("cell_count")
    )
    top = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), "term")
        .limit(20)
    )
    probes = F.broadcast(top).select(
        "term",
        "true_count",
        F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("row_i"),
    ).withColumn("bucket", F.pmod(F.xxhash64("term", "row_i"), F.lit(_CMS_W)))
    return (
        probes.join(sketch, ["row_i", "bucket"])
        .groupBy("term", "true_count")
        .agg(F.min("cell_count").cast("bigint").alias("est_count"))
        .select(
            "term",
            F.col("true_count").cast("bigint").alias("true_count"),
            "est_count",
        )
    )


@query(
    "q64_normalize_text",
    oracle="""
    SELECT lang,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS raw_distinct,
           CAST(COUNT(DISTINCT norm) AS BIGINT) AS norm_distinct,
           CAST(COUNT(DISTINCT md5(norm)) AS BIGINT) AS norm_fps
    FROM (
      SELECT lang, text,
             TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    )
    GROUP BY lang
    """,
)
def q64_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization for dedup preprocessing (C19): lowercase, strip
    non-alphanumerics, collapse runs of spaces, trim — then count how many
    raw-distinct docs collapse to the same normal form per language (the
    signal that exact dedup should run on ``norm``, not ``text``).

    The regex subset (`[^a-z0-9 ]`, `' +'`) behaves identically in Java
    regex and RE2; Spark's regexp_replace is global by default, DuckDB
    takes the 'g' flag.
    """
    from pyspark_streaming_base_spark.functions.textops import normalize

    d = t(spark, sf_dir, "documents")
    return (
        d.select("lang", "text", normalize(F.col("text")).alias("norm"))
        .groupBy("lang")
        .agg(
            F.countDistinct("text").cast("bigint").alias("raw_distinct"),
            F.countDistinct("norm").cast("bigint").alias("norm_distinct"),
            F.countDistinct(F.md5(F.col("norm"))).cast("bigint").alias("norm_fps"),
        )
    )


#: Token budget per training shard for the packing operator.
_SHARD_BUDGET = 2000

#: Contiguous doc_id ids per prefix-sum bucket (q59). Small here so the
#: sf0.01 fixture (~500 docs) genuinely exercises multi-bucket carry-in;
#: at 100 TB set ~10⁵–10⁶ so a (lang, bucket) sort partition stays
#: executor-sized while the carry table stays broadcast-sized.
_PACK_BUCKET_DOCS = 100


@query(
    "q59_token_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, n_tokens,
             CAST(FLOOR(
               (SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
               / {_SHARD_BUDGET}.0) AS BIGINT) AS shard_id
      FROM toks
    )
    SELECT lang, shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM packed
    GROUP BY lang, shard_id
    """,
)
def q59_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (training-pipeline op): assign documents to
    token-budget shards — contiguous greedy packing by running token
    count within each language stream. A shard holds docs whose
    *preceding* cumulative tokens fall in the same budget window, so
    every shard except the last lands within one document of the budget.

    Pure integer math (token counts, cumsum, floor division) → exact
    oracle.

    Scale — TWO-PASS PREFIX SUM, never a per-``lang`` window: ``lang``
    has cardinality ~3, so a single ``partitionBy(lang)`` cumsum would
    sort ~1/3 of a 100 TB corpus in ONE task. Instead:

    1. cumsum within ``(lang, bucket)`` where ``bucket`` is a contiguous
       ``doc_id`` range of :data:`_PACK_BUCKET_DOCS` ids — bounded sort
       partitions, one shuffle;
    2. per-bucket totals fall out of the SAME windowed output
       (``max(local_cum)``);
    3. carry-in offsets = exclusive prefix sum over the tiny
       (langs × buckets) totals table, broadcast back.

    ``global_cum_before = carry_in + local_cum − n_tokens`` is identical
    to the one-window formulation the oracle expresses; only the physical
    plan differs. Verified by the exact oracle and a plan-shape test
    asserting no window partitions on bare ``lang``.

    The pass-1 output is ``persist()``-ed: it feeds both the probe side
    and the carry derivation, and AQE does NOT stage-cache the shared
    subtree across the broadcast boundary (measured: both branches re-ran
    the scan+tokenize+shuffle+window without it). ``persist`` keeps
    lineage (executor loss recomputes, unlike ``localCheckpoint``) and the
    cached projection is ~30 B/row — at 100 TB of text that is ~1 GB per
    executor on 1000 executors. The spill-free alternative (recompute
    bucket totals straight from the scan with map-side partial agg) trades
    that memory for a second full tokenize pass.
    """
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens(F.col("text"))).cast("bigint")
    base = d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.floor(F.col("doc_id") / _PACK_BUCKET_DOCS).cast("bigint").alias("bucket"),
    )

    w_local = (
        W.partitionBy("lang", "bucket")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = base.withColumn("local_cum", F.sum("n_tokens").over(w_local)).persist()

    # bucket totals: map-side partial max collapses each cached partition
    # to its (lang, bucket) rows before the tiny exchange
    totals = local.groupBy("lang", "bucket").agg(
        F.max("local_cum").alias("bucket_tokens")
    )
    w_carry = (
        W.partitionBy("lang")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # per-lang window over the TOTALS table is fine: it has
    # (#langs × #buckets) rows — corpus_size / _PACK_BUCKET_DOCS — tiny,
    # and by-construction-small means legal to broadcast
    carry = totals.select(
        "lang",
        "bucket",
        F.coalesce(F.sum("bucket_tokens").over(w_carry), F.lit(0)).alias("carry_in"),
    )

    packed = local.join(F.broadcast(carry), ["lang", "bucket"]).withColumn(
        "shard_id",
        F.floor(
            (F.col("carry_in") + F.col("local_cum") - F.col("n_tokens"))
            / float(_SHARD_BUDGET)
        ).cast("bigint"),
    )
    return packed.groupBy("lang", "shard_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


#: Per-language sampling rates for the stratified-sample operator, as
#: 16-bit hex thresholds: keep a row iff the first 4 hex digits of
#: md5(doc_id) sort below the threshold. int(rate · 65536) → hex.
_STRATA_RATES = {"en": ("8000", 0.5), "es": ("4000", 0.25)}
_DEFAULT_RATE = ("1999", 0.1)  # 0x1999 = 6553 ≈ 0.1 · 65536


@query(
    "q55_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hk
      FROM documents
    )
    WHERE hk < (CASE lang
                  WHEN 'en' THEN '{_STRATA_RATES["en"][0]}'
                  WHEN 'es' THEN '{_STRATA_RATES["es"][0]}'
                  ELSE '{_DEFAULT_RATE[0]}'
                END)
    """,
)
def q55_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (training-pipeline op): per-stratum
    rates via a content hash, not ``df.sample()``'s seeded RNG.

    Keep a row iff the leading 16 bits of ``md5(doc_id)`` fall below the
    stratum's threshold — md5 hex is uniform, so the kept fraction
    converges to the rate per stratum, and membership is a pure function
    of the key: reproducible across engines, runs, cluster sizes, AND
    dataset growth (a doc keeps/loses membership only with its own id —
    rows never flip when neighbors arrive, unlike reservoir/seeded
    sampling). Scale: embarrassingly parallel filter, no shuffle; the
    predicate pushes to the scan.
    """
    d = t(spark, sf_dir, "documents")
    hk = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    threshold = (
        F.when(F.col("lang") == "en", _STRATA_RATES["en"][0])
        .when(F.col("lang") == "es", _STRATA_RATES["es"][0])
        .otherwise(_DEFAULT_RATE[0])
    )
    return d.filter(hk < threshold).select("doc_id", "lang", "n_chars")


@query(
    "q53_fingerprint",
    oracle="""
    SELECT prefix_fp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM (
      SELECT doc_id, n_chars, md5(SUBSTRING(text, 1, 64)) AS prefix_fp
      FROM documents
    )
    GROUP BY prefix_fp
    """,
)
def q53_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting (C19): md5 over a normalized prefix groups
    near-identical heads; fingerprint collisions signal boilerplate/dup
    clusters. Scale: the groupBy key is a fixed 32-char hash — shuffle
    width is constant regardless of document size."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "n_chars",
            F.md5(F.substring(F.col("text"), 1, 64)).alias("prefix_fp"),
        )
        .groupBy("prefix_fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


@query(
    "q47_repetition_score",
    oracle="""
    SELECT doc_id, n_bigrams, n_distinct,
           1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams AS rep_ratio
    FROM (
      SELECT doc_id,
             CAST(len(bi) AS BIGINT) AS n_bigrams,
             CAST(len(list_distinct(bi)) AS BIGINT) AS n_distinct
      FROM (
        SELECT doc_id,
               list_transform(
                 range(1, greatest(len(toks), 1)),
                 i -> toks[i] || ' ' || toks[i + 1]
               ) AS bi
        FROM (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS toks
          FROM documents
        )
      )
    )
    WHERE n_bigrams > 0
    """,
)
def q47_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-bigram ratio per document (training-pipeline quality
    signal: high repetition marks boilerplate/degenerate text — the
    classic repetition filter in LLM corpus curation).

    ``rep_ratio = 1 − distinct_bigrams / bigrams`` — an integer ratio, so
    the double division is bit-identical cross-engine. Docs with no
    bigrams (<2 tokens) are excluded on BOTH sides (0/0 guard, same rule
    as q51).

    Scale: embarrassingly parallel — per-row array expressions, zero
    shuffles; the bigram arrays never leave the scan task.
    """
    from pyspark_streaming_base_spark.functions.textops import word_bigrams

    bi = word_bigrams(F.col("text"))
    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(bi).cast("bigint").alias("n_bigrams"),
        F.size(F.array_distinct(bi)).cast("bigint").alias("n_distinct"),
    )
    return base.filter(F.col("n_bigrams") > 0).select(
        "doc_id",
        "n_bigrams",
        "n_distinct",
        (1.0 - F.col("n_distinct").cast("double") / F.col("n_bigrams")).alias(
            "rep_ratio"
        ),
    )


#: Stopword list for the stopword-ratio quality signal (distinct from the
#: per-language _STOPWORDS lexicons q52 uses). Tiny and fixed: the
#: operator's point is the ratio plumbing, not linguistics.
_QUALITY_STOPWORDS = ("a", "the", "and", "of", "to")


@query(
    "q48_stopword_ratio",
    oracle=f"""
    SELECT doc_id, n_tokens, n_stop,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio
    FROM (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN
               ({", ".join("'" + w + "'" for w in _QUALITY_STOPWORDS)}))) AS BIGINT)
               AS n_stop
      FROM (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
      )
    )
    WHERE n_tokens > 0
    """,
)
def q48_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword ratio per document (quality signal: natural prose has a
    stable stopword fraction; token soup and boilerplate don't).

    Integer counts → bit-identical double ratio; empty docs excluded on
    both sides. Scale: per-row array filter against a 5-element literal
    set, zero shuffles.
    """
    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in _QUALITY_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        n_stop.cast("bigint").alias("n_stop"),
    )
    return base.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        "n_stop",
        (F.col("n_stop").cast("double") / F.col("n_tokens")).alias("stop_ratio"),
    )


#: Deterministic 3-way split thresholds on the first 16 bits of
#: md5(doc_id): [0, 0x0ccc) ≈ 5% val, [0x0ccc, 0x1999) ≈ 5% test,
#: rest train. Same membership-is-a-pure-function-of-the-key rationale as
#: q55: rows never flip split when the corpus grows.
_SPLIT_VAL_HEX = "0ccc"
_SPLIT_TEST_HEX = "1999"


@query(
    "q49_train_split",
    oracle=f"""
    SELECT lang, split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM (
      SELECT lang,
             CASE
               WHEN hk < '{_SPLIT_VAL_HEX}' THEN 'val'
               WHEN hk < '{_SPLIT_TEST_HEX}' THEN 'test'
               ELSE 'train'
             END AS split,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS BIGINT) AS n_tok
      FROM (
        SELECT lang, text,
               SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hk
        FROM documents
      )
    )
    GROUP BY lang, split
    """,
)
def q49_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (training-pipeline op): split
    membership is a pure function of ``md5(doc_id)`` — reproducible
    across engines, runs, cluster sizes, and dataset growth (a doc never
    changes split when neighbors arrive, unlike seeded ``randomSplit``).
    Reports per-(lang, split) doc and token counts.

    Scale: stateless hash + one map-side-combined aggregation; the split
    column itself would be written alongside the data in a real pipeline
    (zero-shuffle, embarrassingly parallel).
    """
    d = t(spark, sf_dir, "documents")
    hk = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(hk < _SPLIT_VAL_HEX, "val")
        .when(hk < _SPLIT_TEST_HEX, "test")
        .otherwise("train")
    )
    return (
        d.select(
            "lang",
            split.alias("split"),
            F.size(_tokens(F.col("text"))).cast("bigint").alias("n_tok"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
    )


#: Vocabulary size for the vocab-build operator.
_VOCAB_SIZE = 64


@query(
    "q85_vocab_build",
    oracle=f"""
    SELECT token, n_docs, n_occurrences,
           CAST(ROW_NUMBER() OVER (
             ORDER BY n_occurrences DESC, token
           ) AS BIGINT) AS token_id
    FROM (
      SELECT tok AS token,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents
      )
      GROUP BY tok
      ORDER BY n_occurrences DESC, tok
      LIMIT {_VOCAB_SIZE}
    )
    """,
)
def q85_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction (training-pipeline artifact): the top-V
    terms by corpus frequency with STABLE integer ids — id assignment is
    (count desc, token) so the mapping is reproducible across runs and
    engines (determinism invariant 5; a hash-based id would collide, a
    nondeterministic zip would renumber).

    Scale: token counts are one explode + map-side-combined groupBy; the
    top-V cut is ``TakeOrderedAndProject`` (per-task partial top-V, one
    V-row merge); only THEN does the global row_number window run — over
    exactly V rows, so the single-partition window is bounded by
    construction, not by the corpus.
    """
    from pyspark.sql import Window as W

    toks = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    )
    counts = toks.groupBy("token").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
    )
    top = counts.orderBy(
        F.col("n_occurrences").desc(), F.col("token")
    ).limit(_VOCAB_SIZE)
    w = W.orderBy(F.col("n_occurrences").desc(), F.col("token"))
    return top.select(
        "token",
        "n_docs",
        "n_occurrences",
        F.row_number().over(w).cast("bigint").alias("token_id"),
    )


#: Chunking parameters: window of 32 tokens advancing by 24 (8-token overlap).
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24


@query(
    "q86_doc_chunking",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), sized AS (
      SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(len(list_slice(toks, s + 1, s + {_CHUNK_SIZE})) AS BIGINT)
             AS n_chunk_tokens,
           md5(array_to_string(list_slice(toks, s + 1, s + {_CHUNK_SIZE}), ' '))
             AS chunk_md5
    FROM sized, unnest(generate_series(0, n - 1, {_CHUNK_STRIDE})) AS u(s)
    """,
)
def q86_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking (training-pipeline op): every
    document becomes ceil(n/stride) chunks of ≤32 tokens starting every 24
    tokens, the standard long-document → context-window preprocessing step.
    Chunk content is verified cross-engine by its md5, so the oracle checks
    the actual text split, not just counts.

    Scale: a purely narrow pipeline — tokenize, generate chunk starts with
    ``sequence``, ``explode``, ``slice`` — no shuffle at all, and the fan-out
    factor is bounded by document length. At 100 TB this is the
    embarrassingly-parallel shape you want: each input split chunks
    independently and writes straight out.
    """
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", _tokens(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
        .where(F.col("n") > 0)
    )
    ch = d.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(_CHUNK_STRIDE))
        ).alias("s"),
    )
    # s is always a multiple of the stride, so the double division below is
    # exact and the bigint cast cannot truncate a .999.. artifact
    chunk = F.slice(F.col("toks"), F.col("s") + 1, F.lit(_CHUNK_SIZE))
    return ch.select(
        "doc_id",
        (F.col("s") / _CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


@query(
    "q87_decontamination",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hk
      FROM documents
    ), sh AS (
      SELECT doc_id, lang, hk,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct([array_to_string(list_slice(toks, i, i + 2), ' ')
                                      for i in generate_series(1, len(toks) - 2)])
                  ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM base
    ), ev AS (
      SELECT DISTINCT unnest(shingles) AS sh FROM sh WHERE hk < '{_SPLIT_VAL_HEX}'
    ), tr AS (
      SELECT doc_id, lang, unnest(shingles) AS sh
      FROM sh WHERE hk >= '{_SPLIT_TEST_HEX}'
    ), hits AS (
      SELECT DISTINCT doc_id, lang FROM tr WHERE sh IN (SELECT sh FROM ev)
    ), tr_docs AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_train
      FROM sh WHERE hk >= '{_SPLIT_TEST_HEX}' GROUP BY lang
    ), c AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_contaminated
      FROM hits GROUP BY lang
    )
    SELECT tr_docs.lang AS lang, n_train,
           COALESCE(n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated
    FROM tr_docs LEFT JOIN c ON tr_docs.lang = c.lang
    """,
)
def q87_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (training-pipeline op): flag train-split
    documents sharing any word 3-shingle with the held-out val split — the
    n-gram-overlap check every serious pretraining pipeline runs before
    training. Splits reuse q49's md5-threshold rule (val = hk < val_hex,
    train = hk ≥ test_hex) so membership is deterministic cross-engine;
    shingles are the canonical ``word_shingles`` (distinct 3-grams,
    whole-text fallback for <3-token docs).

    Scale: the eval side reduces to a DISTINCT shingle set joined with a
    LEFT SEMI — contaminated docs are found by one equi-join on the shingle,
    never a pairwise doc comparison. In a real pipeline the eval side is a
    fixed benchmark suite (tiny → broadcast the shingle index); here it is
    a corpus-proportional split, so the semi join shuffles on the shingle —
    at 100 TB you would join on ``xxhash64(shingle)`` (8-byte keys instead
    of strings) and persist the eval index once. The final step would be a
    LEFT ANTI to drop flagged docs; this query reports the per-lang audit
    counts instead so the result is oracle-checkable.
    """
    from pyspark_streaming_base_spark.functions.textops import word_shingles

    # r13 (guide §2.5 input skew): spread the single-split fixture scan
    # so the per-branch shingle computation parallelizes; no-op at
    # corpus scale (see operators/spread.py).
    d = spread(t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id",
        "lang",
        word_shingles(F.col("text")).alias("shingles"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("hk"),
    )
    ev = (
        d.where(F.col("hk") < _SPLIT_VAL_HEX)
        .select(F.explode("shingles").alias("sh"))
        .distinct()
    )
    tr = d.where(F.col("hk") >= _SPLIT_TEST_HEX)
    hits = (
        tr.select("doc_id", "lang", F.explode("shingles").alias("sh"))
        .join(ev, "sh", "left_semi")
        .select("doc_id", "lang")
        .distinct()
    )
    n_train = tr.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train")
    )
    n_cont = hits.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contaminated")
    )
    return n_train.join(n_cont, "lang", "left").select(
        "lang",
        "n_train",
        F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias("n_contaminated"),
    )


@query(
    "q90_tokenize_corpus",
    oracle=f"""
    WITH counts AS (
      SELECT tok AS token, COUNT(*) AS n_occ
      FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents
      )
      GROUP BY tok ORDER BY n_occ DESC, tok LIMIT {_VOCAB_SIZE}
    ), vocab AS (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) AS BIGINT)
               AS token_id
      FROM counts
    ), tok AS (
      SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
      )
    ), j AS (
      SELECT doc_id, pos, COALESCE(v.token_id, 0) AS tid
      FROM tok LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
    FROM j GROUP BY doc_id
    """,
)
def q90_tokenize_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary APPLICATION (the step after q85's vocab build): map every
    document to its token-id sequence — in-vocab tokens get their stable
    q85 id, OOV tokens get 0 — and report per-doc length, OOV count, and
    the md5 of the comma-joined id sequence, so the oracle verifies the
    exact ids in the exact order, not just counts.

    Scale: the vocab is by-construction-small (V rows, V=64 here, ≤ a few
    hundred thousand for real BPE vocabs) → ``broadcast`` join against the
    exploded corpus, which therefore never shuffles for the lookup; the
    only wide exchange is the per-doc regroup, keyed on ``doc_id``
    (unskewed by construction). Position order is reconstructed with
    ``array_sort`` over (pos, id) structs — no window function, no
    single-partition sort.
    """
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(_tokens(F.col("text"))).alias("pos", "token")
    )
    counts = d.groupBy("token").agg(F.count(F.lit(1)).alias("n_occ"))
    top = counts.orderBy(F.col("n_occ").desc(), F.col("token")).limit(_VOCAB_SIZE)
    vocab = top.select(
        "token",
        F.row_number()
        .over(W.orderBy(F.col("n_occ").desc(), F.col("token")))
        .cast("bigint")
        .alias("token_id"),
    )
    j = d.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce("token_id", F.lit(0)).alias("tid")
    )
    seq = F.array_sort(F.collect_list(F.struct("pos", "tid")))
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        F.sum((F.col("tid") == 0).cast("int")).cast("bigint").alias("n_oov"),
        F.md5(
            F.concat_ws(",", F.transform(seq, lambda x: x["tid"].cast("string")))
        ).alias("ids_md5"),
    )


#: co-occurrence vocabulary bound: pairs only among the top-N tokens.
_COOC_VOCAB = 100
_COOC_TOP = 50


@query(
    "q117_cooccurrence_lift",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_distinct(
               list_filter(string_split(text, ' '), x -> x <> ''))) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS c FROM tok GROUP BY w
        ORDER BY c DESC, w LIMIT {_COOC_VOCAB}
      )
    ),
    vt AS (SELECT DISTINCT doc_id, w FROM tok WHERE w IN (SELECT w FROM vocab)),
    uni AS (SELECT w, count(*) AS cw FROM vt GROUP BY w),
    pairs AS (
      SELECT a.w AS w1, b.w AS w2, count(*) AS c12
      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.w < b.w
      GROUP BY a.w, b.w
    ),
    n AS (SELECT count(DISTINCT doc_id) AS nd FROM tok)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS n_docs_both,
           CAST(ua.cw AS BIGINT) AS n_docs_w1,
           CAST(ub.cw AS BIGINT) AS n_docs_w2,
           CAST(n.nd * c12 AS DOUBLE) / (ua.cw * ub.cw) AS lift
    FROM pairs
    JOIN uni ua ON pairs.w1 = ua.w
    JOIN uni ub ON pairs.w2 = ub.w
    CROSS JOIN n
    ORDER BY c12 DESC, w1, w2 LIMIT {_COOC_TOP}
    """,
)
def q117_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence lift (text-analytics extension): for the top
    50 co-occurring pairs of top-100-vocabulary tokens, how much more
    often they appear in the same document than independence predicts —
    PMI's ratio WITHOUT the log, because ``lift = N·c12/(c1·c2)`` is one
    IEEE division of exact integers (bit-identical across engines)
    while ``log`` is a libm call with per-engine ulp drift.

    Scale shape: the pair space is bounded BY CONSTRUCTION to the
    broadcast vocabulary (≤ C(100,2) distinct pairs; the per-doc
    self-join is an equi-join on doc_id with ≤100 rows per doc on each
    side, never corpus×corpus); the vocabulary itself is a distributive
    top-N (TakeOrderedAndProject — each map task keeps 100 candidates).
    Final top-50 breaks ties on the pair itself.
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("w")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "w")
        .limit(_COOC_VOCAB)
        .select("w")
    )
    vt = tok.join(F.broadcast(vocab), "w").select("doc_id", "w").distinct()
    uni = vt.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    a, b = vt.alias("a"), vt.alias("b")
    pairs = (
        a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.w") < F.col("b.w")))
        .groupBy(F.col("a.w").alias("w1"), F.col("b.w").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    # doc-count base = docs with ≥1 token (the tokenized frame), matching
    # the oracle's `FROM tok` — counting raw documents would diverge on
    # empty/whitespace-only texts (latent in current fixtures, real in
    # production corpora)
    nd = tok.select(F.count_distinct("doc_id").alias("nd"))
    out = (
        pairs.join(F.broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "cw1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "cw2")), "w2")
        .crossJoin(F.broadcast(nd))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("n_docs_both"),
            F.col("cw1").cast("bigint").alias("n_docs_w1"),
            F.col("cw2").cast("bigint").alias("n_docs_w2"),
            ((F.col("nd") * F.col("c12")).cast("double") / (F.col("cw1") * F.col("cw2"))).alias("lift"),
        )
    )
    return out.orderBy(F.col("n_docs_both").desc(), "w1", "w2").limit(_COOC_TOP)


@query(
    "q121_contamination_fraction",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hk
      FROM documents
    ), sh AS (
      SELECT doc_id, lang, hk,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct([array_to_string(list_slice(toks, i, i + 2), ' ')
                                      for i in generate_series(1, len(toks) - 2)])
                  ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM base
    ), ev AS (
      SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE hk < '{_SPLIT_VAL_HEX}'
    ), tr AS (
      SELECT doc_id, lang, unnest(shingles) AS s
      FROM sh WHERE hk >= '{_SPLIT_TEST_HEX}'
    )
    SELECT doc_id, lang,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE s IN (SELECT s FROM ev)) AS BIGINT)
             AS n_overlap,
           CAST(count(*) FILTER (WHERE s IN (SELECT s FROM ev)) AS DOUBLE)
             / count(*) AS overlap_frac
    FROM tr GROUP BY doc_id, lang
    """,
)
def q121_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination score per train document (training-pipeline
    extension): the FRACTION of a doc's distinct 3-shingles present in
    the held-out split — q87's binary flag upgraded to the ranked score
    real pipelines threshold on (a doc quoting one benchmark line and a
    doc that IS a benchmark differ only here). Same deterministic
    md5-threshold splits and canonical shingles as q49/q87; the overlap
    test is a LEFT-join-with-match-mark on the shingle key — still one
    equi-join, never pairwise. Integer-ratio fraction → bit-exact.
    """
    from pyspark_streaming_base_spark.functions.textops import word_shingles

    # r13 (guide §2.5 input skew): spread the single-split fixture scan
    # so the per-branch shingle computation parallelizes; no-op at
    # corpus scale (see operators/spread.py).
    d = spread(t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id",
        "lang",
        word_shingles(F.col("text")).alias("shingles"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("hk"),
    )
    ev = (
        d.where(F.col("hk") < _SPLIT_VAL_HEX)
        .select(F.explode("shingles").alias("s"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tr = d.where(F.col("hk") >= _SPLIT_TEST_HEX).select(
        "doc_id", "lang", F.explode("shingles").alias("s")
    )
    n_overlap = F.count(F.when(F.col("_hit").isNotNull(), 1))
    return (
        tr.join(ev, "s", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            n_overlap.cast("bigint").alias("n_overlap"),
            (n_overlap.cast("double") / F.count(F.lit(1))).alias("overlap_frac"),
        )
    )


@query("q134_bigram_lm_score", oracle=None)  # log2 is transcendental —
# engine libms differ in ULPs, and the q96/q99 rounding-boundary lesson
# says never hash a rounded transcendental; pinned instead by the numpy
# mirror in tests/test_bigram_lm.py (the q94/q133 pattern)
def q134_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring (C19 extension) — the CCNet/KenLM-style
    perplexity filter of LLM data pipelines: score every document by the
    mean log-probability its own corpus's bigram model assigns to it.
    Low avg_logp = improbable word sequences = garbled/boilerplate/
    wrong-language candidates; q93's unigram frequency proxy ranks WORDS,
    this ranks TRANSITIONS (word order), which is what separates token
    soup from prose.

    Model: P(w2 | w1) = (C(w1 w2) + 0.5) / (C(w1 ·) + 0.5·V) — add-α
    smoothing over the continuation vocabulary V (distinct corpus
    tokens); contexts C(w1 ·) are bigram-first-word totals, so the model
    is properly normalized (Σ_w2 P = 1 per context). Scored on bigram
    OCCURRENCES (duplicates kept — a repeated n-gram is repeated
    evidence).

    Determinism: each bigram's log2 P is rounded to the 10⁻⁶ grid per
    row, then exact-summed (``_exact.py``) — the per-doc mean is
    partition-order-independent, like every oracle-bearing aggregate in
    this repo even though this query is rows-only.

    Scale: one bigram-count aggregate (map-side combined, vocab²-
    bounded), one context aggregate (vocab-bounded), a bigram-keyed
    equi-join back to doc bigrams (hot stopword contexts are plain AQE
    join skew), a 1-row V broadcast, one doc-keyed agg. All built-ins —
    no Python in the hot path.
    """
    from pyspark_streaming_base_spark.functions.textops import word_bigrams
    from pyspark_streaming_base_spark.queries._exact import scaled, unscale

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    bg = docs.select(
        "doc_id", F.explode(word_bigrams(F.col("text"))).alias("bg")
    )
    c12 = bg.groupBy("bg").agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    # context totals: C(w1 ·) = how often w1 starts a bigram. Tokens are
    # split-on-space, so the bigram string's first field IS w1.
    w1 = F.element_at(F.split(F.col("bg"), " "), 1)
    ctx = (
        c12.select(w1.alias("w1"), "c12")
        .groupBy("w1")
        .agg(F.sum("c12").cast("bigint").alias("c1"))
    )
    vocab = docs.select(
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok")
    ).filter(F.col("tok") != "").agg(
        F.count_distinct("tok").cast("double").alias("v")
    )
    lp = F.log2(
        (F.col("c12") + F.lit(0.5))
        / (F.col("c1") + F.lit(0.5) * F.col("v"))
    )
    return (
        bg.join(c12, "bg")
        .withColumn("w1", w1)
        .join(ctx, "w1")
        .join(F.broadcast(vocab))
        # per-row 10⁻⁶ rounding, then the exact scaled-int mean
        .select("doc_id", scaled(lp).alias("lp6"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (unscale(F.sum("lp6")) / F.count(F.lit(1))).alias("avg_logp"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (C19 extension)
# ---------------------------------------------------------------------------

#: Fixed demo query — five mid-frequency corpus words. At 100 TB the
#: query side is always tiny (user keywords), so every per-query factor
#: below stays a 1-row or 5-row broadcast.
_BM25_TERMS = ("scan", "merge", "window", "stream", "vector")
_BM25_K1 = 1.2  # term-frequency saturation
_BM25_B = 0.75  # length normalization
_BM25_TOPK = 15

_BM25_TERMS_SQL = ", ".join(f"'{w}'" for w in _BM25_TERMS)

#: Shared oracle CTE chain producing ``bm25(doc_id, n_terms_hit, score)``
#: — q136 orders it; q138's hybrid-fusion oracle reuses it verbatim so
#: the lexical arm can never drift between the two oracles.
BM25_SQL_CTES = f"""
    WITH base AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len(toks)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM base
    ),
    tok AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
      FROM base
    ),
    tf AS (
      SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok
      WHERE term IN ({_BM25_TERMS_SQL})
      GROUP BY doc_id, dl, term
    ),
    df_t AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    per_term AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               (((CAST(stats.n AS DOUBLE) - CAST(df_t.df AS DOUBLE)) + 0.5)
                  / (CAST(df_t.df AS DOUBLE) + 0.5))
               * ((CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE)
                     + {_BM25_K1} * (0.25 + {_BM25_B}
                        * (CAST(tf.dl AS DOUBLE) / stats.avgdl))))
               * 1000000.0 + 0.5) AS BIGINT) AS s6
      FROM tf JOIN df_t ON tf.term = df_t.term CROSS JOIN stats
    ),
    bm25 AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             CAST(SUM(s6) AS DOUBLE) / 1000000.0 AS score
      FROM per_term
      GROUP BY doc_id
    )
"""


@query(
    "q136_bm25_topk",
    oracle=f"""{BM25_SQL_CTES}
    SELECT doc_id, n_terms_hit, score
    FROM bm25
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def q136_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (C19 extension): top-15 documents for a
    fixed 5-term query under the Okapi BM25 ranking function — the
    lexical-retrieval baseline every RAG / data-curation stack ships
    next to its vector index (and the lexical arm q138's hybrid fusion
    consumes). Robertson–Spärck Jones idf is used in its RATIONAL form
    ``(N − df + 0.5)/(df + 0.5)`` (no log), the q57 linear-idf lesson:
    every factor is an IEEE-exact ratio of integers (±0.5), so scores are
    bit-deterministic cross-engine with no transcendental risk. Per-term
    scores are rounded to the 10⁻⁶ grid per row and exact-summed as
    scaled int64 (``_exact.py``), so the doc score is partition-order
    independent; monotone bigint→double division preserves the ranking.

    Scale: dl/avgdl fold to ONE broadcast row; tf is a (doc, term)
    aggregate AFTER an `isin` pushdown (only query-term tokens leave the
    scan); df is a 5-row aggregate joined broadcast. The final top-15 is
    ``TakeOrderedAndProject`` — per-partition top-k, no global sort.
    BM25: Robertson et al., TREC-3 (1994) — public.

    Single definition: the postings/doclens/scoring pipeline lives in
    ``operators/bm25.py`` — this inline query, q138's lexical arm, and
    the PERSISTED inverted index (``build_bm25_index`` /
    ``append_bm25_index`` / ``query_bm25_index``, the lexical member of
    the O(batch)-append index family) all run the same functions, so
    inline == index-backed by construction (pinned in
    ``tests/test_bm25_index.py``).
    """
    from pyspark_streaming_base_spark.operators.bm25 import (
        bm25_doclens,
        bm25_postings,
        bm25_score_terms,
    )

    # r13 (guide §2.5 input skew / §1.2): the fixture table is ONE
    # parquet split, so each tokenize-rooted stage ran as a single task;
    # spread() parallelizes them across cores and is a no-op at corpus
    # scale (see operators/spread.py). The scorer's repeated subtrees stay
    # UNpersisted deliberately: each is a pruned single-pass scan and a
    # 1-partition persist was measured to SERIALIZE every consumer
    # behind one task (2.4× slower at 32 cores).
    docs = spread(t(spark, sf_dir, "documents"), "doc_id")
    return bm25_score_terms(
        bm25_postings(docs),
        bm25_doclens(docs),
        _BM25_TERMS,
        top_k=_BM25_TOPK,
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered decontamination (training-pipeline extension)
# ---------------------------------------------------------------------------


@query(
    "q139_bloom_decontamination",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS hk
      FROM documents
    ), sh AS (
      SELECT doc_id, lang, hk,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct([array_to_string(list_slice(toks, i, i + 2), ' ')
                                      for i in generate_series(1, len(toks) - 2)])
                  ELSE [array_to_string(toks, ' ')] END AS shingles
      FROM base
    ), ev AS (
      SELECT DISTINCT unnest(shingles) AS sh FROM sh WHERE hk < '{_SPLIT_VAL_HEX}'
    ), tr AS (
      SELECT doc_id, lang, unnest(shingles) AS sh
      FROM sh WHERE hk >= '{_SPLIT_TEST_HEX}'
    )
    SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_hit_shingles
    FROM tr WHERE sh IN (SELECT sh FROM ev)
    GROUP BY doc_id, lang
    """,
)
def q139_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination (training-pipeline
    extension): the per-doc contaminated-shingle audit — which TRAIN docs
    share which number of 3-shingles with the val split — computed with a
    32 KB broadcast Bloom filter (``operators/bloom.py``) killing clean
    shingles MAP-SIDE before the exact semi join. Bloom has no false
    negatives and the exact join removes its false positives, so the
    result EQUALS the unfiltered q87-style semi join — that exact
    semantics is the oracle; the FP rate is pinned in pytest
    (``test_bloom_decon.py``), not trusted.

    Scale: this is the shape that survives 100 TB where q87's plain semi
    join does not — the shuffle of corpus shingles is the dominant cost
    of decontamination, and the benchmark side is small and FIXED in
    practice, so the bloom probe (k=3 broadcast joins, narrow) drops
    ~(1−FP) of train shingles before any exchange; only bloom-positive
    shingles pay the string shuffle for exact verification.
    """
    from pyspark_streaming_base_spark.functions.textops import word_shingles
    from pyspark_streaming_base_spark.operators.bloom import (
        bloom_maybe_contains,
        build_bloom,
    )

    # r13 (guide §2.5 input skew): spread the single-split fixture scan
    # so the per-branch shingle computation parallelizes; no-op at
    # corpus scale (see operators/spread.py).
    d = spread(t(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id",
        "lang",
        word_shingles(F.col("text")).alias("shingles"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("hk"),
    )
    ev = (
        d.where(F.col("hk") < _SPLIT_VAL_HEX)
        .select(F.explode("shingles").alias("sh"))
        .distinct()
    )
    bloom = build_bloom(ev, "sh")
    tr = d.where(F.col("hk") >= _SPLIT_TEST_HEX).select(
        "doc_id", "lang", F.explode("shingles").alias("sh")
    )
    cand = bloom_maybe_contains(tr, "sh", bloom)
    hits = cand.join(ev, "sh", "left_semi")
    return hits.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit_shingles")
    )


# ---------------------------------------------------------------------------
# BPE vocabulary training (C19 extension)
# ---------------------------------------------------------------------------

_BPE_MERGES = 12


@query("q143_bpe_merges", oracle=None)  # iterative argmax loop — rows-only
# by design; pinned merge-for-merge against a pure-Python Sennrich mirror
# in tests/test_bpe.py (the q94/q133/q134 pattern)
def q143_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary training (C19 extension): learn the first 12
    subword merges from the corpus — the tokenizer-training step of an
    LLM data pipeline (Sennrich et al., ACL 2016; q54 COUNTS with a
    BPE-ish pre-tokenizer, q85/q90 build and apply a WORD vocab — this
    learns the subword table itself). `operators/bpe.py`: trains on the
    word-TYPE table (one map-side aggregate folds any corpus to distinct
    words × freq), then per merge round one pair-count aggregate, a
    limit-1 argmax with the (weight DESC, pair ASC) tie-break, and an
    expression-level greedy fold applying the winner — the 1-row winner
    rides a broadcast, nothing reaches the driver, localCheckpoint
    truncates lineage per round.

    Output: the ordered merge table (rank, left, right, merged, weight)
    — rank order IS the application order of the learned tokenizer.
    """
    from pyspark_streaming_base_spark.operators.bpe import bpe_train

    words = (
        t(spark, sf_dir, "documents")
        .select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return bpe_train(words, _BPE_MERGES)


# ---------------------------------------------------------------------------
# Per-language relative quality gate (C19 extension)
# ---------------------------------------------------------------------------


@query(
    "q145_relative_quality_gate",
    oracle="""
    WITH q AS (
      SELECT doc_id, lang, n_tokens,
             0.45 * distinct_ratio + 0.35 * length_score
               + 0.2 * (CASE WHEN n_tokens >= 10 THEN 1.0 ELSE 0.0 END)
               AS quality
      FROM (
        SELECT
          doc_id, lang,
          CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
          CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE)
            / len(list_filter(string_split(text, ' '), x -> x <> '')) AS distinct_ratio,
          LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS length_score
        FROM documents
        WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
      )
    ),
    thr AS (
      SELECT lang, quantile_cont(quality, 0.25) AS q25 FROM q GROUP BY lang
    )
    SELECT q.doc_id, q.lang, q.quality, thr.q25
    FROM q JOIN thr ON q.lang = thr.lang
    WHERE q.quality >= thr.q25
    """,
)
def q145_relative_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language RELATIVE quality gate (C19 extension): keep documents
    at or above their OWN language's 25th quality percentile — the
    per-stratum relative filter real pipelines use instead of one global
    threshold (an absolute cutoff tuned on English silently guts
    low-resource languages; a per-group percentile keeps each stream's
    best 75%). Reuses q51's exact quality expression verbatim; the
    threshold is the q26-verified exact interpolated percentile (Spark
    ``percentile`` == DuckDB ``quantile_cont`` bit-for-bit on identical
    inputs), so the kept SET — including boundary docs — matches the
    oracle exactly.

    Scale: one scan computes qualities; thresholds are a |langs|-row
    aggregate joined back as a broadcast (q112's pattern); the gate is a
    map-side filter. Nothing corpus-sized shuffles.
    """
    d = t(spark, sf_dir, "documents")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    length_score = F.least(F.col("n_chars").cast("double") / 500.0, F.lit(1.0))
    q = (
        d.select(
            "doc_id",
            "lang",
            n_tokens.cast("bigint").alias("n_tokens"),
            distinct_ratio.alias("distinct_ratio"),
            length_score.alias("length_score"),
        )
        .filter(F.col("n_tokens") > 0)
        .select(
            "doc_id",
            "lang",
            (
                0.45 * F.col("distinct_ratio")
                + 0.35 * F.col("length_score")
                + 0.2 * F.when(F.col("n_tokens") >= 10, 1.0).otherwise(0.0)
            ).alias("quality"),
        )
    )
    thr = q.groupBy("lang").agg(
        F.expr("percentile(quality, 0.25)").alias("q25")
    )
    return (
        q.join(F.broadcast(thr), "lang")
        .filter(F.col("quality") >= F.col("q25"))
        .select("doc_id", "lang", "quality", "q25")
    )


# ---------------------------------------------------------------------------
# Corpus profile report (C19/DQ extension)
# ---------------------------------------------------------------------------


@query(
    "q147_corpus_profile",
    oracle="""
    SELECT COALESCE(lang, 'ALL') AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
           1.0 - (CAST(COUNT(DISTINCT text) AS DOUBLE) / COUNT(*)) AS dup_ratio,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(n_toks) AS DOUBLE) / COUNT(*) AS avg_tokens,
           quantile_cont(n_toks, 0.5) AS p50_tokens
    FROM (
      SELECT lang, text,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_toks
      FROM documents
    )
    GROUP BY ROLLUP(lang)
    """,
)
def q147_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan corpus profile (C19/DQ extension): the health dashboard a
    data pipeline publishes per snapshot — doc counts, exact-duplicate
    ratio (1 − distinct texts/docs: the quantity exact dedup will
    reclaim), token volume, and the mean/median length profile, per
    language AND pooled via ROLLUP in a single aggregate.

    Exactness: every metric is an exact integer ratio or the
    q26-verified interpolated percentile — the whole report hash-matches
    the oracle. The total row is the same rollup grouping-set, not a
    second scan.

    Scale: ONE scan, one rollup aggregate (map-side combined per
    grouping set); count(DISTINCT text) shuffles the text hash domain
    once — at 100 TB substitute the md5 fingerprint column (q100's
    normal form) for the raw text to keep the exchange at 16 bytes/doc.
    """
    d = t(spark, sf_dir, "documents").select(
        "lang",
        "text",
        F.size(_tokens(F.col("text"))).cast("bigint").alias("n_toks"),
    )
    return (
        d.rollup("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("text").cast("bigint").alias("n_distinct_texts"),
            (
                F.lit(1.0)
                - (
                    F.count_distinct("text").cast("double")
                    / F.count(F.lit(1))
                )
            ).alias("dup_ratio"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            (F.sum("n_toks").cast("double") / F.count(F.lit(1))).alias(
                "avg_tokens"
            ),
            F.expr("percentile(n_toks, 0.5)").alias("p50_tokens"),
        )
        .select(
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            "n_docs",
            "n_distinct_texts",
            "dup_ratio",
            "n_tokens",
            "avg_tokens",
            "p50_tokens",
        )
    )


# ---------------------------------------------------------------------------
# Batch BM25 retrieval over a query table (C19 extension)
# ---------------------------------------------------------------------------

#: Fixed demo query bench: (qid, term) rows — three multi-term queries.
_BM25_BENCH = (
    (0, "scan"), (0, "merge"),
    (1, "stream"), (1, "vector"),
    (2, "window"), (2, "batch"), (2, "table"),
)
_BM25_BATCH_K = 5

_BM25_BENCH_SQL = ", ".join(f"({q}, '{w}')" for q, w in _BM25_BENCH)


@query(
    "q154_bm25_batch_retrieval",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len(toks)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
      FROM base
    ),
    tok AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, unnest(toks) AS term
      FROM base
    ),
    bench(qid, term) AS (VALUES {_BM25_BENCH_SQL}),
    tf AS (
      SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok
      WHERE term IN (SELECT DISTINCT term FROM bench)
      GROUP BY doc_id, dl, term
    ),
    df_t AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    per_term AS (
      SELECT bench.qid, tf.doc_id,
             CAST(FLOOR(
               (((CAST(stats.n AS DOUBLE) - CAST(df_t.df AS DOUBLE)) + 0.5)
                  / (CAST(df_t.df AS DOUBLE) + 0.5))
               * ((CAST(tf.tf AS DOUBLE) * 2.2)
                  / (CAST(tf.tf AS DOUBLE)
                     + {_BM25_K1} * (0.25 + {_BM25_B}
                        * (CAST(tf.dl AS DOUBLE) / stats.avgdl))))
               * 1000000.0 + 0.5) AS BIGINT) AS s6
      FROM tf JOIN bench ON tf.term = bench.term
              JOIN df_t ON tf.term = df_t.term
              CROSS JOIN stats
    ),
    scored AS (
      SELECT qid, doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             CAST(SUM(s6) AS DOUBLE) / 1000000.0 AS score
      FROM per_term GROUP BY qid, doc_id
    )
    SELECT CAST(qid AS BIGINT) AS qid, doc_id, n_terms_hit, score
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk
      FROM scored
    )
    WHERE rnk <= {_BM25_BATCH_K}
    """,
)
def q154_bm25_batch_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch BM25 retrieval (C19 extension): score a whole query TABLE
    (three multi-term queries) in ONE plan via
    ``operators/bm25.py::bm25_score_query_table`` — the production shape
    of lexical search (a bench of queries per job, not one); per-query
    top-5 with the partitioned rank (WindowGroupLimit), never a global
    sort. Same exact-math contract as q136 — rational idf, 10⁻⁶-grid
    exact-sum scores — so the full (qid, doc) score matrix hash-matches
    the oracle.

    Scale: the distinct query-term set broadcasts into the postings
    scan; each query's scoring rows are its own matching postings; the
    per-qid k-cut is per-partition pre-filtered.
    """
    from pyspark_streaming_base_spark.operators.bm25 import (
        bm25_doclens,
        bm25_postings,
        bm25_score_query_table,
    )

    docs = t(spark, sf_dir, "documents")
    bench = spark.createDataFrame(
        list(_BM25_BENCH), "qid bigint, term string"
    )
    return bm25_score_query_table(
        bm25_postings(docs),
        bm25_doclens(docs),
        bench,
        top_k=_BM25_BATCH_K,
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance-feedback query expansion (C19 extension)
# ---------------------------------------------------------------------------

_PRF_FB_DOCS = 5   # feedback depth: top docs of the first pass
_PRF_EXP_TERMS = 3  # expansion terms mined from the feedback docs
_PRF_TOPK = 10


@query(
    "q155_prf_query_expansion",
    oracle=f"""{BM25_SQL_CTES}
    , fb AS (
      SELECT doc_id FROM bm25 ORDER BY score DESC, doc_id LIMIT {_PRF_FB_DOCS}
    ),
    fb_tf AS (
      SELECT term, CAST(SUM(1) AS BIGINT) AS occ
      FROM tok
      WHERE doc_id IN (SELECT doc_id FROM fb)
        AND term NOT IN ({_BM25_TERMS_SQL})
      GROUP BY term
    ),
    exp_terms AS (
      SELECT term FROM fb_tf ORDER BY occ DESC, term LIMIT {_PRF_EXP_TERMS}
    ),
    all_terms AS (
      SELECT term FROM exp_terms
      UNION
      SELECT unnest([{_BM25_TERMS_SQL}]) AS term
    ),
    tf2 AS (
      SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok
      WHERE term IN (SELECT term FROM all_terms)
      GROUP BY doc_id, dl, term
    ),
    df2 AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf2 GROUP BY term
    ),
    pt2 AS (
      SELECT tf2.doc_id,
             CAST(FLOOR(
               (((CAST(stats.n AS DOUBLE) - CAST(df2.df AS DOUBLE)) + 0.5)
                  / (CAST(df2.df AS DOUBLE) + 0.5))
               * ((CAST(tf2.tf AS DOUBLE) * 2.2)
                  / (CAST(tf2.tf AS DOUBLE)
                     + {_BM25_K1} * (0.25 + {_BM25_B}
                        * (CAST(tf2.dl AS DOUBLE) / stats.avgdl))))
               * 1000000.0 + 0.5) AS BIGINT) AS s6
      FROM tf2 JOIN df2 ON tf2.term = df2.term CROSS JOIN stats
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           CAST(SUM(s6) AS DOUBLE) / 1000000.0 AS score
    FROM pt2
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT {_PRF_TOPK}
    """,
)
def q155_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (C19 extension) — the
    Rocchio/RM3-lite second pass of classic IR: run the BM25 query
    (q136's scorer), assume its top-{_PRF_FB_DOCS} docs are relevant,
    mine the {_PRF_EXP_TERMS} most frequent NEW terms from them
    (original terms excluded, occurrence-desc/term tie-break), and
    rescore the corpus with the expanded term set. Recall goes up
    because the feedback docs vote for vocabulary the user didn't type.
    Rocchio 1971 / RM3 (Lavrenko & Croft 2001) — public.

    Determinism: both passes are the exact-math BM25 (rational idf,
    grid-rounded exact-sum); feedback and expansion cuts tie-break on
    doc_id/term, so the expanded term set — and hence the final
    ranking — is bit-stable cross-engine.

    Scale: pass-1 is q136's shape; the feedback doc set is ≤5 ids
    (broadcast semi join); expansion mining scans only the feedback
    docs' tokens; pass-2 is q136's shape with ≤8 terms. Two passes over
    the postings, never more.
    """
    from pyspark_streaming_base_spark.operators.bm25 import (
        bm25_doclens,
        bm25_postings,
        bm25_score_expr,
        bm25_score_terms,
    )

    # r13 (guide §2.5 input skew / §1.2): spread() parallelizes every
    # tokenize-rooted subtree across cores (the fixture table is ONE
    # parquet split, so each previously ran as a single task); no-op at
    # corpus scale. The repeated postings/doclens subtrees stay
    # UNpersisted deliberately: each is pruned (the isin/semi-join
    # filters push below the aggregate and explode, so e.g. the
    # expansion mining tokenizes only the ≤5 feedback docs), the
    # independent subtrees overlap on the cores, and a 1-partition
    # persist was measured to SERIALIZE all consumers behind one task
    # (2.4× slower at 32 cores). Pass-1 IS q136's scorer call
    # (bm25_score_terms with q136's exact arguments), so the feedback
    # set is value-identical to the previous q136_bm25_topk() call.
    docs = spread(t(spark, sf_dir, "documents"), "doc_id")
    postings = bm25_postings(docs)
    doclens = bm25_doclens(docs)
    fb = (
        bm25_score_terms(postings, doclens, _BM25_TERMS, top_k=_BM25_TOPK)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_PRF_FB_DOCS)
        .select("doc_id")
    )
    exp_terms = (
        postings.join(F.broadcast(fb), "doc_id", "left_semi")
        .filter(~F.col("term").isin(*_BM25_TERMS))
        .groupBy("term")
        .agg(F.sum("tf").cast("bigint").alias("occ"))
        .orderBy(F.col("occ").desc(), "term")
        .limit(_PRF_EXP_TERMS)
        .select("term")
    )
    all_terms = exp_terms.unionByName(
        fb.sparkSession.createDataFrame(
            [(w,) for w in _BM25_TERMS], "term string"
        )
    ).distinct()
    hits = postings.join(F.broadcast(all_terms), "term")
    df2 = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    stats = doclens.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    scored = (
        hits.join(doclens, "doc_id")
        .join(F.broadcast(df2), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            bm25_score_expr(
                F.col("tf"), F.col("dl"), F.col("df"), F.col("n"), F.col("avgdl")
            ).alias("s6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            (F.sum("s6").cast("double") / F.lit(1000000.0)).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_PRF_TOPK)
        .select("doc_id", "n_terms_hit", "score")
    )


@query(
    "q157_vocab_profile",
    oracle="""
    WITH tf AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
            FROM documents)
      GROUP BY lang, term
    ), ranked AS (
      SELECT lang, term, freq,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rk
      FROM tf
    )
    SELECT lang,
           CAST(SUM(freq) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS DOUBLE) / SUM(freq) AS type_token_ratio,
           CAST(SUM(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           MIN(CASE WHEN rk = 1 THEN term END) AS top_term,
           CAST(MAX(CASE WHEN rk = 1 THEN freq END) AS BIGINT) AS top_term_freq,
           CAST(SUM(CASE WHEN rk <= 10 THEN freq ELSE 0 END) AS DOUBLE)
             / SUM(freq) AS top10_coverage
    FROM ranked
    GROUP BY lang
    """,
)
def q157_vocab_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-level vocabulary profile per language (C19 extension) — the
    companion to q147's doc-level profile: token volume, vocabulary size,
    type-token ratio, hapax-legomena count (freq-1 terms: the misspelling
    / OCR-noise signal), and the Zipf head (top term + top-10 mass
    coverage — how much of the corpus ten words explain). These are the
    numbers a tokenizer/vocab decision reads (Heaps' law growth, BPE
    vocab sizing) and a corpus-drift monitor baselines.

    Exactness: every metric is an integer count or integer ratio —
    bit-exact both engines; the Zipf head tie-breaks (freq DESC, term)
    so rank 1 and the top-10 set are deterministic.

    Scale: explode → (lang, term) count (map-side combined — the ONE
    corpus-sized exchange, bounded by the vocabulary afterwards), then a
    per-lang rank window over the VOCABULARY table (≤ types rows, not
    tokens) and a lang-level fold. Nothing beyond the term count ever
    touches corpus-sized data.
    """
    tf = (
        t(spark, sf_dir, "documents")
        .select("lang", F.explode(_tokens(F.col("text"))).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("term"))
    )
    ranked = tf.withColumn("rk", rk)
    return ranked.groupBy("lang").agg(
        F.sum("freq").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        (F.count(F.lit(1)).cast("double") / F.sum("freq")).alias(
            "type_token_ratio"
        ),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.min(F.when(F.col("rk") == 1, F.col("term"))).alias("top_term"),
        F.max(F.when(F.col("rk") == 1, F.col("freq")))
        .cast("bigint")
        .alias("top_term_freq"),
        (
            F.sum(F.when(F.col("rk") <= 10, F.col("freq")).otherwise(0)).cast(
                "double"
            )
            / F.sum("freq")
        ).alias("top10_coverage"),
    )


@query(
    "q158_quality_threshold_sweep",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
        CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        0.45 * (CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE)
                 / len(list_filter(string_split(text, ' '), x -> x <> '')))
          + 0.35 * LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
          + 0.2 * (CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) >= 10
                   THEN 1.0 ELSE 0.0 END) AS quality
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
    ), grid AS (
      SELECT CAST(unnest(generate_series(0, 9)) AS DOUBLE) / 10.0 AS threshold
    )
    SELECT threshold,
           CAST(SUM(CASE WHEN quality >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
           CAST(SUM(CASE WHEN quality >= threshold THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
           CAST(SUM(CASE WHEN quality >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS doc_keep_rate,
           CAST(SUM(CASE WHEN quality >= threshold THEN n_tokens ELSE 0 END) AS DOUBLE)
             / SUM(n_tokens) AS token_keep_rate
    FROM scored CROSS JOIN grid
    GROUP BY threshold
    """,
)
def q158_quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate tuning curve (C19/pipeline extension): for a grid of
    cut thresholds, how many documents and tokens survive q51's quality
    score — the yield-vs-strictness trade-off a pipeline owner reads to
    SET the gate before paying for a filtered materialization (the same
    decision-support role as q148's dedup-savings report, for the
    quality axis).

    Exactness: the score is q51's expression evaluated in the identical
    operation order on both engines (q51 is hash-exact), so ``quality >=
    threshold`` decisions agree bit-for-bit; grid values n/10 and all
    keep-rates are integer-derived — no rounding anywhere.

    Scale: ONE corpus scan crossed with a 10-row broadcast grid into a
    conditional-sum aggregate (map-side combined ⇒ the exchange carries
    10 partial rows per task, never the corpus). The sweep costs the
    same as computing the score once.
    """
    from pyspark_streaming_base_spark.queries.text import q51_quality_score

    scored = q51_quality_score(spark, sf_dir).select("n_tokens", "quality")
    grid = spark.range(10).select(
        (F.col("id").cast("double") / 10.0).alias("threshold")
    )
    kept = F.when(F.col("quality") >= F.col("threshold"), 1).otherwise(0)
    kept_toks = F.when(
        F.col("quality") >= F.col("threshold"), F.col("n_tokens")
    ).otherwise(0)
    return (
        scored.crossJoin(F.broadcast(grid))
        .groupBy("threshold")
        .agg(
            F.sum(kept).cast("bigint").alias("docs_kept"),
            F.sum(kept_toks).cast("bigint").alias("tokens_kept"),
            (F.sum(kept).cast("double") / F.count(F.lit(1))).alias(
                "doc_keep_rate"
            ),
            (F.sum(kept_toks).cast("double") / F.sum("n_tokens")).alias(
                "token_keep_rate"
            ),
        )
    )


@query(
    "q159_source_overlap",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT source, sh FROM (
        SELECT source,
               unnest(CASE WHEN len(toks) >= 3
                    THEN list_distinct([array_to_string(list_slice(toks, i, i + 2), ' ')
                                        for i in generate_series(1, len(toks) - 2)])
                    ELSE [array_to_string(toks, ' ')] END) AS sh
        FROM (SELECT source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents) WHERE len(toks) > 0
      )
    ), totals AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY source
    ), common AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_common,
           ta.n_sh AS n_a, tb.n_sh AS n_b,
           CAST(n_common AS DOUBLE) / (ta.n_sh + tb.n_sh - n_common) AS jaccard,
           CAST(n_common AS DOUBLE) / ta.n_sh AS containment_a,
           CAST(n_common AS DOUBLE) / tb.n_sh AS containment_b
    FROM common
    JOIN totals ta ON ta.source = source_a
    JOIN totals tb ON tb.source = source_b
    """,
)
def q159_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix over word 3-shingles (C19/dedup
    extension): for every source pair, the distinct shingles they share,
    Jaccard, and both containments. This is the mixture-design /
    cross-source-leakage report: which corpus components duplicate each
    other (double-counted mass under a mixing weight), and whether one
    source is essentially a subset of another (containment ≈ 1 — drop it
    rather than re-weight it).

    Exactness: distinct-shingle counts and integer ratios only.

    Scale: the corpus folds to DISTINCT (source, shingle) ONCE (the only
    corpus-sized exchange); the pair join keys on the shingle with
    fan-out ≤ #sources per shingle (bounded by construction, sources
    being a catalog-sized set), and everything after is
    vocabulary-sized. Never doc×doc.
    """
    sh = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(_shingles(F.col("text"))).alias("sh"))
        .distinct()
    )
    totals = sh.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    ta = totals.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    tb = totals.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
            (F.col("n_common").cast("double") / F.col("n_a")).alias(
                "containment_a"
            ),
            (F.col("n_common").cast("double") / F.col("n_b")).alias(
                "containment_b"
            ),
        )
    )


@query(
    "q167_source_concentration",
    oracle="""
    WITH src AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
                  AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    r AS (
      SELECT toks,
             ROW_NUMBER() OVER (ORDER BY toks, source) AS rk
      FROM src
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(2 * SUM(rk * toks) - (COUNT(*) + 1) * SUM(toks) AS DOUBLE)
             / (COUNT(*) * SUM(toks)) AS gini,
           CAST(SUM(toks * toks) AS DOUBLE)
             / (CAST(SUM(toks) AS DOUBLE) * CAST(SUM(toks) AS DOUBLE)) AS hhi
    FROM r
    """,
)
def q167_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration report (C19/mixture extension): how unequal
    is token mass across sources? — the Gini coefficient (Lorenz-order
    form: (2·Σ rank·x − (n+1)·Σx)/(n·Σx), ranks ascending with a
    (tokens, source) tie-break) and the Herfindahl–Hirschman index
    (Σ shares²). Both are the standard inputs to a mixture decision: a
    high-Gini corpus is dominated by a few sources and per-source caps
    (q128) / temperature weights (q126) actually matter; near-uniform
    means they are no-ops. Gini 1912 / Lorenz 1905 / HHI — public.

    Exactness: all-integer numerators (rank·tokens products ≤ n·Σx fit
    int64 comfortably at catalog-sized source counts) and two
    deterministic divisions — hash-exact, no rounding.

    Scale: one corpus scan folds to the SOURCE domain (catalog-sized by
    construction — the q159 argument); the rank window runs over that
    bounded table.
    """
    src = (
        t(spark, sf_dir, "documents")
        .select("source", F.size(_tokens(F.col("text"))).cast("bigint").alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("toks"))
    )
    from pyspark.sql import Window as W

    r = src.select(
        "toks",
        F.row_number().over(W.orderBy("toks", "source")).alias("rk"),
    )
    n = F.count(F.lit(1))
    tot = F.sum("toks")
    return r.agg(
        n.cast("bigint").alias("n_sources"),
        tot.cast("bigint").alias("total_tokens"),
        (
            (F.lit(2) * F.sum(F.col("rk") * F.col("toks")) - (n + 1) * tot)
            .cast("double")
            / (n * tot).cast("double")
        ).alias("gini"),
        (
            F.sum(F.col("toks") * F.col("toks")).cast("double")
            / (tot.cast("double") * tot.cast("double"))
        ).alias("hhi"),
    )


@query(
    "q170_char_stats",
    oracle="""
    WITH ch AS (
      SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
      FROM documents
      WHERE len(text) > 0
    ),
    cnt AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM ch GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS distinct_chars,
           CAST(MAX(c) AS BIGINT) AS modal_cnt,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS modal_frac,
           CAST(SUM(c * c) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)) AS char_hhi
    FROM cnt GROUP BY doc_id
    """,
)
def q170_char_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level quality stats per document (C19 extension) — the
    Gopher/Dolma-style gibberish and encoding-junk signals that fire
    BELOW the token level, where q51's word-level gate is blind: a doc
    of one repeated character, base64/hex blobs, or collapsed-alphabet
    OCR junk all read as "words" upstream but have degenerate character
    distributions. Three exact signals per doc: distinct-character
    count, modal-character fraction (Dolma's most-common-character
    rule), and the character Simpson/HHI concentration Σ(c/n)² — the
    transcendental-free twin of character entropy (same ordering, no
    log, so it hash-matches cross-engine where an entropy would hit the
    libm-ULP wall that made q134 rows-only).

    Exactness: every metric is integer counts or a SINGLE division of
    exact integers — bit-identical IEEE on both engines, no rounding
    grid needed. Σc² ≤ n² keeps int64 exact to ~3·10⁹ chars per doc.

    Scale: the character explode is corpus-sized, but the FIRST
    aggregate is map-side combined on (doc_id, char) — the shuffle
    carries at most |alphabet| rows per doc, not characters; the second
    fold is per-doc. Nothing else moves.
    """
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    cnt = (
        d.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_chars"),
        F.max("c").cast("bigint").alias("modal_cnt"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias("modal_frac"),
        (
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c").cast("double") * F.sum("c").cast("double"))
        ).alias("char_hhi"),
    )


@query(
    "q175_line_repetition",
    oracle="""
    WITH l AS (
      SELECT doc_id, TRIM(x) AS line
      FROM documents, UNNEST(string_split(text, chr(10))) AS t(x)
      WHERE TRIM(x) <> ''
    ),
    p AS (
      SELECT doc_id, line, CAST(COUNT(*) AS BIGINT) AS c
      FROM l GROUP BY doc_id, line
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_lines,
           CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS dup_line_frac,
           CAST(MAX(c) AS BIGINT) AS top_line_cnt,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_line_share,
           CAST(SUM(CASE WHEN c > 1 THEN c * len(line) ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c * len(line)) AS DOUBLE) AS dup_line_char_frac
    FROM p GROUP BY doc_id
    """,
)
def q175_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level repetition stats per document (C19 extension) — the
    Gopher/Dolma duplicate-line and top-line-share boilerplate rules
    (Rae et al. 2021 §A1.1; Dolma's paragraph dedup), the standard
    nav-bar/footer detector for web corpora. Sits between q47's
    token-bigram tier and whole-doc dedup: a page whose text is 40%
    repeated "cookie notice" lines passes both, and this is the signal
    that catches it. Per doc (non-blank trimmed lines): line counts,
    duplicate-line fraction (total−distinct)/total, modal-line share,
    and the character-weighted duplicate-line fraction (Gopher's actual
    rule weights by characters, so one huge repeated line can't hide
    behind many tiny unique ones).

    Exactness: integer counts and single divisions of exact integers —
    bit-identical IEEE cross-engine, no rounding grid needed.

    Fixture note: the synthetic documents fixture is single-line (no
    newlines), so on it every doc reports n_lines = n_distinct = 1 and
    zero duplicate fractions — the oracle hash still pins the full
    segmentation+aggregation plumbing, and the OPERATOR logic is pinned
    on crafted multi-line docs against an independent python mirror in
    ``tests/test_properties.py`` (the q41/q42 recall-pin convention:
    driver checks structure, pytest checks the interesting values).

    Scale: pure per-row expression tree — the line multiset never
    leaves its scan task, zero shuffles, no UDF. The per-distinct-line
    count is O(distinct·lines) per doc in whole-stage codegen; web docs
    have hundreds of lines, so the quadratic term is bounded and local
    (the same budget as q47's array_distinct).
    """
    return line_repetition_stats(t(spark, sf_dir, "documents"))


def line_repetition_stats(docs: DataFrame) -> DataFrame:
    """q175's operator body over any (doc_id, text) frame — factored out
    so the synthetic multi-line mirror test (test_properties.py) drives
    the SAME expressions the registered query runs."""
    lines = F.filter(
        F.transform(F.split(F.col("text"), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    dst = F.array_distinct(lines)
    d = docs.select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(dst).cast("bigint").alias("n_distinct_lines"),
        F.array_max(
            F.transform(dst, lambda l: F.size(F.filter(lines, lambda x: x == l)))
        )
        .cast("bigint")
        .alias("top_line_cnt"),
        F.aggregate(
            F.transform(
                dst,
                lambda l: F.when(
                    F.size(F.filter(lines, lambda x: x == l)) > 1,
                    F.size(F.filter(lines, lambda x: x == l)) * F.length(l),
                ).otherwise(F.lit(0)),
            ),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("dup_line_chars"),
        F.aggregate(
            F.transform(lines, lambda l: F.length(l)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_line_chars"),
    )
    return d.filter(F.col("n_lines") > 0).select(
        "doc_id",
        "n_lines",
        "n_distinct_lines",
        (
            (F.col("n_lines") - F.col("n_distinct_lines")).cast("double")
            / F.col("n_lines").cast("double")
        ).alias("dup_line_frac"),
        "top_line_cnt",
        (
            F.col("top_line_cnt").cast("double") / F.col("n_lines").cast("double")
        ).alias("top_line_share"),
        (
            F.col("dup_line_chars").cast("double")
            / F.col("total_line_chars").cast("double")
        ).alias("dup_line_char_frac"),
    )


@query(
    "q176_topgram_share",
    oracle="""
    WITH toks AS (
      SELECT doc_id, CAST(len(text) AS BIGINT) AS n_chars,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ),
    g AS (
      SELECT doc_id, n_chars, tk[i] || ' ' || tk[i + 1] AS ng
      FROM toks, UNNEST(range(1, len(tk))) AS t(i)
    ),
    p AS (
      SELECT doc_id, n_chars, ng, CAST(COUNT(*) AS BIGINT) AS c
      FROM g GROUP BY doc_id, n_chars, ng
    ),
    a AS (
      SELECT doc_id, n_chars, ng, c,
             SUM(c) OVER (PARTITION BY doc_id) AS n_bigrams,
             SUM(CASE WHEN c > 1 THEN c * len(ng) ELSE 0 END)
               OVER (PARTITION BY doc_id) AS dup_chars,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY c DESC, ng DESC
             ) AS rn
      FROM p
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           ng AS top_bigram,
           c AS top_cnt,
           CAST(c * len(ng) AS DOUBLE) / CAST(n_chars AS DOUBLE)
             AS top_char_frac,
           CAST(dup_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
             AS dup_char_frac
    FROM a WHERE rn = 1
    """,
)
def q176_topgram_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top/duplicate n-gram CHARACTER share per document (C19
    extension) — Gopher repetition rules 8–13 (Rae et al. 2021 §A1.1):
    the fraction of a doc's characters covered by its most frequent
    word bigram, and by ALL bigrams occurring more than once. The
    character weighting is the rules' point (and what q47's count-ratio
    misses): "buy now buy now buy now" boilerplate concentrates
    characters, not just counts. Ties on the top bigram break on the
    bigram string itself (largest under binary collation — identical
    in Spark and DuckDB for these ASCII tokens), so the reported
    top_bigram is deterministic.

    Exactness: integer counts, integer char lengths, single divisions —
    bit-identical IEEE cross-engine.

    Scale: the bigram explode is corpus-sized but the first aggregate
    is map-side combined on (doc_id, ng) — the exchange carries at most
    distinct-bigrams rows per doc (the q170 absorption pin); the
    argmax is a struct MAX inside the same per-doc fold, not a window
    over the corpus.
    """
    from pyspark_streaming_base_spark.functions.textops import word_bigrams

    d0 = t(spark, sf_dir, "documents")
    g = d0.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars"),
        F.explode(word_bigrams(F.col("text"))).alias("ng"),
    )
    cnt = g.groupBy("doc_id", "n_chars", "ng").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = cnt.groupBy("doc_id", "n_chars").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.max(F.struct(F.col("c"), F.col("ng"))).alias("_top"),
        F.sum(
            F.when(F.col("c") > 1, F.col("c") * F.length("ng")).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("dup_chars"),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.col("_top.ng").alias("top_bigram"),
        F.col("_top.c").cast("bigint").alias("top_cnt"),
        (
            (F.col("_top.c") * F.length("_top.ng")).cast("double")
            / F.col("n_chars").cast("double")
        ).alias("top_char_frac"),
        (
            F.col("dup_chars").cast("double") / F.col("n_chars").cast("double")
        ).alias("dup_char_frac"),
    )


@query(
    "q177_source_novelty",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT source, sh FROM (
        SELECT source,
               unnest(CASE WHEN len(toks) >= 3
                    THEN list_distinct([array_to_string(list_slice(toks, i, i + 2), ' ')
                                        for i in generate_series(1, len(toks) - 2)])
                    ELSE [array_to_string(toks, ' ')] END) AS sh
        FROM (SELECT source,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents) WHERE len(toks) > 0
      )
    ), totals AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles
      FROM sh GROUP BY source
    ), firsts AS (
      SELECT sh, MIN(source) AS first_source FROM sh GROUP BY sh
    ), novel AS (
      SELECT first_source AS source, CAST(COUNT(*) AS BIGINT) AS n_novel
      FROM firsts GROUP BY first_source
    )
    SELECT t.source,
           t.n_shingles,
           CAST(COALESCE(n.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(COALESCE(n.n_novel, 0) AS DOUBLE)
             / CAST(t.n_shingles AS DOUBLE) AS novelty_ratio,
           CAST(SUM(COALESCE(n.n_novel, 0)) OVER (
                  ORDER BY t.source
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) AS cum_shingles
    FROM totals t LEFT JOIN novel n ON n.source = t.source
    """,
)
def q177_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source shingle NOVELTY under the catalog ingestion order
    (C19/dedup extension) — the marginal-contribution curve corpus
    curation decides feeds with: for each source (ordered by source
    name, the deterministic catalog order), how many distinct word
    3-shingles it contains, how many are NOVEL (absent from every
    earlier source), the novelty ratio, and the cumulative distinct
    coverage after ingesting it. A feed whose novelty ratio is near
    zero duplicates what earlier feeds already supplied — q159 says
    *which pair* overlaps; this says *what adding the feed buys*, in
    ingestion order (the diminishing-returns curve of Hernandez et al.
    2022's data-scaling analyses).

    Exactness: distinct-shingle counts (integers) + a single division;
    attribution via MIN(source) is exact string comparison.

    Scale: the corpus folds to DISTINCT (source, shingle) once (the
    only corpus-sized exchange, shingle-keyed); firsts/novel are
    vocabulary-sized aggregates on the same key; the cumulative window
    runs over #sources rows (catalog-sized — a bounded frame, not a
    corpus window), post-aggregation.
    """
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents").filter(
        F.size(_tokens(F.col("text"))) > 0
    )
    sh = (
        docs.select("source", F.explode(_shingles(F.col("text"))).alias("sh"))
        .distinct()
    )
    totals = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    novel = (
        sh.groupBy("sh")
        .agg(F.min("source").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
    )
    joined = totals.join(novel, "source", "left").select(
        "source",
        "n_shingles",
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
    )
    w = W.orderBy("source").rowsBetween(W.unboundedPreceding, W.currentRow)
    return joined.select(
        "source",
        "n_shingles",
        "n_novel",
        (
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")
        ).alias("novelty_ratio"),
        F.sum("n_novel").over(w).cast("bigint").alias("cum_shingles"),
    )


@query(
    "q178_template_prefix_clusters",
    oracle="""
    WITH p AS (
      SELECT source, array_to_string(list_slice(tk, 1, 8), ' ') AS prefix
      FROM (SELECT source,
                   list_filter(string_split(text, ' '), x -> x <> '') AS tk
            FROM documents)
      WHERE len(tk) > 0
    ), sp AS (
      SELECT source, prefix, CAST(COUNT(*) AS BIGINT) AS c
      FROM p GROUP BY source, prefix
    ), g AS (
      SELECT prefix, CAST(SUM(c) AS BIGINT) AS tot,
             CAST(COUNT(*) AS BIGINT) AS nsrc
      FROM sp GROUP BY prefix
    )
    SELECT sp.source,
           CAST(SUM(sp.c) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN g.tot > 1 THEN sp.c ELSE 0 END) AS BIGINT)
             AS n_templated,
           CAST(SUM(CASE WHEN g.tot > 1 THEN sp.c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(sp.c) AS DOUBLE) AS templated_share,
           CAST(SUM(CASE WHEN g.nsrc > 1 THEN sp.c ELSE 0 END) AS BIGINT)
             AS n_cross_source,
           CAST(SUM(CASE WHEN g.tot > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_template_prefixes,
           CAST(MAX(g.tot) AS BIGINT) AS top_template_size
    FROM sp JOIN g USING (prefix)
    GROUP BY sp.source
    """,
)
def q178_template_prefix_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection by duplicated 8-token document
    PREFIX, reported per source (C17/C19 extension) — the
    machine-generated-page detector: CMS templates, SEO farms and
    mirrored listings share their opening tokens even when tails differ
    enough to dodge whole-doc dedup (q22) and stay under near-dup
    thresholds (q40/q41). Per source: docs, docs whose prefix is shared
    by ≥2 docs ANYWHERE in the corpus (templated), that share, docs
    whose prefix crosses ≥2 sources (the feed-mirroring signal), the
    number of distinct template prefixes present, and the largest
    template cluster the source participates in.

    Exactness: integer counts + one single division; the prefix key is
    the literal first-8-token string (both engines clip short docs the
    same way), no hashing to disagree on.

    Scale: one scan to (source, prefix) — the prefix is a bounded ~8
    tokens per doc, a constant-width key off the scan; two aggregates
    and a prefix-keyed equi-join whose fan-out is #sources per prefix
    (bounded by the catalog). Never doc×doc: docs sharing a template
    meet only inside hash aggregates, so a million-doc template cluster
    costs the same exchange volume as a unique doc.
    """
    p = (
        t(spark, sf_dir, "documents")
        .select(
            "source",
            F.concat_ws(" ", F.slice(_tokens(F.col("text")), 1, 8)).alias(
                "prefix"
            ),
            F.size(_tokens(F.col("text"))).alias("_nt"),
        )
        .filter(F.col("_nt") > 0)
    )
    sp = p.groupBy("source", "prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    g = sp.groupBy("prefix").agg(
        F.sum("c").cast("bigint").alias("tot"),
        F.count(F.lit(1)).cast("bigint").alias("nsrc"),
    )
    return (
        sp.join(g, "prefix")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("tot") > 1, F.col("c")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_templated"),
            (
                F.sum(
                    F.when(F.col("tot") > 1, F.col("c")).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("c").cast("double")
            ).alias("templated_share"),
            F.sum(F.when(F.col("nsrc") > 1, F.col("c")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_cross_source"),
            F.sum(F.when(F.col("tot") > 1, 1).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_template_prefixes"),
            F.max("tot").cast("bigint").alias("top_template_size"),
        )
    )


#: q180 waterfall thresholds — ONE definition, interpolated into both the
#: Spark expressions and the oracle SQL. Calibrated on the fixture so every
#: rule fires on a real minority (nothing vacuous, nothing absorbing):
#: token count ∈ [10, 99] (median 56), avg word len ∈ [3.7, 5.3] (median
#: 4.5), 5-stopword frac median ≈ 0.05, dup-bigram frac p75 ≈ 0.09,
#: top-bigram char cover p90 ≈ 0.14.
_WF_MIN_TOKENS = 25
_WF_WLEN_LO = 4.2
_WF_WLEN_HI = 5.0
_WF_STOP_MIN = 0.03
_WF_DUP_MAX = 0.12
_WF_TOP_MAX = 0.15

_WF_RULES = (
    "too_short",
    "word_length",
    "low_stopword",
    "bigram_repetition",
    "top_bigram_share",
)


@query(
    "q180_filter_waterfall",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS nt,
             CAST(length(array_to_string(tk, '')) AS DOUBLE) / len(tk)
               AS avg_wlen,
             CAST(len(list_filter(tk, x -> x IN
               ({", ".join("'" + w + "'" for w in _QUALITY_STOPWORDS)})))
               AS DOUBLE) / len(tk) AS stop_frac,
             CAST(len(text) AS BIGINT) AS n_chars
      FROM d WHERE len(tk) > 0
    ), g AS (
      SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS ng
      FROM d, UNNEST(range(1, len(tk))) AS t(i)
    ), p AS (
      SELECT doc_id, ng, CAST(COUNT(*) AS BIGINT) AS c
      FROM g GROUP BY doc_id, ng
    ), r AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dupbg,
             CAST(SUM(c) AS BIGINT) AS nbg,
             CAST(MAX(c * len(ng)) AS BIGINT) AS top_cover
      FROM p GROUP BY doc_id
    ), f AS (
      SELECT m.nt,
             (m.nt < {_WF_MIN_TOKENS}) AS f1,
             (m.avg_wlen < {_WF_WLEN_LO} OR m.avg_wlen > {_WF_WLEN_HI}) AS f2,
             (m.stop_frac < {_WF_STOP_MIN}) AS f3,
             (COALESCE(CAST(r.dupbg AS DOUBLE) / NULLIF(r.nbg, 0), 0)
               > {_WF_DUP_MAX}) AS f4,
             (COALESCE(CAST(r.top_cover AS DOUBLE) / m.n_chars, 0)
               > {_WF_TOP_MAX}) AS f5
      FROM m LEFT JOIN r ON r.doc_id = m.doc_id
    ), a AS (
      SELECT
        CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS nf1,
        CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS nf2,
        CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS nf3,
        CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS nf4,
        CAST(SUM(CASE WHEN f5 THEN 1 ELSE 0 END) AS BIGINT) AS nf5,
        CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS ff1,
        CAST(SUM(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS ff2,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END)
          AS BIGINT) AS ff3,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND f4 THEN 1
          ELSE 0 END) AS BIGINT) AS ff4,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4 AND f5
          THEN 1 ELSE 0 END) AS BIGINT) AS ff5,
        CAST(SUM(CASE WHEN NOT f1 THEN 1 ELSE 0 END) AS BIGINT) AS da1,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 THEN 1 ELSE 0 END) AS BIGINT)
          AS da2,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 THEN 1 ELSE 0 END)
          AS BIGINT) AS da3,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4 THEN 1
          ELSE 0 END) AS BIGINT) AS da4,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4
          AND NOT f5 THEN 1 ELSE 0 END) AS BIGINT) AS da5,
        CAST(SUM(CASE WHEN NOT f1 THEN nt ELSE 0 END) AS BIGINT) AS ta1,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 THEN nt ELSE 0 END) AS BIGINT)
          AS ta2,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 THEN nt ELSE 0 END)
          AS BIGINT) AS ta3,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4 THEN nt
          ELSE 0 END) AS BIGINT) AS ta4,
        CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND NOT f4
          AND NOT f5 THEN nt ELSE 0 END) AS BIGINT) AS ta5
      FROM f
    )
    SELECT CAST(1 AS BIGINT) AS rule_idx, 'too_short' AS rule,
           nf1 AS n_fail, ff1 AS n_first_fail, da1 AS docs_after,
           ta1 AS tokens_after FROM a
    UNION ALL SELECT CAST(2 AS BIGINT), 'word_length', nf2, ff2, da2, ta2
      FROM a
    UNION ALL SELECT CAST(3 AS BIGINT), 'low_stopword', nf3, ff3, da3, ta3
      FROM a
    UNION ALL SELECT CAST(4 AS BIGINT), 'bigram_repetition', nf4, ff4, da4,
      ta4 FROM a
    UNION ALL SELECT CAST(5 AS BIGINT), 'top_bigram_share', nf5, ff5, da5,
      ta5 FROM a
    """,
)
def q180_filter_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter WATERFALL report (C19 extension) — the pipeline-
    design artifact behind Gopher/Dolma/FineWeb rule stacks: five
    document rules applied in a fixed order (too short → degenerate
    word length → low stopword fraction → repeated-bigram mass →
    top-bigram character cover), and per rule: how many docs fail it at
    all, how many fail FIRST there (its marginal kill, the number that
    says whether the rule earns its place), and the docs/tokens
    SURVIVING after it — the attrition curve that prices every rule in
    training tokens before anyone deletes anything. Each rule reuses
    this module's exact per-doc signal (q50 token count, q48 stopword
    fraction, q47's duplicate-bigram tier, q176's character cover);
    thresholds are module constants interpolated into BOTH engines.

    Exactness: every output is an integer count; rule comparisons are
    single divisions of exact integers against literal thresholds —
    bit-identical IEEE on both engines, so the booleans agree
    bit-for-bit (the q158 threshold-sweep argument). Docs with <2
    tokens have no bigrams: rules 4/5 read as not-failing via the
    same COALESCE(0) on both sides.

    Scale: all five signals come from ONE corpus scan as per-row
    expression trees (the q175 budget: O(distinct·n) bigram counting
    inside codegen, n ≤ doc length); the waterfall folds map-side into
    a SINGLE 20-number row — the exchange carries one row per task —
    and the 5-row report is an explode of that row. Nothing doc-sized
    ever shuffles.
    """
    # r13 (guide §2.5 input skew): single-split fixture scan — both the
    # scalar-metrics branch and the bigram explode otherwise run their
    # per-doc expression work in ONE task; no-op at corpus scale.
    return filter_waterfall(spread(t(spark, sf_dir, "documents"), "doc_id"))


def filter_waterfall(docs: DataFrame) -> DataFrame:
    """q180's operator body over any (doc_id, text) frame — factored out
    so the crafted-document mirror test (test_properties.py) drives the
    SAME expressions the registered query runs (the q175 convention).

    Bigram stats use q176's explode → map-side-combined hash aggregate,
    NOT a per-row higher-order filter over the distinct list: the
    expression-tree form is O(distinct·n) per doc in *interpreted* HOF
    evaluation with three passes (measured 37.7 s at sf0.1 vs ~2 s for
    this shape; exchange carries ≤ distinct-bigrams rows per doc — the
    q170/q176 absorption argument). The scalar token metrics are a
    SEPARATE branch joined back on doc_id: riding them through the
    explode as grouping keys lets CollapseProject push the interpreted
    token HOFs past the generate, re-evaluating them once per BIGRAM
    row instead of once per doc (measured 8.3 s vs 2 s at sf0.1)."""
    from pyspark_streaming_base_spark.functions.textops import word_bigrams

    toks = _tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in _QUALITY_STOPWORDS])

    m = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("nt"),
        (
            F.length(F.concat_ws("", toks)).cast("double")
            / F.size(toks).cast("double")
        ).alias("avg_wlen"),
        (
            F.size(
                F.filter(toks, lambda x: F.array_contains(stop_arr, x))
            ).cast("double")
            / F.size(toks).cast("double")
        ).alias("stop_frac"),
        F.length("text").cast("bigint").alias("n_chars"),
    ).filter(F.col("nt") > 0)
    g = docs.select(
        "doc_id", F.explode(word_bigrams(F.col("text"))).alias("ng")
    )
    cnt = g.groupBy("doc_id", "ng").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    r = cnt.groupBy("doc_id").agg(
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("dupbg"),
        F.sum("c").cast("bigint").alias("nbg"),
        F.max(F.col("c") * F.length("ng")).cast("bigint").alias("top_cover"),
    )
    base = m.join(r, "doc_id", "left").select(
        "doc_id",
        "nt",
        "avg_wlen",
        "stop_frac",
        "n_chars",
        F.coalesce(F.col("dupbg"), F.lit(0)).cast("bigint").alias("dupbg"),
        F.coalesce(F.col("nbg"), F.lit(0)).cast("bigint").alias("nbg"),
        F.coalesce(F.col("top_cover"), F.lit(0)).cast("bigint").alias(
            "top_cover"
        ),
    )
    f1 = F.col("nt") < _WF_MIN_TOKENS
    f2 = (F.col("avg_wlen") < _WF_WLEN_LO) | (F.col("avg_wlen") > _WF_WLEN_HI)
    f3 = F.col("stop_frac") < _WF_STOP_MIN
    f4 = (
        F.coalesce(
            F.col("dupbg").cast("double")
            / F.when(F.col("nbg") > 0, F.col("nbg")).otherwise(F.lit(None)),
            F.lit(0.0),
        )
        > _WF_DUP_MAX
    )
    f5 = (
        F.coalesce(
            F.col("top_cover").cast("double") / F.col("n_chars"), F.lit(0.0)
        )
        > _WF_TOP_MAX
    )
    flags = [f1, f2, f3, f4, f5]

    def b2i(c):
        return F.when(c, 1).otherwise(0)

    def chain(i):  # passes rules 1..i
        keep = ~flags[0]
        for j in range(1, i):
            keep = keep & ~flags[j]
        return keep

    aggs = []
    for i, _rule in enumerate(_WF_RULES, start=1):
        ff = chain(i - 1) & flags[i - 1] if i > 1 else flags[0]
        aggs += [
            F.sum(b2i(flags[i - 1])).cast("bigint").alias(f"nf{i}"),
            F.sum(b2i(ff)).cast("bigint").alias(f"ff{i}"),
            F.sum(b2i(chain(i))).cast("bigint").alias(f"da{i}"),
            F.sum(F.when(chain(i), F.col("nt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias(f"ta{i}"),
        ]
    a = base.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("bigint").alias("rule_idx"),
                F.lit(rule).alias("rule"),
                F.col(f"nf{i}").alias("n_fail"),
                F.col(f"ff{i}").alias("n_first_fail"),
                F.col(f"da{i}").alias("docs_after"),
                F.col(f"ta{i}").alias("tokens_after"),
            )
            for i, rule in enumerate(_WF_RULES, start=1)
        ]
    )
    return a.select(F.explode(rows).alias("r")).select("r.*")


@query(
    "q181_cross_lingual_leakage",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT lang, sh FROM (
        SELECT lang,
               unnest(CASE WHEN len(toks) >= 3
                    THEN list_distinct([array_to_string(list_slice(toks, i, i + 2), ' ')
                                        for i in generate_series(1, len(toks) - 2)])
                    ELSE [array_to_string(toks, ' ')] END) AS sh
        FROM (SELECT lang,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents) WHERE len(toks) > 0
      )
    ), totals AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY lang
    ), common AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.lang < b.lang
      GROUP BY a.lang, b.lang
    )
    SELECT lang_a, lang_b, n_common,
           ta.n_sh AS n_a, tb.n_sh AS n_b,
           CAST(n_common AS DOUBLE) / (ta.n_sh + tb.n_sh - n_common)
             AS jaccard,
           CAST(n_common AS DOUBLE) / ta.n_sh AS containment_a,
           CAST(n_common AS DOUBLE) / tb.n_sh AS containment_b
    FROM common
    JOIN totals ta ON ta.lang = lang_a
    JOIN totals tb ON tb.lang = lang_b
    """,
)
def q181_cross_lingual_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-LANGUAGE shingle-overlap matrix (C17/C19 extension) — the
    audit for the lang-blocking assumption the dedup stack builds on:
    q41/q42/q156's candidate generation and the containment index's
    size-slice layout all block on ``lang``, which silently defines
    cross-language duplicate mass (machine-translated spam, code/
    formula-heavy pages, copy-pasted boilerplate crossing locales) as
    out of scope. This query MEASURES what that assumption discards:
    for every language pair, shared distinct word 3-shingles, Jaccard,
    and both containments — high values mean lang-blocked dedup is
    leaving real duplicate mass on the table and the blocking key needs
    revisiting (q159's source matrix, pivoted to the blocking
    dimension the operators actually use).

    Exactness: distinct-shingle counts and single divisions only.

    Scale: identical to q159 — one fold to DISTINCT (lang, shingle)
    (the only corpus-sized exchange), shingle-keyed pair join with
    fan-out ≤ #langs per shingle, everything downstream
    vocabulary-sized. Never doc×doc.
    """
    sh = (
        t(spark, sf_dir, "documents")
        .filter(F.size(_tokens(F.col("text"))) > 0)
        .select("lang", F.explode(_shingles(F.col("text"))).alias("sh"))
        .distinct()
    )
    totals = sh.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sh")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.lang") < F.col("b.lang")),
        )
        .groupBy(F.col("a.lang").alias("lang_a"), F.col("b.lang").alias("lang_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    ta = totals.select(F.col("lang").alias("lang_a"), F.col("n_sh").alias("n_a"))
    tb = totals.select(F.col("lang").alias("lang_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(F.broadcast(ta), "lang_a")
        .join(F.broadcast(tb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
            (F.col("n_common").cast("double") / F.col("n_a")).alias(
                "containment_a"
            ),
            (F.col("n_common").cast("double") / F.col("n_b")).alias(
                "containment_b"
            ),
        )
    )


#: Context-window lengths for the packing-waste report — the common
#: pretraining sequence lengths a data owner prices against.
_PACK_WINDOWS = (512, 2048, 8192)


@query(
    "q189_packing_waste",
    oracle=f"""
    WITH d AS (
      SELECT source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS nt
      FROM documents
    ),
    g AS (SELECT CAST(L AS BIGINT) AS win FROM (VALUES {", ".join(f"({w})" for w in _PACK_WINDOWS)}) v(L))
    SELECT source, win,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM((nt + win - 1) // win) AS BIGINT) AS padded_windows,
           CAST((SUM(nt) + win - 1) // win AS BIGINT) AS concat_windows,
           CAST(SUM((nt + win - 1) // win) * win - SUM(nt) AS BIGINT)
             AS padding_waste_tokens,
           CAST(SUM((nt + win - 1) // win) * win - SUM(nt) AS DOUBLE)
             / CAST(SUM((nt + win - 1) // win) * win AS DOUBLE)
             AS waste_frac
    FROM d CROSS JOIN g
    GROUP BY source, win
    """,
)
def q189_packing_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window PACKING-WASTE report per (source, window length)
    (training-econ extension, r11): the padding bill a pretraining run
    pays for each feed under document-boundary batching — per-doc
    padded windows Σ⌈nt/L⌉ vs the concat-packing floor ⌈Σnt/L⌉ (the
    GPT-style pack-then-split lower bound), and the waste fraction of
    padded token slots. Short-doc-heavy sources waste most at large L;
    this is the table that decides between padding, concat-packing, and
    best-fit packing per feed — the q86 chunking op's economic
    complement (q86 SPLITS long docs; this prices the SHORT ones).

    Exactness: pure integer arithmetic (ceil via (n + L − 1) div L on
    both engines) + one closing division per row.

    Scale: one documents scan → per-doc token COUNT only (no token
    payloads leave the scan) → broadcast 3-row window grid →
    (source, L)-keyed hash aggregate, partial-combined map-side. The
    grid join multiplies the aggregate INPUT rows 3×, not the scan:
    rows entering the exchange are (source, L) partials.
    """
    d = t(spark, sf_dir, "documents").select(
        "source", F.size(_tokens(F.col("text"))).cast("bigint").alias("nt")
    )
    grid = spark.createDataFrame(
        [(int(w),) for w in _PACK_WINDOWS], "win bigint"
    )
    j = d.crossJoin(F.broadcast(grid))
    # integer `div`, not floor(double /): exact at ANY token volume
    # (double division is only exact below 2^53)
    pw = F.expr("(nt + win - 1) div win").cast("bigint")
    agg = j.groupBy("source", "win").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("total_tokens"),
        F.sum(pw).cast("bigint").alias("padded_windows"),
    )
    waste = F.col("padded_windows") * F.col("win") - F.col("total_tokens")
    return agg.select(
        "source",
        "win",
        "n_docs",
        "total_tokens",
        "padded_windows",
        F.expr("(total_tokens + win - 1) div win")
        .cast("bigint")
        .alias("concat_windows"),
        waste.cast("bigint").alias("padding_waste_tokens"),
        (
            waste.cast("double")
            / (F.col("padded_windows") * F.col("win")).cast("double")
        ).alias("waste_frac"),
    )


@query(
    "q192_packing_boundary_audit",
    oracle="""
    WITH base AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS BIGINT) AS nt,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS hk
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
    ),
    cum AS (
      SELECT source, nt,
             CAST(SUM(nt) OVER (PARTITION BY source ORDER BY hk, doc_id
                  ROWS UNBOUNDED PRECEDING) - nt AS BIGINT) AS cum_before
      FROM base
    ),
    grid AS (SELECT unnest([512, 2048, 8192]) AS win)
    SELECT c.source AS source, CAST(g.win AS BIGINT) AS win,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE (c.cum_before + c.nt - 1) // g.win
                                       > c.cum_before // g.win) AS BIGINT)
             AS n_spanning,
           CAST(SUM((c.cum_before + c.nt - 1) // g.win
                    - c.cum_before // g.win) AS BIGINT) AS n_crossings,
           CAST(COUNT(*) FILTER (WHERE (c.cum_before + c.nt - 1) // g.win
                                       > c.cum_before // g.win) AS DOUBLE)
             / COUNT(*) AS spanning_frac
    FROM cum c CROSS JOIN grid g
    GROUP BY c.source, g.win
    """,
)
def q192_packing_boundary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-packing BOUNDARY audit per (source, window length)
    (training-econ extension, r12 — q189's other half: q189 prices the
    PADDING bill of document-boundary batching; this prices the
    SPLITTING bill of GPT-style concat packing): in the md5-shuffled
    per-source concat order (the q163 convention — pipelines shuffle
    before packing, and the hash order is seedless and rerun-stable),
    how many documents straddle a window boundary (their attention is
    truncated or contaminates a neighbor — the docs an attention-mask
    or best-fit packer exists for) and how many boundary crossings
    there are in total (a doc longer than L crosses several). Together
    with q189 this is the padding-vs-packing decision table: q189's
    waste_frac says what padding costs, this says what packing costs.

    Exactness: boundary arithmetic is pure integer `div` on the exact
    token prefix sums ((cum+nt-1) div L vs cum div L — the q189/q163
    rule); the closing spanning_frac is one division of two exact
    int64 counts.

    Scale: the per-source running token offset is the q163 two-pass
    prefix sum PARTITIONED BY SOURCE — local cumsums within 256
    hash-prefix buckets (bucket order == hash order by construction),
    carry = per-source exclusive prefix over the (source, bucket)
    totals table (≤ 256·|sources| rows, broadcast back) — never a
    corpus-length window per source (a hot feed would serialize
    through one task). Token COUNTS only leave the scan; the 3-row
    window grid joins the cum table AFTER the heavy lifting and feeds
    a map-side-combinable (source, win) aggregate.
    """
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(_tokens(F.col("text"))).cast("bigint").alias("nt"),
    ).filter(F.col("nt") > 0)
    hk = F.md5(F.col("doc_id").cast("string")).substr(1, 16)
    base = d.select(
        "source",
        "doc_id",
        "nt",
        hk.alias("hk"),
        # first 2 hex chars of the SAME hash: bucket order == hash order
        F.conv(hk.substr(1, 2), 16, 10).cast("bigint").alias("bucket"),
    )
    w_local = (
        W.partitionBy("source", "bucket")
        .orderBy("hk", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # persist: the carry branch re-derives totals from this same pass —
    # without the pin Spark re-scans AND re-tokenizes the corpus for it
    # (the q163 convention; caught in this query's birth-round plan audit)
    local = base.withColumn("local_cum", F.sum("nt").over(w_local)).persist()
    totals = local.groupBy("source", "bucket").agg(
        F.max("local_cum").alias("bt")
    )
    w_carry = (
        W.partitionBy("source").orderBy("bucket").rowsBetween(
            W.unboundedPreceding, -1
        )
    )
    carry = totals.select(
        "source",
        "bucket",
        F.coalesce(F.sum("bt").over(w_carry), F.lit(0))
        .cast("bigint")
        .alias("carry_in"),
    )
    cum = local.join(F.broadcast(carry), ["source", "bucket"]).select(
        "source",
        "nt",
        (F.col("carry_in") + F.col("local_cum") - F.col("nt"))
        .cast("bigint")
        .alias("cum_before"),
    )
    grid = spark.createDataFrame(
        [(int(w),) for w in _PACK_WINDOWS], "win bigint"
    )
    j = cum.crossJoin(F.broadcast(grid))
    first_w = F.expr("cum_before div win")
    last_w = F.expr("(cum_before + nt - 1) div win")
    spans = last_w > first_w
    return j.groupBy("source", "win").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count(F.when(spans, 1)).cast("bigint").alias("n_spanning"),
        F.sum(last_w - first_w).cast("bigint").alias("n_crossings"),
        (
            F.count(F.when(spans, 1)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("spanning_frac"),
    )


@query(
    "q194_packing_policy",
    # One oracle combining q189's padding CTE and q192's prefix-sum CTE
    # (both already hash-green at three SFs), joined per (source, win);
    # the policy CASE compares PURE INTEGERS (waste*20 <= slots,
    # spanning*20 <= docs — the 5% thresholds cross-multiplied), so the
    # recommendation can never flip on a float tie; the two closing
    # fractions are raw IEEE divisions of identical int64 pairs, the
    # q189/q192 convention.
    oracle="""
    WITH base AS (
      SELECT source, doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS BIGINT) AS nt,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 16) AS hk
      FROM documents
      WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0
    ),
    cum AS (
      SELECT source, nt,
             CAST(SUM(nt) OVER (PARTITION BY source ORDER BY hk, doc_id
                  ROWS UNBOUNDED PRECEDING) - nt AS BIGINT) AS cum_before
      FROM base
    ),
    grid AS (SELECT unnest([512, 2048, 8192]) AS win),
    pad AS (
      SELECT source, CAST(g.win AS BIGINT) AS win,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             CAST(SUM((nt + g.win - 1) // g.win) AS BIGINT) AS padded_windows
      FROM base CROSS JOIN grid g GROUP BY source, g.win
    ),
    sp AS (
      SELECT c.source, CAST(g.win AS BIGINT) AS win,
             CAST(COUNT(*) FILTER (WHERE (c.cum_before + c.nt - 1) // g.win
                                         > c.cum_before // g.win) AS BIGINT)
               AS n_spanning,
             CAST(SUM((c.cum_before + c.nt - 1) // g.win
                      - c.cum_before // g.win) AS BIGINT) AS n_crossings
      FROM cum c CROSS JOIN grid g GROUP BY c.source, g.win
    )
    SELECT p.source AS source, p.win AS win, p.n_docs AS n_docs,
           p.total_tokens AS total_tokens,
           p.padded_windows AS padded_windows,
           (p.total_tokens + p.win - 1) // p.win AS concat_windows,
           p.padded_windows * p.win - p.total_tokens AS padding_waste_tokens,
           CAST(p.padded_windows * p.win - p.total_tokens AS DOUBLE)
             / CAST(p.padded_windows * p.win AS DOUBLE) AS waste_frac,
           s.n_spanning AS n_spanning, s.n_crossings AS n_crossings,
           CAST(s.n_spanning AS DOUBLE) / p.n_docs AS spanning_frac,
           CASE WHEN (p.padded_windows * p.win - p.total_tokens) * 20
                     <= p.padded_windows * p.win THEN 'pad'
                WHEN s.n_spanning * 20 <= p.n_docs THEN 'concat'
                ELSE 'best_fit' END AS policy
    FROM pad p JOIN sp s ON p.source = s.source AND p.win = s.win
    """,
)
def q194_packing_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-vs-packing POLICY table per (source, window length)
    (training-econ extension, r13 — the decision artifact q189's
    docstring promises): q189's padding bill and q192's splitting bill
    side by side off ONE scan, closed with a recommendation. Per feed
    and window: if padding wastes ≤5% of token slots, keep document
    boundaries (``pad`` — cheapest and attention-clean); else if
    naive concat splits ≤5% of documents, pack (``concat`` — compute-
    optimal, small quality bill); else the feed needs a real best-fit
    packer (``best_fit`` — both naive options are expensive). The 5%
    thresholds are compared as cross-multiplied INTEGERS so the policy
    never flips on a float tie (invariant 9's spirit applied to CASE
    branches).

    Semantics note: restricted to nt > 0 docs on BOTH legs (q192's
    domain) — a zero-token doc participates in neither padding nor
    packing, so q189's all-docs n_docs can differ on degenerate rows.

    Scale: one documents scan → counts-only persisted base (CLAUDE.md
    invariant 10) feeding both legs — the padding leg is a broadcast
    3-row grid into a (source, win) map-side-combinable aggregate; the
    splitting leg is the q192 bucketed per-source prefix sum (256
    hash-prefix buckets, carry broadcast back — hot-feed-safe, proven
    in tools/scale_smoke.py::hotsource_smoke); the closing join is
    (source, win)-keyed over catalog-sized aggregates.
    """
    from pyspark.sql import Window as W

    hk = F.md5(F.col("doc_id").cast("string")).substr(1, 16)
    base = (
        t(spark, sf_dir, "documents")
        .select(
            "source",
            "doc_id",
            F.size(_tokens(F.col("text"))).cast("bigint").alias("nt"),
        )
        .filter(F.col("nt") > 0)
        .select(
            "source",
            "doc_id",
            "nt",
            hk.alias("hk"),
            F.conv(hk.substr(1, 2), 16, 10).cast("bigint").alias("bucket"),
        )
    )
    w_local = (
        W.partitionBy("source", "bucket")
        .orderBy("hk", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # ONE persisted counts-only pass-1 feeds all three consumers (the
    # padding aggregate, the cum rows, and the carry totals) — persist
    # AFTER the local window so the bucketed cumsum runs once, the q192
    # convention extended to the pad leg
    local = base.withColumn("local_cum", F.sum("nt").over(w_local)).persist()
    grid = spark.createDataFrame(
        [(int(w),) for w in _PACK_WINDOWS], "win bigint"
    )
    # padding leg (q189's shape over the shared pass-1)
    pad = (
        local.crossJoin(F.broadcast(grid))
        .groupBy("source", "win")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.sum(F.expr("(nt + win - 1) div win"))
            .cast("bigint")
            .alias("padded_windows"),
        )
    )
    # splitting leg (q192's bucketed per-source prefix sum)
    totals = local.groupBy("source", "bucket").agg(
        F.max("local_cum").alias("bt")
    )
    w_carry = (
        W.partitionBy("source").orderBy("bucket").rowsBetween(
            W.unboundedPreceding, -1
        )
    )
    carry = totals.select(
        "source",
        "bucket",
        F.coalesce(F.sum("bt").over(w_carry), F.lit(0))
        .cast("bigint")
        .alias("carry_in"),
    )
    cum = local.join(F.broadcast(carry), ["source", "bucket"]).select(
        "source",
        "nt",
        (F.col("carry_in") + F.col("local_cum") - F.col("nt"))
        .cast("bigint")
        .alias("cum_before"),
    )
    first_w = F.expr("cum_before div win")
    last_w = F.expr("(cum_before + nt - 1) div win")
    sp = (
        cum.crossJoin(F.broadcast(grid))
        .groupBy("source", "win")
        .agg(
            F.count(F.when(last_w > first_w, 1))
            .cast("bigint")
            .alias("n_spanning"),
            F.sum(last_w - first_w).cast("bigint").alias("n_crossings"),
        )
    )
    waste = F.col("padded_windows") * F.col("win") - F.col("total_tokens")
    return pad.join(sp, ["source", "win"]).select(
        "source",
        "win",
        "n_docs",
        "total_tokens",
        "padded_windows",
        F.expr("(total_tokens + win - 1) div win")
        .cast("bigint")
        .alias("concat_windows"),
        waste.cast("bigint").alias("padding_waste_tokens"),
        (
            waste.cast("double")
            / (F.col("padded_windows") * F.col("win")).cast("double")
        ).alias("waste_frac"),
        "n_spanning",
        "n_crossings",
        (
            F.col("n_spanning").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("spanning_frac"),
        F.when(waste * 20 <= F.col("padded_windows") * F.col("win"), "pad")
        .when(F.col("n_spanning") * 20 <= F.col("n_docs"), "concat")
        .otherwise("best_fit")
        .alias("policy"),
    )
