"""Product quantization (PQ) for compressed ANN search.

The published PQ design (Jégou/Douze/Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011): split the D-dim space into M
subspaces, vector-quantize each subspace with its own K-codeword
codebook (k-means), store each vector as M small codes, and answer
queries by Asymmetric Distance Computation (ADC) — the query builds an
M×K table of exact subspace distances to every codeword, and each
corpus vector's approximate distance is the sum of M table lookups.

Why it matters at 100 TB: a 64-dim float corpus is 256 B/vector; PQ at
M=8, K=16 is 8 codes = 8 B/vector (4 bits each before packing) — a 32×
memory compression that turns an out-of-core scan into an in-memory
one, at a measured recall cost (pinned in ``tests/test_pq.py``).

Spark-first shape — every stage is DataFrame ops, no Python in the
corpus path:

* codebook training runs ALL M subspaces in the same distributed Lloyd
  rounds: subvectors carry a ``sub`` key, so assignment is one broadcast
  join on ``sub`` + argmin and the update is one (sub, cid, pos)
  aggregation — M×K (=128) centroid rows total, ``localCheckpoint``-ed
  per round exactly like ``queries/pipeline.py::kmeans_centroids``;
* encoding is the same broadcast-argmin, pivoted to an M-code array per
  vector — the corpus never shuffles (``groupBy(vec_id)`` re-groups the
  M subspace rows; at scale the subspace explode and regroup stay
  partition-local to the vector's row group);
* ADC search broadcasts the per-query M×K distance table as an
  array-of-arrays and folds ``zip_with(codes, table, element_at)`` —
  O(M) lookups per (query, vector), with the query side broadcast the
  same way q60's exact scan broadcasts its probes. Compose with the IVF
  index (``operators/ivf.py``) to prune the corpus side first: IVF
  picks the cells, PQ scores the survivors — the standard IVFADC stack.

Deterministic end-to-end: init codewords are the subvectors of the K
lowest vec_ids (no RNG), argmin ties break on (d2, cid), ranking ties
on vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.functions.vectorops import l2sq
from pyspark_streaming_base_spark.operators import tombstones
from pyspark_streaming_base_spark.operators.spread import spread

__all__ = [
    "pq_subvectors",
    "pq_codebooks",
    "pq_encode",
    "pq_search",
    "pq_search_rerank",
    "ivfadc_search",
    "build_pq_index",
    "query_pq_index",
]


def pq_subvectors(emb: DataFrame, m: int, id_col: str = "vec_id", vec_col: str = "vec") -> DataFrame:
    """(id, sub, sv): the M contiguous subvectors of each vector.
    Dimension must divide evenly by ``m`` (checked per-row via slice
    semantics: a short final slice would change fold lengths)."""
    ds = (F.size("_v") / m).cast("int")
    return (
        emb.select(
            F.col(id_col),
            F.col(vec_col).alias("_v"),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        )
        .select(
            id_col,
            F.col("sub").cast("int").alias("sub"),
            F.slice(F.col("_v"), F.col("sub") * ds + 1, ds).alias("sv"),
        )
    )


def _d2(a: str, b: str) -> F.Column:
    return l2sq(F.col(a), F.col(b))


def pq_codebooks(
    emb: DataFrame, m: int, k: int, iters: int = 3, train_cap: int = 65_536
) -> DataFrame:
    """(sub, cid, cv): K codewords per subspace after ``iters`` joint
    Lloyd rounds. ``emb`` needs (vec_id, vec: array<double>); init is
    the subvectors of the K lowest vec_ids of the TRAINING SET
    (deterministic, no RNG).

    Training set: production PQ trains codebooks on a BOUNDED sample
    (the FAISS convention — M·K codewords saturate long before 10⁵
    training points, so Lloyd over 10⁹ vectors buys nothing but 10⁴×
    the scan cost). When the corpus exceeds ``train_cap`` rows the
    training set is the ``train_cap`` lowest xxhash64(vec_id) values —
    a deterministic, order-free uniform sample selected by one
    per-task partial top-k. The capped training subvectors are
    localCheckpoint-ed (≤ train_cap·m rows BY CONSTRUCTION — safe to
    pin at any corpus scale), so the Lloyd rounds never re-scan the
    corpus; encoding still covers every vector (``pq_encode``).
    ``train_cap <= 0`` trains on everything (the pre-r7 behavior). At
    fixture scales (n < cap) the training set IS the corpus, so
    results are unchanged.

    The dimension must divide evenly by ``m`` — checked at index build
    time (otherwise ``slice`` would silently DROP the tail dimensions
    from every signature).

    r13 execution split (the FAISS ``train()`` shape taken to its
    conclusion): when ``train_cap > 0`` the training set is
    driver-sized BY CONSTRUCTION (≤ train_cap·dim doubles — 32 MB at
    the 65k default, 256 KB at the bench's cap=512), so Spark selects
    the deterministic sample (one TakeOrdered scan) and the Lloyd
    rounds themselves run as one vectorized numpy pass on the driver —
    identical init (subvectors of the K lowest train ids), identical
    (d2, cid) argmin tie-break, and per-cluster means equal within 1e-9
    (pinned against the independent mirror in
    ``test_codebooks_match_numpy_lloyd``; numpy's pairwise-summation
    mean vs ``F.avg``'s shuffle-order sequential fold is a latent
    last-bit difference, so anything derived from codebooks would need
    ``dround`` gridding before it could feed an oracle-checked query —
    invariant 9; q111 is rows-only by design). The old distributed rounds paid ~1 s of fixed job/exchange
    overhead per iteration to aggregate 8k subvector rows; the bounded
    collect is the documented exception to the no-collect rule (bounded
    by the knob, like ``tune_nprobe``'s 1-row sweep probes).
    ``train_cap <= 0`` (train on the FULL corpus — unbounded) keeps the
    distributed joint-Lloyd rounds."""
    if train_cap > 0:
        import numpy as np

        spark = emb.sparkSession
        rows = (
            emb.select("vec_id", "vec")
            .orderBy(F.xxhash64("vec_id"), "vec_id")
            .limit(train_cap)
            .collect()  # bounded by train_cap BY CONSTRUCTION
        )
        schema = "sub int, cid bigint, cv array<double>"
        if not rows:
            return spark.createDataFrame([], schema)
        X = np.array([r.vec for r in rows], dtype=np.float64)
        ids = np.array([r.vec_id for r in rows], dtype=np.int64)
        d = X.shape[1]
        if d % m != 0:
            raise ValueError(
                f"vector dimension {d} is not divisible by m={m}; "
                "the tail dimensions would be silently dropped"
            )
        ds = d // m
        init = np.argsort(ids, kind="stable")[: min(k, len(ids))]
        out = []
        for sub in range(m):
            Xs = X[:, sub * ds : (sub + 1) * ds]
            cids = np.sort(ids[init])
            # init codewords in cid order: the subvectors of the K
            # lowest train ids (ids are unique, so argsort is exact)
            C = Xs[np.argsort(ids, kind="stable")[: len(cids)]]
            for _ in range(iters):
                d2 = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
                # cids are sorted ascending, so argmin's first-minimum
                # IS the (d2, cid) lexicographic tie-break
                a = d2.argmin(axis=1)
                keep = np.unique(a)
                C = np.stack([Xs[a == c].mean(axis=0) for c in keep])
                cids = cids[keep]
            out.extend(
                (sub, int(cid), [float(x) for x in cv])
                for cid, cv in zip(cids, C)
            )
        return spark.createDataFrame(out, schema)

    probe = emb.select(F.size("vec").alias("d")).first()
    if probe is not None and probe.d % m != 0:
        raise ValueError(
            f"vector dimension {probe.d} is not divisible by m={m}; "
            "the tail dimensions would be silently dropped"
        )
    train = emb
    subvecs = pq_subvectors(train, m)
    # the TRUE lowest-k ids (not `vec_id < k`, which under-populates the
    # init on sparse/offset id spaces — same ADVICE-r6 fix as the coarse
    # quantizer in build_pq_index); identical selection on dense-from-0 ids
    low = train.orderBy("vec_id").limit(k).select("vec_id")
    cent = subvecs.join(F.broadcast(low), "vec_id").select(
        "sub", F.col("vec_id").cast("bigint").alias("cid"), F.col("sv").alias("cv")
    )
    for _ in range(iters):
        # carry sv THROUGH the argmin aggregate instead of re-joining the
        # subvector frame afterwards (sv is functionally determined by
        # the (vec_id, sub) group key, so first() is deterministic) —
        # one join per Lloyd round saved
        assigned = (
            subvecs.join(F.broadcast(cent), "sub")
            .withColumn("d2", _d2("sv", "cv"))
            .groupBy("vec_id", "sub")
            .agg(
                F.min_by("cid", F.struct("d2", "cid")).alias("cid"),
                F.first("sv").alias("sv"),
            )
        )
        cent = (
            assigned.select("sub", "cid", F.posexplode("sv").alias("pos", "val"))
            .groupBy("sub", "cid", "pos")
            .agg(F.avg("val").alias("mu"))
            .groupBy("sub", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("s"))
            .select("sub", "cid", F.transform("s", lambda st: st["mu"]).alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cent


def _cb_entries_row(codebooks: DataFrame) -> DataFrame:
    """ONE row holding the whole fine quantizer: ``_cb[sub]`` is the
    array of (cid, cv) codeword structs for subspace ``sub`` (positional
    by the sorted distinct subs present, which IS dense 0..M-1 — sub
    comes from ``sequence``). M·K rows total by construction (≤ a few
    hundred), so the fold-to-one-row and its broadcast are bounded at
    any corpus scale. r14: ONE global aggregation — the old
    groupBy(sub) → groupBy() ladder paid two exchanges for ≤ a few
    hundred rows; the per-sub regroup is now an expression over the
    flat collected array (M · M·K element scans, bounded)."""
    flat = codebooks.groupBy().agg(
        F.collect_list(F.struct("sub", "cid", "cv")).alias("_flat")
    )
    subs = F.array_sort(
        F.array_distinct(F.transform("_flat", lambda e: e["sub"]))
    )
    return flat.select(
        F.transform(
            subs,
            lambda s: F.transform(
                F.filter("_flat", lambda e: e["sub"] == s),
                lambda e: F.struct(e["cid"].alias("cid"), e["cv"].alias("cv")),
            ),
        ).alias("_cb")
    )


def _codes_expr(vec: Column, cb: Column, m: int) -> Column:
    """codes[sub] = argmin_cid ||vec_sub − codeword||² as ONE expression
    fold — the encode arithmetic of the old explode → broadcast-join →
    two-groupBy pipeline (same ``slice`` subvectors, same ``l2sq``
    sequential fold per pair, same (d2, cid) lexicographic argmin via
    ``array_min`` = ``min_by``), with zero exchanges and zero row
    multiplication."""
    ds = (F.size(vec) / m).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda sub: F.array_min(
            F.transform(
                F.element_at(cb, sub + 1),
                lambda e: F.struct(
                    l2sq(F.slice(vec, sub * ds + 1, ds), e["cv"]).alias("d2"),
                    e["cid"].alias("cid"),
                ),
            )
        )["cid"],
    )


def pq_encode(emb: DataFrame, codebooks: DataFrame, m: int) -> DataFrame:
    """(vec_id, codes: array<bigint> length M) — the 8-byte compressed
    corpus representation. r13: a pure projection over the corpus (the
    codebooks fold to one broadcast row; see :func:`_codes_expr`) — the
    corpus is scanned once and never exchanged, where the old shape
    exploded M subvector rows per vector, joined ×K codewords, and paid
    two full-corpus aggregation exchanges to regroup."""
    cb_row = _cb_entries_row(codebooks)
    return emb.join(F.broadcast(cb_row)).select(
        "vec_id", _codes_expr(F.col("vec"), F.col("_cb"), m).alias("codes")
    )


def _tabs_expr(qvec: Column, cb: Column, m: int) -> Column:
    """tabs[sub][cid] = ||q_sub − codeword||² as ONE expression fold over
    the 1-row codebook entries fold (:func:`_cb_entries_row`) — the ADC
    table arithmetic of the old explode → broadcast-join → two-groupBy
    pipeline (same ``slice`` subvectors, same ``l2sq`` sequential fold
    per (subvector, codeword) pair, same cid-keyed map rows), with zero
    exchanges and zero row multiplication. The encode-side twin of
    :func:`_codes_expr`.

    The per-subspace row is a ``map<cid, d2>``, not a positional array:
    if a Lloyd cluster empties during :func:`pq_codebooks` training (a
    real event on skewed data), surviving cids go SPARSE, and a
    positional ``element_at(row, code+1)`` would silently read the wrong
    codeword's distance (or throw under ANSI). Key lookup is immune —
    every code was assigned FROM the codebook, so its key always
    resolves."""
    ds = (F.size(qvec) / m).cast("int")
    # two-arg lambda = (element, index): sub IS the positional index of
    # _cb (dense 0..M-1 by construction — _cb_entries_row sorts on sub)
    return F.transform(
        cb,
        lambda entries, sub: F.map_from_entries(
            F.transform(
                entries,
                lambda e: F.struct(
                    e["cid"].alias("cid"),
                    l2sq(F.slice(qvec, sub * ds + 1, ds), e["cv"]).alias("d2"),
                ),
            )
        ),
    )


def _adc_tables(queries: DataFrame, codebooks: DataFrame, m: int) -> DataFrame:
    """(qid, qvec, tabs): per-query M-row table of CID-KEYED subspace
    distance maps — tabs[sub][cid] = ||q_sub - codeword||². The one
    table definition :func:`pq_search` and :func:`_quantizer_plan`
    share.

    r14: a pure projection against the 1-row broadcast codebook fold
    (:func:`_tabs_expr`) — the old shape exploded M subvector rows per
    query, broadcast-joined the codebooks, and paid two aggregation
    exchanges to regroup; this pays none. ``qvec`` rides along so the
    exact re-rank never re-reads the query batch."""
    return queries.join(F.broadcast(_cb_entries_row(codebooks))).select(
        "qid", "qvec", _tabs_expr(F.col("qvec"), F.col("_cb"), m).alias("tabs")
    )


def _quantizer_plan(
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    m: int,
    nprobe: int,
) -> DataFrame:
    """(qid, qvec, cell, tabs): each query's ``nprobe`` nearest coarse
    cells with its ADC tables (and full-precision query vector, for the
    downstream exact re-rank) attached — BOTH per-query quantizer
    consultations of an IVFADC probe fused into ONE projection over two
    1-row broadcast quantizer folds (centroids ≤ n_cells rows, codebooks
    ≤ M·K rows, both by-construction-small). Replaces the r13 serial
    ladder (centroid broadcast → probe-rank window exchange → probe
    broadcast → codebook broadcast → two ADC aggregation exchanges →
    table broadcast): one broadcastable frame, zero exchanges.

    Value-identical to ``ivf_probe_cells`` + the old ``_adc_tables`` by
    construction: cell selection sorts struct(csim, cent_id) with an
    explicit comparator that is row_number's (csim DESC, cent_id ASC)
    ordering — same shared ``cosine`` fold per (qvec, cvec) pair, same
    Spark total order on doubles (NaN greatest, NaN = NaN) — and
    ``slice(ranked, 1, nprobe)`` is the ``prb <= nprobe`` filter.
    ``tabs`` is :func:`_tabs_expr` (same ``l2sq`` folds, cid-keyed).

    Both quantizer tables fold through ONE tagged-union aggregation into
    ONE broadcast row (r14): two separate folds paid two exchange jobs
    and two broadcast jobs for ≤ n_cells + M·K bounded rows."""
    from pyspark_streaming_base_spark.functions.vectorops import cosine

    tagged = centroids.select(
        F.lit(0).alias("_t"),
        F.col("cent_id").cast("bigint").alias("_a"),
        F.lit(0).cast("bigint").alias("_b"),
        F.col("cvec").alias("_v"),
    ).unionByName(
        codebooks.select(
            F.lit(1).alias("_t"),
            F.col("sub").cast("bigint").alias("_a"),
            F.col("cid").cast("bigint").alias("_b"),
            F.col("cv").alias("_v"),
        )
    )
    qrow = tagged.groupBy().agg(
        F.collect_list(F.struct("_t", "_a", "_b", "_v")).alias("_q")
    )
    cents = F.transform(
        F.filter(F.col("_q"), lambda e: e["_t"] == 0),
        lambda e: F.struct(e["_a"].alias("cent_id"), e["_v"].alias("cvec")),
    )
    # positional by sub (dense 0..M-1 — sub comes from sequence), the
    # _cb_entries_row convention rebuilt from the flat tagged fold
    cb = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.transform(
            F.filter(
                F.col("_q"), lambda e: (e["_t"] == 1) & (e["_a"] == s)
            ),
            lambda e: F.struct(e["_b"].alias("cid"), e["_v"].alias("cv")),
        ),
    )
    scored = F.transform(
        cents,
        lambda c: F.struct(
            cosine(F.col("qvec"), c["cvec"]).alias("csim"),
            c["cent_id"].alias("cell"),
        ),
    )
    ranked = F.array_sort(
        scored,
        lambda l, r: F.when(l["csim"] > r["csim"], -1)
        .when(l["csim"] < r["csim"], 1)
        .when(l["cell"] < r["cell"], -1)
        .when(l["cell"] > r["cell"], 1)
        .otherwise(0),
    )
    cells = F.transform(F.slice(ranked, 1, nprobe), lambda s: s["cell"])
    return (
        queries.join(F.broadcast(qrow))
        .select(
            "qid",
            "qvec",
            cells.alias("_cells"),
            _tabs_expr(F.col("qvec"), cb, m).alias("tabs"),
        )
        .select("qid", "qvec", F.explode("_cells").alias("cell"), "tabs")
    )


def _adc_fold() -> F.Column:
    """Σ_m tabs[m][codes[m]] — the ADC lookup sum over a codes row.
    ``tabs[m]`` is a cid-keyed map (see :func:`_adc_tables`), so the
    lookup is by code VALUE, robust to sparse cids."""
    return F.aggregate(
        F.zip_with("codes", "tabs", lambda c, row: F.element_at(row, c)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_search(
    encoded: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    m: int,
    top_k: int = 10,
) -> DataFrame:
    """ADC top-k: (qid, vec_id, adc_r, rnk) for each query against the
    code-compressed corpus. ``queries`` needs (qid, qvec); assumed small
    relative to the corpus (it is broadcast — same contract as q60)."""
    adc = _adc_fold()
    ranked = (
        _adc_candidates(encoded, codebooks, queries, m)
        .withColumn("adc_r", F.round(adc, 6))
        .withColumn(
            "rnk",
            F.row_number()
            .over(W.partitionBy("qid").orderBy(F.col("adc_r"), F.col("vec_id")))
            .cast("bigint"),
        )
    )
    return ranked.filter(F.col("rnk") <= top_k).select("qid", "vec_id", "adc_r", "rnk")


def _adc_candidates(
    encoded: DataFrame, codebooks: DataFrame, queries: DataFrame, m: int
) -> DataFrame:
    """(qid, vec_id, codes, tabs, qvec, …): the un-pruned all-pairs ADC
    candidate frame — every (query, corpus code row) pair with the ADC
    tables and query vector riding the query-side broadcast. Shared by
    :func:`pq_search` (ranks it directly) and :func:`pq_search_rerank`
    (shortlists then re-ranks exactly)."""
    tables = _adc_tables(queries, codebooks, m)
    return encoded.join(F.broadcast(tables), F.col("vec_id") != F.col("qid"))


def _exact_rerank(emb: DataFrame, short: DataFrame, top_k: int) -> DataFrame:
    """Exact-distance re-rank of a (qid, vec_id, qvec) shortlist — the
    one rerank definition :func:`pq_search_rerank`, :func:`ivfadc_search`
    and :func:`query_pq_index` share. Touches only O(queries × shortlist)
    full-precision rows. The shortlist is broadcast (bounded at
    queries × shortlist BY CONSTRUCTION): without the hint the planner —
    seeing no size estimate through the window filter that produced it —
    shuffle-joins the corpus-sized ``emb`` side on vec_id (r13). The
    query vector arrives ON the shortlist rows (r14 — it rides the
    quantizer-plan broadcast end to end), so the re-rank no longer
    re-reads or re-broadcasts the query batch: one equi-join against
    ``emb``, then the final window."""
    exact = F.broadcast(short).join(emb, "vec_id").withColumn(
        "d2_r", F.round(_d2("qvec", "vec"), 6)
    )
    return (
        exact.withColumn(
            "rnk",
            F.row_number()
            .over(W.partitionBy("qid").orderBy(F.col("d2_r"), F.col("vec_id")))
            .cast("bigint"),
        )
        .filter(F.col("rnk") <= top_k)
        .select("qid", "vec_id", "d2_r", "rnk")
    )


def pq_search_rerank(
    emb: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    m: int,
    shortlist: int = 50,
    top_k: int = 10,
) -> DataFrame:
    """PQ shortlist + exact re-rank — the published ADC production
    pattern: the compressed scan proposes ``shortlist`` candidates per
    query, then EXACT distances are computed for those few rows only and
    the final top-k is ranked from them.

    The re-rank join touches ``n_queries × shortlist`` corpus rows (an
    equi-join on vec_id against the tiny candidate set — never a second
    full scan), so the expensive full-precision math is O(candidates)
    while the corpus-wide pass stays on 8–16-byte codes. ``emb`` needs
    (vec_id, vec) — the same frame the index was built from.
    """
    short = _adc_shortlist(
        _adc_candidates(encoded, codebooks, queries, m), shortlist
    )
    return _exact_rerank(emb, short, top_k)


def ivfadc_search(
    emb: DataFrame,
    assigned: DataFrame,
    encoded: DataFrame,
    codebooks: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    m: int,
    nprobe: int = 4,
    shortlist: int = 50,
    top_k: int = 10,
) -> DataFrame:
    """IVFADC — the standard published ANN stack, composed from the two
    operators this package already has: the IVF coarse quantizer prunes
    the corpus to ``nprobe`` cells per query (``operators/ivf.py``'s
    probe definition, unchanged), then PQ codes score the survivors via
    ADC, and the shortlist is re-ranked with exact distances.

    Inputs: ``assigned`` (vec_id, cell) from ``ivf_assign``; ``encoded``
    (vec_id, codes) from :func:`pq_encode`; ``centroids`` (cent_id,
    cvec). At scale use :func:`build_pq_index` / :func:`query_pq_index`:
    the persisted (vec_id, cell, codes, vec) table lets the probe read
    codes directly with no cell↔codes join and re-rank without touching
    the source corpus — this inline form exists for one-shot queries and
    the index-equality proof.

    Cost model at 10⁹ vectors: the scan is (nprobe / n_cells) of the
    corpus × 16 bytes of codes — coarse pruning and compression
    multiply. Exact math touches only O(queries × shortlist) rows.
    """
    probes = _quantizer_plan(queries, centroids, codebooks, m, nprobe)
    # candidate codes: probed cells only — the pruned compressed scan;
    # the ADC tables ride the (bounded) probe broadcast, so no second
    # per-query join is needed to score
    cand = (
        F.broadcast(probes)
        .join(assigned.select("vec_id", "cell"), "cell")
        .join(encoded, "vec_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "codes", "tabs", "qvec")
    )
    short = _adc_shortlist(cand, shortlist)
    return _exact_rerank(emb, short, top_k)


def _adc_shortlist(cand: DataFrame, shortlist: int) -> DataFrame:
    """(qid, vec_id, qvec) ADC shortlist over a (qid, vec_id, codes,
    tabs, qvec) candidate frame — the one compressed-scoring definition
    shared by :func:`pq_search_rerank`, :func:`ivfadc_search` (joins
    assignments↔codes per query) and :func:`query_pq_index` (reads the
    pre-joined persisted layout). The ADC tables and query vector arrive
    ON the candidate rows (r14 — they ride the query-side broadcast), so
    scoring is a pure projection, and the shortlist hands ``qvec``
    straight to the exact re-rank. The shortlist-window exchange stays
    bounded at scale: the rank filter is WindowGroupLimit-eligible, so
    each map task forwards at most ``shortlist`` rows per query."""
    adc = _adc_fold()
    return (
        cand.withColumn("adc_r", F.round(adc, 6))
        .withColumn(
            "srnk",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.col("adc_r"), F.col("vec_id"))
            ),
        )
        .filter(F.col("srnk") <= shortlist)
        .select("qid", "vec_id", "qvec")
    )


def _tables(path: str) -> tombstones.IndexTables:
    """The one pre-joined ``index`` table is live; codebooks and coarse
    centroids are frozen."""
    return tombstones.IndexTables(
        tombstones=f"{path}/tombstones",
        id_col="vec_id",
        live=(f"{path}/index",),
        frozen=(f"{path}/codebooks", f"{path}/centroids"),
        ratio_basis=f"{path}/index",
    )


def build_pq_index(
    emb: DataFrame,
    path: str,
    m: int,
    k: int,
    iters: int = 3,
    n_cells: int = 0,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    train_cap: int = 65_536,
) -> None:
    """Materialize the complete IVFADC index — the write-once half of the
    build/probe split ``operators/minhash.py`` and ``operators/ivf.py``
    established for the lexical and exact-vector paths (the r5 verdict's
    missing piece: q111 re-trained codebooks and re-encoded the corpus
    inside every query).

    Three tables under ``path``:

    * ``codebooks`` — (sub, cid, cv): M×K fine-quantizer codewords from
      joint distributed Lloyd rounds;
    * ``centroids`` — (cent_id, cvec): the coarse quantizer (pass
      ``centroids`` e.g. k-means-refined, or ``n_cells`` for the
      deterministic lowest-vec_id default); pass ``codebooks`` to freeze
      pre-trained fine codewords instead of training on ``emb`` (the
      knob :func:`append_pq_index`'s parity test uses to prove the
      append path equals a frozen-quantizer rebuild);
    * ``index`` — (vec_id, cell, codes, vec): ONE pre-joined row per
      corpus vector, exactly the layout the :func:`ivfadc_search`
      docstring prescribes for scale — probes read codes directly with
      no assignments↔codes join, and the exact re-rank reads ``vec``
      from the SAME table, so a probe never touches the source corpus.

    At 10⁹ vectors the build is three corpus scans (assign, encode,
    join-write — each a broadcast-join against ≤ M·K + n_cells centroid
    rows); probes then scan (nprobe/n_cells)·corpus rows of 16-byte
    codes. ``emb`` needs (vec_id, vec: array<double>).

    ``train_cap`` bounds the Lloyd TRAINING set (passed straight to
    :func:`pq_codebooks` — deterministic lowest-xxhash64 sample; the
    FAISS train-on-a-sample/add-everything split). Codebook training is
    the dominant build stage even at fixture scale (measured r12 at
    sf0.1: 7.3 s of a ~10 s build; cap=512 cuts it to 2.8 s at a small
    measured recall delta — 0.669 → 0.625 recall@10 on the fixture,
    whose 26% sample ratio distorts far more than 10⁵ of 10⁹ would; see
    SCALE.md §Bounded quantizer training for the build-vs-recall row
    and why the production-scale impact is smaller), and at corpus
    scale it is the difference
    between Lloyd over 10⁹ rows and Lloyd over 10⁵. Encoding and
    assignment always cover EVERY vector regardless of the cap.
    """
    from pyspark_streaming_base_spark.operators.ivf import ivf_assign

    if centroids is None:
        if n_cells <= 0:
            raise ValueError("need centroids or n_cells > 0")
        # the TRUE lowest n_cells ids (TakeOrderedAndProject — per-task
        # partial top-k, one k-row merge), not `vec_id < n_cells`: a
        # sparse or offset id space would silently yield fewer (possibly
        # zero) centroids and a degenerate index
        centroids = (
            emb.orderBy("vec_id")
            .limit(n_cells)
            .select(F.col("vec_id").alias("cent_id"), F.col("vec").alias("cvec"))
        )
    # a build defines the corpus: tear down any pointer layout a
    # previous compaction left, and clear stale tombstones so they
    # can't shadow freshly indexed ids (family contract)
    tombstones.reset_for_build(_tables(path))
    cb = (
        codebooks
        if codebooks is not None
        else pq_codebooks(emb, m, k, iters=iters, train_cap=train_cap)
    )
    cb.write.mode("overwrite").parquet(f"{path}/codebooks")
    spark = cb.sparkSession
    cb_saved = tombstones.read_live(spark, f"{path}/codebooks")
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    # r13: ONE fused corpus pass — cell assignment and PQ encoding are
    # both projections against 1-row broadcast quantizer folds
    # (ivf_assign / _codes_expr), so the index row is produced directly:
    # no separate assign scan, no separate encode scan, and no 3-way
    # corpus self-join (the old shape sort-merge-joined the corpus with
    # itself twice to re-attach cell and codes). Zero corpus exchanges.
    # Centroids are read BACK from the written parquet so a derived
    # centroid frame (e.g. the lowest-n_cells TakeOrdered above) is not
    # recomputed against the corpus.
    cent_saved = tombstones.read_live(spark, f"{path}/centroids")
    (
        ivf_assign(spread(emb, "vec_id"), cent_saved)
        .join(F.broadcast(_cb_entries_row(cb_saved)))
        .select(
            "vec_id",
            "cell",
            _codes_expr(F.col("vec"), F.col("_cb"), m).alias("codes"),
            "vec",
        )
        .write.mode("overwrite")
        .parquet(f"{path}/index")
    )


def append_pq_index(spark, path: str, new_emb: DataFrame, m: int) -> None:
    """Add a batch of NEW vectors to a persisted IVFADC index without
    retraining: the frozen coarse centroids assign cells and the frozen
    codebooks encode — exactly the semantics of an ANN library's
    ``add()`` after ``train()`` (quantizers reflect the training-time
    distribution; retrain+rebuild when drift warrants it). Cost is one
    batch scan against ≤ M·K + n_cells broadcast centroid rows plus an
    O(batch) parquet append; the existing index rows are untouched, so
    the daily-crawl loop (probe → append) is O(batch) end to end.
    Equality proof: with codebooks/centroids pinned, build(A) +
    append(B) == build(A∪B, centroids=…, codebooks=…) row for row
    (``tests/test_pq.py``). Callers must not append a vec_id twice."""
    from pyspark_streaming_base_spark.operators.ivf import ivf_assign

    cb = tombstones.read_live(spark, f"{path}/codebooks")
    centroids = tombstones.read_live(spark, f"{path}/centroids")
    # same fused single-pass shape as build_pq_index (r13): assignment
    # and encoding are projections, the batch is scanned once
    tombstones.append_live(
        ivf_assign(spread(new_emb, "vec_id"), centroids)
        .join(F.broadcast(_cb_entries_row(cb)))
        .select(
            "vec_id",
            "cell",
            _codes_expr(F.col("vec"), F.col("_cb"), m).alias("codes"),
            "vec",
        ),
        f"{path}/index",
    )


def query_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    m: int,
    nprobe: int = 4,
    shortlist: int = 50,
    top_k: int = 10,
) -> DataFrame:
    """IVFADC probe of a persisted index: (qid, vec_id, d2_r, rnk) for a
    query batch (qid, qvec) — same output contract and tie-breaks as
    :func:`ivfadc_search`, but every corpus-side input (cells, codes,
    full-precision vectors for the re-rank) comes from the ONE
    pre-joined ``index`` table; the source corpus is never read.
    """
    index, codebooks, centroids = tombstones.load_live_view(spark, _tables(path))

    probes = _quantizer_plan(queries, centroids, codebooks, m, nprobe)
    # the pruned compressed scan reads (vec_id, cell, codes) straight off
    # the persisted layout — no join to reach the codes, and the ADC
    # tables ride the probe broadcast (r14)
    cand = (
        F.broadcast(probes)
        .join(index.select("vec_id", "cell", "codes"), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "codes", "tabs", "qvec")
    )
    short = _adc_shortlist(cand, shortlist)
    return _exact_rerank(index.select("vec_id", "vec"), short, top_k)


def delete_from_pq_index(spark, path: str, ids, compact_ratio: float = None) -> None:
    """Tombstone vectors in the IVFADC index — O(batch); probes exclude
    them from the compressed scan AND the exact re-rank (both read the
    one ``index`` table through the live view). Codebooks/centroids are
    frozen artifacts and untouched. Shared contract:
    ``operators/tombstones.py``. ``compact_ratio`` opts into the
    delete-time auto-compaction hook (the bm25 convention)."""
    tombstones.delete(spark, _tables(path), ids, compact_ratio)


def compact_pq_index(spark, path: str) -> None:
    """Fold tombstones into the ``index`` table (staged-swap), clear
    them."""
    tombstones.compact(spark, _tables(path))
