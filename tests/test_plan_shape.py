"""Physical-plan shape tests — the 100 TB design rules, asserted.

Correctness says the operator computes the right answer; these say it
computes it the way that survives a 1000-executor cluster: filters reach
the parquet scan, projections prune columns, dimension joins broadcast,
per-group top-k group-limits before the exchange, and the shuffle budget
stays at the plan's theoretical minimum.
"""

from __future__ import annotations

from pyspark_streaming_base_spark.plans import (
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    scan_read_schema,
    shuffle_count,
)
from pyspark_streaming_base_spark.queries import load_all

from tests.conftest import SF_SMALL

R = load_all()


def test_filter_pushdown_reaches_scan(spark):
    df = R["q02_filter_pushdown"].fn(spark, SF_SMALL)
    pushed = pushed_filters(df)
    assert "l_shipdate" in pushed and "GreaterThanOrEqual" in pushed
    assert "l_quantity" in pushed and "LessThan" in pushed
    # zero shuffles: filter+project is embarrassingly parallel
    assert shuffle_count(df) == 0


def test_column_pruning(spark):
    df = R["q02_filter_pushdown"].fn(spark, SF_SMALL)
    schema = scan_read_schema(df)
    # 4 projected + 1 filter column; the other 6 lineitem columns pruned
    assert "l_orderkey" in schema and "l_shipdate" in schema
    assert "l_returnflag" not in schema and "l_tax" not in schema


def test_agg_reads_only_needed_columns(spark):
    df = R["q01_pricing_summary"].fn(spark, SF_SMALL)
    schema = scan_read_schema(df)
    assert "l_orderkey" not in schema  # not referenced by Q1
    assert "l_partkey" not in schema


def test_star_join_broadcasts_dims(spark):
    df = R["q04_revenue_by_nation"].fn(spark, SF_SMALL)
    assert has_broadcast_join(df)


def test_stream_static_join_is_broadcast(spark):
    df = R["q73_stream_static_join"].fn(spark, SF_SMALL)
    assert has_broadcast_join(df)
    # only the final aggregation shuffles; the join itself must not
    assert shuffle_count(df) <= 1


def test_topk_group_limit_pushed(spark):
    # rank<=k must plan WindowGroupLimit (map-side top-k before exchange)
    plan = formatted_plan(R["q30_topk_per_group"].fn(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan


def test_stratified_k_sample_group_limit_pushed(spark):
    # q129's rn<=20 must plan WindowGroupLimit too: the exchange carries
    # O(k * strata * tasks) candidates, never the corpus
    plan = formatted_plan(R["q129_stratified_k_sample"].fn(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan


def test_global_topk_avoids_total_sort(spark):
    # ORDER BY + LIMIT must plan TakeOrderedAndProject, not a global Sort
    plan = formatted_plan(R["q14_global_topk"].fn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_minhash_single_aggregation_pass(spark):
    # the band stacking must NOT replan the signature agg per band
    df = R["q41_minhash_lsh_pairs"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    # one agg for 16 mins + banding via explode → small constant exchange
    # count, never O(bands): r13 reads 7 = 4 conditional single-split
    # spreads (the corpus scan feeds 4 plan branches; operators.spread is
    # a no-op on multi-split input) + 2 band-join + 1 pair-dedup
    assert shuffle_count(df) <= 8, plan


def test_q1_single_shuffle(spark):
    # partial agg map-side, one exchange on the group keys, final agg —
    # plus (r13) the conditional single-split spread before the partial
    # agg (keyed on l_shipdate, a column Q1 reads anyway; a no-op on
    # multi-split input, so at scale this is back to exactly 1)
    df = R["q01_pricing_summary"].fn(spark, SF_SMALL)
    assert shuffle_count(df) <= 2


def test_unpivot_is_shuffle_free(spark):
    # Expand-based unpivot: one scan, zero exchanges
    df = R["q38_unpivot"].fn(spark, SF_SMALL)
    assert shuffle_count(df) == 0
    assert "Expand" in formatted_plan(df)


def test_sampling_filter_is_shuffle_free(spark):
    df = R["q55_stratified_sample"].fn(spark, SF_SMALL)
    assert shuffle_count(df) == 0


def test_tfidf_topk_group_limits(spark):
    plan = formatted_plan(R["q57_tfidf_topk"].fn(spark, SF_SMALL))
    assert "WindowGroupLimit" in plan


def test_ann_bucket_join_carries_no_vectors(spark):
    # the exploded bucket/dedup phase must not shuffle the 64-dim arrays:
    # every exchange below the candidate join moves only scalar columns
    df = R["q61_ann_lsh"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    import re

    # node details are "(N) Exchange\nInput [k]: [col#id, ...]"; the vector
    # columns are named vec/qvec (vec_id is the scalar key and is fine)
    for m in re.finditer(r"\(\d+\) Exchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan):
        cols = m.group(1)
        assert not re.search(r"\b(?:q?vec)#\d+", cols), cols


def test_no_python_in_hot_path(spark):
    # relational operators must never cross the Python boundary — JVM
    # expressions only (formatted mode doesn't annotate codegen spans, so
    # assert the absence of Python-eval operators instead)
    for name in (
        "q01_pricing_summary",
        "q04_revenue_by_nation",
        "q21_explode_terms",
        "q40_ngram_jaccard_pairs",
        "q60_knn_bruteforce",
    ):
        plan = formatted_plan(R[name].fn(spark, SF_SMALL))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        assert "HashAggregate" in plan or "Join" in plan, name


def test_token_packing_two_pass_prefix_sum(spark):
    """q59 must never run a cumsum window partitioned on bare ``lang``
    (cardinality ~3 → one sort partition swallows 1/3 of the corpus).
    The two-pass scheme windows per-doc data on (lang, bucket) and keeps
    the per-lang window on the tiny bucket-totals table only."""
    import re

    df = R["q59_token_packing"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)

    # every windowspec over doc-level rows (ordered by doc_id) must
    # partition on (lang, bucket), not bare lang
    doc_specs = [
        m.group(0)
        for m in re.finditer(r"windowspecdefinition\([^)]*doc_id[^)]*\)", plan)
    ]
    assert doc_specs, "expected a per-doc cumsum window in the plan"
    for spec in doc_specs:
        assert re.search(r"windowspecdefinition\(lang#\d+, bucket#\d+L?,", spec), spec

    # pass-1 output is persisted: one tokenize+shuffle+window feeds both
    # branches (formatted mode re-prints the cached relation's defining
    # plan per occurrence, so count InMemory nodes, not raw scans — the
    # runtime final plan has a single FileScan)
    assert "InMemoryRelation" in plan or "InMemoryTableScan" in plan


def test_user_correlation_pairs_bounded_by_construction(spark):
    """q37's pair space must be capped by a distributed top-N-by-activity
    selection, not an unbounded all-users self-join: global top-N plans as
    TakeOrderedAndProject (per-task partial top-N, one N-row merge) and the
    user filter applies as a broadcast semi-join — events never shuffle."""
    plan = formatted_plan(R["q37_user_correlation"].fn(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi BuildRight" in plan


def test_simhash_self_join_reuses_fingerprint_pipeline(spark):
    """q46's band self-join must compute the (expensive) fingerprint
    pipeline ONCE: shuffle_hash hints on both sides keep AQE's broadcast
    conversion from defeating exchange reuse, so the runtime plan shows a
    ReusedExchange and a single file scan."""
    df = R["q46_simhash_neardup_pairs"].fn(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1, final
    assert final.count("FileScan") == 1, final


def test_chunking_is_shuffle_free(spark):
    """q86: tokenize → sequence → explode → slice is a purely narrow
    pipeline — chunking 100 TB must not move a single byte between
    executors."""
    df = R["q86_doc_chunking"].fn(spark, SF_SMALL)
    assert shuffle_count(df) == 0


def test_decontamination_joins_on_shingles_not_pairs(spark):
    """q87: contamination is ONE semi join on the shingle key — never a
    doc×doc comparison. The plan must contain a LeftSemi and no
    cartesian/broadcast-nested-loop."""
    plan = formatted_plan(R["q87_decontamination"].fn(spark, SF_SMALL))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tokenize_broadcasts_vocab(spark):
    """q90: the V-row vocab must broadcast — a shuffle join keyed on
    `token` would move the whole exploded corpus for a 64-row lookup."""
    df = R["q90_tokenize_corpus"].fn(spark, SF_SMALL)
    assert has_broadcast_join(df)
    import re

    plan = formatted_plan(df)
    # position order comes from array_sort inside the aggregate, not a
    # corpus-wide window sort: the only Window node is the V-row id
    # assignment (formatted output repeats each node in the details
    # section, so count tree nodes, not substring hits)
    assert len(re.findall(r"\(\d+\) Window", plan)) <= 1


def test_pii_redaction_shuffle_free(spark):
    df = R["q91_pii_redaction"].fn(spark, SF_SMALL)
    assert shuffle_count(df) == 0


def test_quantize_corpus_never_shuffles_vectors(spark):
    df = R["q92_int8_quantize"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    # pass 1 reduces the posexplode to 64 partials (1 shuffle + the 1-row
    # param fold); pass 2 must join via broadcast, not exchange the corpus
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert shuffle_count(df) <= 2


def test_dq_tagging_fuses_into_scan(spark):
    df = R["q95_dq_violations"].fn(spark, SF_SMALL)
    # tag + explode are narrow; only the per-rule count aggregation shuffles
    assert shuffle_count(df) == 1


def test_profit_rollup_broadcasts_all_dims(spark):
    df = R["q97_profit_by_nation_year"].fn(spark, SF_SMALL)
    assert has_broadcast_join(df)
    # lineitem⋈orders + final (nation, year) agg: 3 shuffles max
    # (fact-fact join exchanges both sides), dims all broadcast
    assert shuffle_count(df) <= 3


def test_min_cost_supplier_ranks_aggregate_not_fact(spark):
    df = R["q96_min_cost_supplier"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert has_broadcast_join(df)


def test_training_pipeline_two_shuffles(spark):
    df = R["q100_training_pipeline"].fn(spark, SF_SMALL)
    # dedup window on the fingerprint + final shard aggregate; the quality
    # gate must stay a narrow projection between them
    assert shuffle_count(df) <= 2


def test_funnel_progression_single_exchange(spark):
    df = R["q113_funnel_progression"].fn(spark, SF_SMALL)
    # the 3 chained conditional-min windows + final aggregate all share
    # the user_id partitioning: ONE exchange, three Window operators
    assert shuffle_count(df) == 1
    plan = formatted_plan(df)
    assert plan.count("Window") >= 3


def test_global_rank_filter_rewrites_to_take_ordered(spark):
    """q103 (PageRank top-20) and q102 (heavy hitters) end in a GLOBAL
    row_number window (ORDER BY, no PARTITION BY) + rank filter. That is
    safe at scale ONLY because Catalyst's rank-filter rewrite plans a
    TakeOrderedAndProject (per-task partial top-k, one k-row merge)
    BEFORE the Window — no SinglePartition exchange ever carries the
    corpus. Pin the rewrite: editing the idiom (e.g. filtering on a
    column derived from the rank) silently reverts to a single-partition
    sort, and q103's localCheckpoint lineage truncation shrinks the plan
    below the lint rule's old operator-count bar."""
    import re

    for name in ("q103_pagerank_top20", "q102_heavy_hitters"):
        plan = formatted_plan(R[name].fn(spark, SF_SMALL))
        ops = re.findall(r"^\s*(?:[:+\-\s]*)\(\d+\)\s+([A-Za-z]+)", plan, re.M)
        assert "SinglePartition" not in plan, name
        assert "TakeOrderedAndProject" in ops and "Window" in ops, (name, ops)
        # formatted_plan numbers operators bottom-up: the TakeOrdered
        # node must be UNDER the Window it guards
        assert ops.index("TakeOrderedAndProject") < ops.index("Window"), (
            name,
            ops,
        )


def test_ks_drift_two_pass_prefix_sum(spark):
    """q144's cumulative counts must window on (bucket) with the value
    order INSIDE buckets — never a single global-order window over the
    distinct-values table (corpus-sized at 100 TB). The only
    empty-partition window allowed is the carry pass over the 64-row
    bucket-totals table."""
    import re

    df = R["q144_ks_drift"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    value_specs = [
        m.group(0)
        for m in re.finditer(r"windowspecdefinition\([^)]*value#[^)]*\)", plan)
    ]
    assert value_specs, "expected the bucketed local-cumsum window"
    for spec in value_specs:
        # ordered-by-value windows must be partitioned by bucket
        assert re.search(r"windowspecdefinition\(bucket#\d+L?,", spec), spec


def test_bloom_probe_joins_are_broadcast(spark):
    """q139's k=3 bloom probes must be BROADCAST hash joins — the whole
    point is killing shingles map-side; if the word table ever stopped
    broadcasting, the probe would shuffle the corpus three times."""
    df = R["q139_bloom_decontamination"].fn(spark, SF_SMALL)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    # and the probe side must not exchange before the joins: the only
    # hash exchanges in the whole plan are the distinct val-shingle set,
    # the bloom word aggregate, the candidate verify, and the final agg
    assert plan.count("Exchange hashpartitioning") <= 5, plan[:2000]


def test_char_stats_shuffle_carries_aggregated_chars(spark):
    """q170's character explode must be absorbed by a map-side partial
    aggregate BEFORE any exchange: the shuffle carries (doc_id, char)
    groups (≤ alphabet per doc), never raw character rows — the claim
    that makes a corpus-sized char explode viable at 100 TB. Pinned as:
    ≤ 2 exchanges (char-count agg, per-doc fold) and a partial
    HashAggregate below the first exchange."""
    import re

    df = R["q170_char_stats"].fn(spark, SF_SMALL)
    assert shuffle_count(df) <= 2
    plan = formatted_plan(df)
    ops = re.findall(r"^\s*(?:[:+\-\s]*)\(\d+\)\s+([A-Za-z]+)", plan, re.M)
    # bottom-up numbering: a HashAggregate (the partial) precedes the
    # first Exchange, and the Generate (explode) precedes that aggregate
    first_exchange = ops.index("Exchange")
    assert "HashAggregate" in ops[:first_exchange], ops
    assert "Generate" in ops[: ops.index("HashAggregate")], ops
