"""The resident-state memo (``operators/tombstones.py::resident_state``)
as the BM25 probe uses it: a state is admitted on its second probe, a
warm probe answers bit-exactly like the plain path and a fresh build,
every write between two warm probes is seen by the next one, and the
memo holds at most ``RESIDENT_STATES`` persisted tables."""

from __future__ import annotations

import itertools
import random
from collections import OrderedDict

import pytest
from pyspark.sql import functions as F

from pyspark_streaming_base_spark.operators import tombstones
from pyspark_streaming_base_spark.operators.bm25 import (
    _tables,
    append_bm25_index,
    bm25_score_terms,
    build_bm25_index,
    compact_bm25_index,
    delete_from_bm25_index,
    load_bm25_index,
    query_bm25_index,
)
from pyspark_streaming_base_spark.queries._tables import t
from pyspark_streaming_base_spark.queries.text import _BM25_TERMS, _BM25_TOPK

from tests.conftest import SF_SMALL

_GROUPS = itertools.count()


@pytest.fixture(autouse=True)
def memo(monkeypatch):
    """An empty memo per test; every state it admitted is unpersisted
    afterwards."""
    fresh = OrderedDict()
    monkeypatch.setattr(tombstones, "_resident", fresh)
    yield fresh
    for entry in fresh.values():
        tombstones._release(entry)


@pytest.fixture()
def docs(spark):
    return t(spark, SF_SMALL, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _probe(spark, path, terms=_BM25_TERMS):
    return _rows(query_bm25_index(spark, path, terms, top_k=_BM25_TOPK))


def _fresh(spark, docs, path, terms=_BM25_TERMS):
    """The answer of an index built from scratch over ``docs`` and
    probed once."""
    build_bm25_index(docs, path)
    return _probe(spark, path, terms)


def _warm(spark, path):
    """Probe until the state is resident; returns its resident table."""
    for _ in range(2):
        _probe(spark, path)
    (entry,) = [e for (_s, tb), e in tombstones._resident.items() if tb == _tables(path, "doc_id")]
    assert entry.table is not None
    return entry.table


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"resident-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _cached(df) -> bool:
    return df.storageLevel.useDisk


def _leaves(node) -> list:
    """Leaf node names of an executed plan, looking through adaptive
    plans and query stages; an in-memory scan is a leaf."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _leaves(node.executedPlan())
    if name.endswith("QueryStage"):
        return _leaves(node.plan())
    kids = node.children()
    if kids.size() == 0:
        return [name]
    return [n for i in range(kids.size()) for n in _leaves(kids.apply(i))]


# -- every write between two warm probes is seen by the next probe ----------


def _delete(spark, idx, docs):
    gone = [r[0] for r in docs.select("doc_id").orderBy("doc_id").limit(30).collect()]
    delete_from_bm25_index(spark, idx, gone)
    return docs.filter(~F.col("doc_id").isin(gone))


def _append(spark, idx, docs):
    new = docs.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    append_bm25_index(new, idx)
    return docs.unionByName(new)


def _compact(spark, idx, docs):
    live = _delete(spark, idx, docs)
    compact_bm25_index(spark, idx)
    return live


def _rebuild(spark, idx, docs):
    half = docs.filter(F.col("doc_id") % 2 == 0)
    build_bm25_index(half, idx)
    return half


@pytest.mark.parametrize(
    "write", [_delete, _append, _compact, _rebuild], ids=lambda f: f.__name__[1:]
)
def test_write_between_warm_probes_is_seen(spark, docs, tmp_path, write):
    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    old = _warm(spark, idx)
    before = _probe(spark, idx)
    live = write(spark, idx, docs)
    want = _fresh(spark, live, str(tmp_path / "fresh"))
    assert want != before  # the write moves this probe's answer
    # plain first probe, admitting second probe, warm third probe
    assert [_probe(spark, idx) for _ in range(3)] == [want] * 3
    assert not _cached(old)  # the replaced state was unpersisted


# -- warm == plain == fresh build -------------------------------------------


def test_warm_plain_and_fresh_build_agree(spark, docs, tmp_path):
    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    live = _append(spark, idx, _delete(spark, idx, docs))
    fresh = str(tmp_path / "fresh")
    build_bm25_index(live, fresh)
    _warm(spark, idx)

    vocab = sorted(
        {r[0] for r in load_bm25_index(spark, fresh)[0].select("term").distinct().collect()}
    )
    for seed in range(5):
        rng = random.Random(seed)
        terms = rng.sample(vocab, 1 + seed % 4) + (["zz-not-a-term"] if seed == 4 else [])
        plain = _rows(bm25_score_terms(*load_bm25_index(spark, idx), terms, top_k=_BM25_TOPK))
        warm = _probe(spark, idx, terms)
        assert warm == plain == _probe(spark, fresh, terms), terms  # scores included
        assert warm


# -- admission, bound and sessions -------------------------------------------


def test_state_probed_once_persists_nothing(spark, docs, tmp_path, memo):
    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    before = _persistent_rdds(spark)
    _probe(spark, idx)
    assert _persistent_rdds(spark) == before
    assert all(e.table is None for e in memo.values())


def test_at_most_eight_states_and_replaced_ones_unpersisted(spark, docs, tmp_path, memo):
    small = docs.filter(F.col("doc_id") < 60)
    tables = []
    for i in range(tombstones.RESIDENT_STATES + 1):
        idx = str(tmp_path / f"idx{i}")
        build_bm25_index(small, idx)
        tables.append(_warm(spark, idx))
        assert len(memo) <= tombstones.RESIDENT_STATES
    assert not _cached(tables[0])  # evicted: the least recently probed
    assert all(_cached(tb) for tb in tables[1:])

    # a delete replaces the newest index's state
    delete_from_bm25_index(spark, str(tmp_path / f"idx{len(tables) - 1}"), [0])
    _probe(spark, str(tmp_path / f"idx{len(tables) - 1}"))
    assert not _cached(tables[-1])
    assert len(memo) == tombstones.RESIDENT_STATES


def test_new_session_gets_its_own_state(spark, docs, tmp_path, memo):
    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    mine = _warm(spark, idx)
    other = spark.newSession()
    assert _probe(other, idx) == _probe(spark, idx)
    assert len(memo) == 2 and all(e.table is None for (s, _), e in memo.items() if s is other)
    _probe(other, idx)
    theirs = [e.table for (s, _), e in memo.items() if s is other]
    assert theirs[0] is not None and theirs[0] is not mine
    assert _cached(mine)


def test_states_never_share_a_cache_entry(spark, docs, tmp_path, memo):
    """Spark matches cache entries by plan, and two resident tables of
    one index plan alike (two sessions on one state, or two states whose
    writes kept every path): releasing one leaves the other cached."""
    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    mine = _warm(spark, idx)
    other = spark.newSession()
    for _ in range(2):
        _probe(other, idx)
    (theirs,) = [e.table for (s, _), e in memo.items() if s is other]
    tombstones._release(memo.pop((spark, _tables(idx, "doc_id"))))
    assert not _cached(mine) and _cached(theirs)
    assert _probe(other, idx) == _fresh(spark, docs, str(tmp_path / "fresh"))


def test_answer_survives_clear_cache(spark, docs, tmp_path):
    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    table = _warm(spark, idx)
    want = _probe(spark, idx)
    spark.catalog.clearCache()
    assert not _cached(table)
    assert _probe(spark, idx) == want
    assert _cached(table)  # persisted again


def test_third_probe_scans_the_cache_in_two_jobs(spark, docs, tmp_path):
    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    _delete(spark, idx, docs)  # the live view reads through an anti-join
    _warm(spark, idx)

    def probe():
        df = query_bm25_index(spark, idx, _BM25_TERMS, top_k=_BM25_TOPK)
        return df, df.collect()

    (df, rows), jobs = _jobs(spark, probe)
    leaves = _leaves(df._jdf.queryExecution().executedPlan())
    assert rows and jobs <= 2, jobs
    assert "InMemoryTableScan" in leaves, leaves
    assert not [n for n in leaves if "parquet" in n.lower()], leaves


def test_concurrent_probes_admit_one_state(spark, docs, tmp_path, memo):
    """More probing threads than cores on one index state: every answer
    equals the plain one and exactly one scoring table is persisted (a
    lost update would admit, and leak, a second)."""
    import sys
    import threading

    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx)
    want = _rows(bm25_score_terms(*load_bm25_index(spark, idx), _BM25_TERMS, top_k=_BM25_TOPK))
    before = _persistent_rdds(spark)
    answers, errors = [], []

    def prober():
        try:
            for _ in range(3):
                answers.append(_probe(spark, idx))
        except Exception as e:  # noqa: BLE001 — reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=prober) for _ in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    assert answers == [want] * 24
    assert len(_persistent_rdds(spark) - before) == 1
    assert len(memo) == 1
