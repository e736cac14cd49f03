"""The one parquet reader (``pyspark_streaming_base_spark/parquet.py``):
a table's schema is inferred once per file listing and declared on every
later read, reads never change the session conf, and no other module in
the package reads parquet around it."""

from __future__ import annotations

import importlib.util
import io
import itertools
import os
import tokenize

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark_streaming_base_spark import parquet
from pyspark_streaming_base_spark.operators.bm25 import (
    build_bm25_index,
    query_bm25_index,
)
from pyspark_streaming_base_spark.parquet import NANOS_AS_LONG, read_parquet
from pyspark_streaming_base_spark.queries import load_all
from pyspark_streaming_base_spark.queries._tables import TABLES, t
from tests.conftest import REPO_ROOT, SF_SMALL

PACKAGE = REPO_ROOT / "pyspark_streaming_base_spark"
_GROUPS = itertools.count()


def _headline():
    spec = importlib.util.spec_from_file_location("bench", REPO_ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.HEADLINE


def _conf(spark) -> dict:
    return dict(spark.conf.getAll)


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"memo-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# -- the guard: no inferred read outside the memo module --------------------


def _bare_reads(source: str) -> list:
    """Line numbers of ``<x>.read.parquet(`` in code (not in comments or
    docstrings)."""
    toks = [
        tok
        for tok in tokenize.generate_tokens(io.StringIO(source).readline)
        if tok.type in (tokenize.NAME, tokenize.OP)
    ]
    words = [tok.string for tok in toks]
    return [
        toks[i].start[0]
        for i in range(len(toks) - 3)
        if words[i : i + 4] == ["read", ".", "parquet", "("]
    ]


def test_no_parquet_read_bypasses_the_memo():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "parquet.py":
            continue
        source = path.read_text(encoding="utf-8")
        offenders += [f"{path.relative_to(REPO_ROOT)}:{n}" for n in _bare_reads(source)]
        if NANOS_AS_LONG in source or "nanosAsLong" in source:
            offenders.append(f"{path.relative_to(REPO_ROOT)}: sets {NANOS_AS_LONG}")
    assert offenders == [], "read parquet through parquet.read_parquet: " + ", ".join(
        offenders
    )


def test_bare_read_detector_sees_code_not_prose():
    assert _bare_reads("df = spark.read.parquet(p)\n") == [1]
    assert _bare_reads("x = 1\ndf = self.spark.read.parquet(*ps)\n") == [2]
    assert _bare_reads('"""spark.read.parquet(p)"""\n# spark.read.parquet(p)\n') == []
    assert _bare_reads("df = spark.read.schema(s).parquet(p)\n") == []


# -- reads leave the session as they found it -------------------------------


@pytest.mark.parametrize("name", TABLES)
def test_table_read_leaves_conf_unchanged(spark, name):
    before = _conf(spark)
    t(spark, SF_SMALL, name).schema
    assert _conf(spark) == before


HEADLINE = _headline()


@pytest.mark.parametrize("name", HEADLINE)
def test_headline_query_memo_cold_and_warm_agree(spark, name):
    """First collect infers every table (memo cleared), second declares
    them: same rows, and neither leaves the session conf changed."""
    fn = load_all()[name].fn
    parquet._memo.clear()
    before = _conf(spark)
    cold = sorted(map(tuple, fn(spark, SF_SMALL).collect()), key=repr)
    assert _conf(spark) == before
    warm = sorted(map(tuple, fn(spark, SF_SMALL).collect()), key=repr)
    assert _conf(spark) == before
    assert warm == cold
    spark.catalog.clearCache()


def test_nanos_events_read_without_session_conf(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``events.ts`` reads through ``t()`` as
    microseconds (integer nanos div 1000), inferred then declared, with
    the legacy nanos conf never left set."""
    nanos = [1_700_000_000_123_456_789, 1_700_000_000_987_654_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
    )
    assert "timeUnit=nanoseconds" in str(pq.read_metadata(tmp_path / "events.parquet").schema)
    assert NANOS_AS_LONG not in _conf(spark)
    for _ in range(2):  # first read infers, second declares
        df = t(spark, str(tmp_path), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = [
            r["us"]
            for r in df.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()
        ]
        assert got == [n // 1000 for n in nanos]
        assert NANOS_AS_LONG not in _conf(spark)


def test_inference_restores_a_conf_the_caller_set(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    spark.conf.set(NANOS_AS_LONG, "false")
    try:
        read_parquet(spark, path)
        assert spark.conf.get(NANOS_AS_LONG) == "false"
    finally:
        spark.conf.unset(NANOS_AS_LONG)


# -- memo correctness -------------------------------------------------------


def test_declared_read_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    _, inferred = _jobs(spark, lambda: read_parquet(spark, path))
    df, declared = _jobs(spark, lambda: read_parquet(spark, path))
    assert (inferred, declared) == (1, 0)
    assert sorted(r.id for r in df.collect()) == list(range(5))


def test_overwrite_at_same_path_reads_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k int, v string").write.parquet(path)
    assert read_parquet(spark, path).columns == ["k", "v"]
    assert read_parquet(spark, path).columns == ["k", "v"]  # memo hit
    spark.createDataFrame([(2.5, 7)], "x double, y bigint").write.mode(
        "overwrite"
    ).parquet(path)
    df = read_parquet(spark, path)
    assert df.dtypes == [("x", "double"), ("y", "bigint")]
    assert [tuple(r) for r in df.collect()] == [(2.5, 7)]


def test_append_at_same_path_is_read_in_full(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(2).write.parquet(path)
    assert read_parquet(spark, path).count() == 2
    spark.range(2, 5).write.mode("append").parquet(path)
    assert sorted(r.id for r in read_parquet(spark, path).collect()) == list(range(5))


def test_missing_table_still_raises(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        read_parquet(spark, str(tmp_path / "absent"))


def test_bm25_rebuild_at_same_path_answers_from_new_corpus(spark, tmp_path):
    path = str(tmp_path / "idx")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    build_bm25_index(docs([(1, "apple banana"), (2, "apple cherry")]), path)
    first = query_bm25_index(spark, path, ["apple"], top_k=10).collect()
    assert sorted(r["doc_id"] for r in first) == [1, 2]
    build_bm25_index(docs([(7, "apple durian"), (8, "elder fig"), (9, "grape")]), path)
    second = query_bm25_index(spark, path, ["apple"], top_k=10).collect()
    assert [r["doc_id"] for r in second] == [7]
    assert query_bm25_index(spark, path, ["banana"], top_k=10).collect() == []


def test_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(parquet, "MEMO_PATHS", 2)
    monkeypatch.setattr(parquet, "_memo", {})
    paths = [str(tmp_path / f"t{i}") for i in range(3)]
    for p in paths:
        spark.range(1).write.parquet(p)
        read_parquet(spark, p)
    assert list(parquet._memo) == [os.path.abspath(p) for p in paths[1:]]


def test_concurrent_reads_restore_conf_and_keep_every_entry(spark, tmp_path):
    """More reader threads than cores, inferring and hitting at once:
    every read sees its own table, the scoped conf is never left set and
    no memo entry is lost."""
    import sys
    import threading

    paths = [str(tmp_path / f"t{i}") for i in range(8)]
    for i, p in enumerate(paths):
        spark.range(i + 1).write.parquet(p)
    parquet._memo.clear()
    errors = []

    def reader(p, n):
        try:
            for _ in range(3):
                assert read_parquet(spark, p).count() == n
        except Exception as e:  # noqa: BLE001 — reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=reader, args=(p, i + 1))
            for i, p in enumerate(paths)
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert NANOS_AS_LONG not in _conf(spark)
    assert set(parquet._memo) == {os.path.abspath(p) for p in paths}
