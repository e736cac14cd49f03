"""Spark-free tests of ``bench.py``: the one timing loop (``measure``) and
the round-over-round delta function (``_delta_fields``), driven with fake
thunks and synthetic records. ``main``/``_emit`` are never called here —
they start Spark and write a record next to ``bench.py``.
"""

from __future__ import annotations

import importlib.util
from types import SimpleNamespace

import pytest

from tests.conftest import REPO_ROOT


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location("bench", REPO_ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_best_of_n_runs_n_times_and_records_minimum(bench, monkeypatch):
    # each run advances the fake clock by the next duration
    durations = iter([3.0, 1.25, 2.0])
    clock = {"t": 0.0, "pending": 0.0}

    def perf_counter():
        clock["t"] += clock["pending"]
        clock["pending"] = 0.0
        return clock["t"]

    def thunk():
        calls.append(1)
        clock["pending"] = next(durations)

    calls: list[int] = []
    monkeypatch.setattr(bench, "time", SimpleNamespace(perf_counter=perf_counter))
    out = bench.measure([bench.Entry("q", thunk)], 3)
    assert len(calls) == 3
    assert out == {"q": 1.25}


def test_one_shot_runs_once(bench):
    calls: list[int] = []
    out = bench.measure([bench.Entry("build", lambda: calls.append(1), once=True)], 5)
    assert calls == [1]
    assert set(out) == {"build"}


def test_fresh_copy_gives_each_run_its_own_copy(bench, tmp_path):
    base = tmp_path / "idx"
    base.mkdir()
    (base / "rows").write_text("base\n")
    seen: list[tuple[str, str]] = []

    def append(d):
        rows = tmp_path / d / "rows"
        seen.append((d, rows.read_text()))
        rows.write_text(rows.read_text() + "appended\n")

    bench.measure([bench.Entry("append", append, fresh=str(base))], 3)
    assert [d for d, _ in seen] == [f"{base}_run{i}" for i in range(3)]
    assert all(text == "base\n" for _, text in seen)  # runs don't compound
    assert (base / "rows").read_text() == "base\n"  # base left untouched
    assert (tmp_path / "idx_run0" / "rows").read_text() == "base\nappended\n"


def test_entries_run_and_are_recorded_in_table_order(bench):
    order: list[str] = []
    after: list[str] = []
    names = ["z_build", "a_probe", "m_delete", "b_probe"]
    entries = [
        bench.Entry(n, lambda n=n: order.append(n), once=n.endswith("build"))
        for n in names
    ]
    out = bench.measure(entries, 2, after=lambda: after.append(order[-1]))
    assert list(out) == names
    assert order == ["z_build", "a_probe", "a_probe", "m_delete", "m_delete",
                     "b_probe", "b_probe"]
    assert after == names  # once per entry, after its last run


def _record(value, load, jvm, numpy, sf=0.1):
    return {
        "value": value,
        "sf": sf,
        "load_avg_1m": load,
        "queries": {"q01": value / 2, "q04": value / 2},
        "extended": {"crawl_probe": 1.0},
        "host_calibration": {"calib_jvm_sec": jvm, "calib_numpy_sec": numpy},
    }


def test_matched_loads_pick_the_jvm_probe(bench):
    cur = _record(11.0, 1.0, 1.1, 1.0)
    got = bench._delta_fields(cur, _record(10.0, 1.5, 1.0, 1.0))
    delta = got["delta_vs_prev"]
    assert delta["total_pct"] == 10.0
    assert delta["host_drift_pct"] == {"calib_jvm_sec": 10.0, "calib_numpy_sec": 0.0}
    assert delta["normalized_total_pct"] == 0.0
    assert delta["normalized_total_pct_numpy"] == 10.0
    assert got["headline_delta_basis"] == "normalized_jvm"
    assert got["headline_delta_pct"] == 0.0
    assert got["raw_total_pct"] == 10.0
    assert "all_normalized" not in got
    assert delta["queries_pct_normalized"] == {"q01": 0.0, "q04": 0.0}
    assert delta["queries_pct_normalized_basis"] == "normalized_jvm"


def test_loads_differing_by_more_than_two_pick_the_numpy_probe(bench):
    cur = _record(11.0, 4.0, 1.1, 1.0)
    got = bench._delta_fields(cur, _record(10.0, 1.5, 1.0, 1.0))
    assert got["headline_delta_basis"] == "normalized_numpy"
    assert got["headline_delta_pct"] == 10.0
    assert got["delta_vs_prev"]["queries_pct_normalized_basis"] == "normalized_numpy"


def test_probe_drifts_far_apart_dispute_the_basis(bench):
    cur = _record(13.0, 1.0, 1.0, 1.3)
    got = bench._delta_fields(cur, _record(10.0, 1.0, 1.0, 1.0))
    assert got["headline_delta_basis"] == "normalized_jvm_disputed"
    assert got["probe_disagreement_pct"] == 30.0
    assert got["all_normalized"] == {
        "normalized_total_pct": 30.0,
        "normalized_total_pct_numpy": 0.0,
    }
    delta = got["delta_vs_prev"]
    assert delta["queries_pct_normalized_basis"] == "normalized_jvm_disputed"


def test_different_sf_is_incomparable(bench):
    cur = _record(11.0, 1.0, 1.0, 1.0, sf=0.001)
    got = bench._delta_fields(cur, _record(10.0, 1.0, 1.0, 1.0))
    assert got["headline_delta_basis"] == "incomparable_sf"
    assert got["delta_vs_prev"]["same_sf"] is False
    assert set(got) == {"delta_vs_prev", "headline_delta_basis"}
