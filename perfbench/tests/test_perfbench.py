"""Tests for the benchmark's own logic (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib

import pytest

from perfbench import stats
from perfbench.datagen import NEW_KEY_BASE, IngestPlan, write_fixtures
from perfbench.probes import stamp_mismatch


# -- percentiles and the sample-count rule ------------------------------------


def test_min_samples_for_tail_percentiles():
    from perfbench.harness import TAIL_Q
    from perfbench.ingest_workload import ROUNDS
    from perfbench.query_workloads import ANALYTICS, LLM_DATA, passes_for

    # the fixed work of a run holds the samples its bounded tail needs:
    # every pass is a sample per query, every ingest commit adds a read
    assert stats.min_samples_for(TAIL_Q) == 40
    assert (passes_for(ANALYTICS), passes_for(LLM_DATA)) == (3, 7)
    assert stats.min_samples_for(TAIL_Q) <= 2 * ROUNDS * IngestPlan.MERGE_EVERY
    assert stats.min_samples_for(0.5) == 1
    assert stats.min_samples_for(0.8) == 50
    assert stats.min_samples_for(0.9) == 100
    assert stats.min_samples_for(0.99) == 1000


def test_p90_needs_one_hundred_samples():
    with pytest.raises(stats.InsufficientSamples):
        stats.quantile(list(range(99)), 0.9)
    assert stats.quantile_or_none(list(range(99)), 0.9) is None
    assert stats.quantile([float(v) for v in range(1, 101)], 0.9) == pytest.approx(90.1)


def test_median_is_always_reportable_and_interpolates():
    assert stats.median([3.0]) == 3.0
    assert stats.median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(stats.InsufficientSamples):
        stats.median([])


# -- tracing overhead ------------------------------------------------------------


def test_matched_rates_compare_the_same_mix():
    busy = {
        ("append", True): [0.3, 0.3],
        ("append", False): [0.2, 0.2],
        ("merge", True): [2.0],
        ("merge", False): [1.0],
        ("vacuum", True): [9.0],  # one side only: left out
    }
    traced, untraced = stats.matched_rates(busy)
    # 6 operations: 4 appends and 2 merges at each side's mean latency
    assert traced == pytest.approx(6 / (4 * 0.3 + 2 * 2.0))
    assert untraced == pytest.approx(6 / (4 * 0.2 + 2 * 1.0))
    assert stats.matched_rates({("q1", False): [1.0]}) == (0.0, 0.0)


# -- failed / attempted accounting ---------------------------------------------


def test_oplog_counts_failures_against_attempts():
    log = stats.OpLog()
    log.record("append", 0.2, ok=True)
    log.record("append", 0.3, ok=True)
    log.record("snapshot", 9.9, ok=False, error="wrong count")
    log.check("verify:q1", None)
    log.check("verify:final_snapshot", "2 rows missing")
    assert log.total_attempted == 5
    assert log.total_failed == 2
    assert log.failed_ratio == 0.4
    # failed operations and checks contribute no latency sample
    assert log.all_latencies() == [0.2, 0.3]
    assert log.errors == ["snapshot: wrong count", "verify:final_snapshot: 2 rows missing"]


def test_failed_ratio_of_nothing_is_zero():
    assert stats.OpLog().failed_ratio == 0.0


# -- storage arithmetic ---------------------------------------------------------


def test_skip_ratio_and_write_amp():
    assert stats.skip_ratio(3, 12) == 0.75
    assert stats.skip_ratio(12, 12) == 0.0
    assert stats.skip_ratio(0, 0) == 0.0
    assert stats.write_amp(300, 100) == 3.0
    assert stats.write_amp(300, 0) == 0.0


# -- spans and self time --------------------------------------------------------


class FakeClock:
    def __init__(self, ticks):
        self.ticks = iter(ticks)

    def __call__(self):
        return next(self.ticks)


def test_self_time_subtracts_children():
    # op [0, 10] > build [1, 4] > load [2, 3]; op > exec [5, 9]
    tr = stats.Tracer(True, clock=FakeClock([0, 1, 2, 3, 4, 5, 9, 10]))
    tr.op_id = 7
    with tr.span("bench", "op"):
        with tr.span("queries", "build"):
            with tr.span("session", "load"):
                pass
        with tr.span("lakehouse", "exec"):
            pass
    self_t = stats.self_times(tr.spans)
    assert self_t == {"bench": 3, "queries": 2, "session": 1, "lakehouse": 4}
    assert sum(self_t.values()) == 10  # self times partition the root span
    assert {s.op_id for s in tr.spans} == {7}


def test_self_time_counts_overlapping_children_once():
    root = stats.Span(0, None, "bench", "op", 1, 0.0, 10.0)
    a = stats.Span(1, 0, "queries", "a", 1, 1.0, 5.0)
    b = stats.Span(2, 0, "queries", "b", 1, 4.0, 12.0)  # overlaps a, ends past root
    assert stats.self_times([root, a, b])["bench"] == pytest.approx(1.0)


def test_self_time_filters_by_operation():
    setup = stats.Span(0, None, "session", "get_spark", None, 0.0, 2.0)
    op = stats.Span(1, None, "bench", "op", 3, 2.0, 3.0)
    assert stats.self_times([setup, op], in_ops=True) == {"bench": 1.0}
    assert stats.self_times([setup, op], in_ops=False) == {"session": 2.0}


def test_disabled_tracer_records_nothing():
    tr = stats.Tracer(False)
    with tr.span("bench", "op"):
        pass
    assert tr.spans == []


# -- stamps ---------------------------------------------------------------------


def test_stamp_mismatch_ignores_seed_and_commit():
    a = {"nproc": 4, "local_n": 4, "sf": 0.01, "seed": 1, "commit": "x", "traced": False}
    assert stamp_mismatch(a, {**a, "seed": 2, "commit": "y"}) == []
    assert stamp_mismatch(a, {**a, "nproc": 8, "traced": True}) == ["nproc", "traced"]


# -- seeded inputs ----------------------------------------------------------------


def _digest(d):
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest() for p in sorted(d.iterdir())}


def test_fixtures_are_a_function_of_the_seed(tmp_path):
    write_fixtures(tmp_path / "a", 0.001, seed=5)
    write_fixtures(tmp_path / "b", 0.001, seed=5)
    write_fixtures(tmp_path / "c", 0.001, seed=6)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert len(_digest(tmp_path / "a")) == 10


def test_ingest_plan_schedule_and_model(tmp_path):
    from perfbench.ingest_workload import Model

    plan = IngestPlan(tmp_path / "s", seed=3, base_rows=100, batch_rows=10,
                      merge_rows=8, max_commits=20)
    kinds = [c.kind for c in plan.commits]
    assert kinds[0] == "base" and kinds[10] == kinds[20] == "merge"
    assert kinds.count("append") == 18
    assert _digest(plan.stage) == _digest(
        IngestPlan(tmp_path / "t", 3, 100, 10, 8, 20).stage)

    # the model against a brute-force last-writer-wins replay
    import pyarrow.parquet as pq

    model, replay = Model(plan), {}
    for c in plan.commits:
        model.apply(c.path)
        t = pq.read_table(c.path).to_pydict()
        assert len(set(t["key"])) == len(t["key"])  # merge sources have unique keys
        replay.update(zip(t["key"], t["seq"]))
    assert model.expect() == (len(replay), sum(replay.values()), sum(replay))
    assert any(k >= NEW_KEY_BASE for k in replay)  # upserts insert, too
    lo, hi = 50, 120
    inside = {k: s for k, s in replay.items() if lo <= k <= hi}
    assert model.expect_range(lo, hi) == (len(inside), sum(inside.values()), sum(inside))
