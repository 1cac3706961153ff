"""The benchmark's own arithmetic (run: python3 -m pytest perfbench/tests -q)."""

from __future__ import annotations

import pytest

from perfbench import stats


# -- tail percentile: at least ten samples beyond the reported point ---------


def test_tail_reports_the_value_with_exactly_ten_beyond():
    values = list(range(1, 101))  # 1..100
    value, pct = stats.tail(values)
    assert value == 90 and pct == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_of_twenty_is_the_median_rank():
    value, pct = stats.tail([float(v) for v in range(20, 0, -1)])  # unsorted input
    assert value == 10.0 and pct == 50.0


def test_tail_smallest_supported_sample():
    value, pct = stats.tail(list(range(11)))
    assert value == 0 and pct == pytest.approx(100 / 11)


@pytest.mark.parametrize("n", [1, 5, 10])
def test_tail_without_enough_samples_falls_back_to_max(n):
    assert stats.tail(list(range(n))) == (n - 1, 100.0)


def test_tail_and_median_reject_empty():
    with pytest.raises(ValueError):
        stats.tail([])
    with pytest.raises(ValueError):
        stats.median([])


# -- prefix-delta self time ---------------------------------------------------


def test_prefix_self_times_are_deltas_of_cumulative_passes():
    got = stats.prefix_self_times(
        [("scan", 1.0), ("parse", 3.0), ("enrich", 3.5), ("write", 7.5)]
    )
    assert got == pytest.approx({"scan": 1.0, "parse": 2.0, "enrich": 0.5, "write": 4.0})


def test_prefix_self_times_keep_negative_noise_and_sum_to_last_pass():
    passes = [("scan", 1.0), ("parse", 2.0), ("route", 1.9), ("commit", 5.0)]
    got = stats.prefix_self_times(passes)
    assert got["route"] == pytest.approx(-0.1)
    assert sum(got.values()) == pytest.approx(5.0)


def test_prefix_self_times_reject_duplicate_layers():
    with pytest.raises(ValueError):
        stats.prefix_self_times([("scan", 1.0), ("scan", 2.0)])


def test_span_self_time_subtracts_covered_child_interval_once():
    # children overlap on [2, 3] and one sticks out past the parent's end
    assert stats.span_self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == 6.0
    assert stats.span_self_time((0.0, 10.0), []) == 10.0


# -- failure accounting -------------------------------------------------------


def test_ledger_counts_every_operation_once():
    led = stats.Ledger()
    assert led.record(True)
    assert not led.record(False, "check failed")
    assert not led.record(False)
    assert (led.attempted, led.failed) == (3, 2)
    assert led.failed_frac == pytest.approx(2 / 3)
    assert led.reasons == ["check failed", "failed"]


def test_ledger_with_nothing_attempted_reads_as_all_failed():
    assert stats.Ledger().failed_frac == 1.0


# -- stream file → batch mapping ----------------------------------------------


def test_file_batches_reduce_uris_and_keep_the_earliest_batch():
    entries = [
        {"path": "file:///w/in/slice-003.parquet", "batchId": 2},
        {"path": "file:///w/in/slice-001.parquet", "batchId": 0},
        {"path": "file:///w/in/slice-003.parquet", "batchId": 1},
    ]
    assert stats.file_batches(entries) == {"slice-001.parquet": 0, "slice-003.parquet": 1}


def test_file_latencies_from_landing_time_and_missing_files():
    landed = {"a": 100.0, "b": 100.4, "c": 100.8, "d": 101.2}
    batch_of = {"a": 1, "b": 1, "c": 2}  # d was never read
    committed = {1: 103.0}  # batch 2 never committed
    lat, missing = stats.file_latencies(landed, batch_of, committed)
    assert lat == pytest.approx({"a": 3.0, "b": 2.6})
    assert missing == ["c", "d"]

