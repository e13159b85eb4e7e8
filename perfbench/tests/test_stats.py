"""Percentiles come with their sample counts; the latency join reads a
tick's latency from the write time of its sink file."""

import pytest

from perfbench import stats


def test_percentile_interpolates_like_numpy():
    xs = [float(i) for i in range(1, 11)]
    assert stats.percentile(xs, 50.0) == 5.5
    assert stats.percentile(xs, 90.0) == pytest.approx(9.1)
    assert stats.percentile([3.0], 99.0) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50.0)


def test_tail_needs_ten_samples_beyond_it():
    assert stats.highest_supported(19) is None
    assert stats.highest_supported(100) == 90.0
    assert stats.highest_supported(999) == 90.0
    assert stats.highest_supported(1_000) == 99.0
    assert stats.highest_supported(10_000) == 99.9


def test_summary_reports_sample_count():
    s = stats.summarize([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5 and s["tail_p"] == 90.0
    assert "tail" not in stats.summarize([1.0, 2.0, 3.0])
    assert stats.fmt_timing("x", "ms", [1.0, 2.0, 3.0]) == "x: p50=2 ms (n=3)"
    line = stats.fmt_timing("y", "s", [float(i) for i in range(200)])
    assert line.endswith("(n=200)") and "p90=" in line


def test_latency_join_uses_file_write_time_and_due_time():
    rows = [("A", 1_000, "f1"), ("B", 2_000, "f1"), ("A", 3_000, "f2"),
            ("Z", 9_999, "f2"), ("A", 1_000, "f2")]
    written_ms = {"f1": 5_000.0, "f2": 7_500.0}
    due = {("A", 1_000): 1_000, ("B", 2_000): 2_000, ("A", 3_000): 3_000}
    lat = stats.tick_latencies_ms(rows, written_ms, due)
    # a tick the generator never sent is skipped; a tick written twice
    # counts from its first write
    assert lat == {("A", 1_000): 4_000.0, ("B", 2_000): 3_000.0, ("A", 3_000): 4_500.0}


def test_round_medians_group_ticks_by_the_round_that_wrote_them():
    lat = {("A", 1): 10.0, ("B", 2): 30.0, ("C", 3): 20.0, ("A", 4): 5.0, ("B", 5): 7.0}
    round_of = {("A", 1): 0, ("B", 2): 0, ("C", 3): 0, ("A", 4): 1, ("B", 5): 1}
    assert stats.round_medians_ms(lat, round_of) == [20.0, 6.0]
