"""The tick_stream output check tolerates only the recorded seed
defect, and the analytics latency is a geometric mean."""

import pytest

from perfbench import report

CLEAN = {"history": 0, "realtime": 0, "scored": 0, "predicted_close": 0}


def test_seed_defect_alone_passes():
    # the dedup defect keeps one of any number of malformed lines
    assert report.tick_check_passes(CLEAN, dlq_rows=1, malformed=70)
    assert report.tick_check_passes(CLEAN, dlq_rows=70, malformed=70)
    assert report.tick_check_passes(CLEAN, dlq_rows=0, malformed=0)


def test_worse_than_the_seed_fails():
    # every malformed line lost, or the DLQ not written at all
    assert not report.tick_check_passes(CLEAN, dlq_rows=0, malformed=70)
    # more DLQ rows than malformed lines sent
    assert not report.tick_check_passes(CLEAN, dlq_rows=71, malformed=70)
    # any tick missing or wrong in a sink
    assert not report.tick_check_passes({**CLEAN, "scored": 1}, dlq_rows=1, malformed=70)


def test_geomean():
    assert report.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert report.geomean([5.0]) == pytest.approx(5.0)
