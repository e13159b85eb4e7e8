"""``tools/perfbench_ab.py::summary`` on synthetic runs (no Spark): the
gain rule, the median ratio against each metric's bound, and the
"unresolved" verdict when the parent's own spread is wider than the
bound."""

from __future__ import annotations

import importlib.util
import os

_TOOL = os.path.join(os.path.dirname(__file__), os.pardir, "tools", "perfbench_ab.py")
_spec = importlib.util.spec_from_file_location("perfbench_ab", _TOOL)
perfbench_ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(perfbench_ab)

METRIC = {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}


def _runs(parent: list[float], change: list[float]) -> dict[str, list[dict]]:
    def side(values):
        return [
            {"seed": 900 + i, "failed": 1, "attempted": 100, "correct": True,
             "metrics": {"setup_s": {"value": v}}}
            for i, v in enumerate(values)
        ]
    return {"parent": side(parent), "change": side(change)}


def _line(parent, change, metric=METRIC) -> str:
    return perfbench_ab.summary([metric], _runs(parent, change))[0]


def test_claimable_gain_within_bound():
    parent = [2.4, 2.5, 2.5, 2.6, 2.5, 2.4, 2.6, 2.5, 2.5, 2.5]
    change = [v - 0.4 for v in parent]
    line = _line(parent, change)
    assert "change wins 10/10" in line
    assert "gain claimable: yes" in line
    assert "median ratio 0.840, bound 0.25: within bound" in line


def test_nine_of_ten_wins_is_enough_but_eight_is_not():
    parent = [2.5] * 10
    nine = [2.0] * 9 + [2.6]
    eight = [2.0] * 8 + [2.6, 2.6]
    assert "gain claimable: yes" in _line(parent, nine)
    assert "gain claimable: no" in _line(parent, eight)


def test_worse_than_bound():
    parent = [1.0, 1.0, 1.02, 0.98]
    change = [1.3, 1.3, 1.32, 1.28]
    line = _line(parent, change)
    assert "median ratio 1.300" in line
    assert line.endswith("worse than bound")
    assert "gain claimable: no" in line


def test_unresolved_when_parent_spread_exceeds_bound():
    # parent quartiles 1.0 and 1.5 on a median of 1.25: IQR/median 0.4
    parent = [0.5, 1.0, 1.0, 1.5, 1.5, 2.0]
    line = _line(parent, [1.2] * 6)
    assert line.endswith("unresolved (parent IQR/median 0.400)")
    # a wide parent spread is resolved when every change run is better
    line = _line(parent, [0.4] * 6)
    assert line.endswith("within bound")


def test_higher_is_better_metric():
    metric = dict(METRIC, better="higher")
    parent = [100.0] * 10
    line = _line(parent, [130.0] * 10, metric)
    assert "change wins 10/10" in line and line.endswith("within bound")
    assert _line(parent, [70.0] * 10, metric).endswith("worse than bound")


def test_failed_counts_by_seed():
    lines = perfbench_ab.summary([METRIC], _runs([1.0, 1.0], [1.0, 1.0]))
    assert lines[1:] == [
        "parent failed by seed: 900:1/100, 901:1/100; all correct: True",
        "change failed by seed: 900:1/100, 901:1/100; all correct: True",
    ]
