"""BENCHMARK.json names exactly the metrics the benchmark prints."""

import json
import os

from perfbench import report
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_metric_lists_match_the_report():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == report.PER_LAYER
    assert tuple(w["name"] for w in bench["workloads"]) == WORKLOADS
