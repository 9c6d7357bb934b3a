"""BENCHMARK.json names what the runs print: every workload exists, every
end-to-end metric is reported by an untraced run and every per-layer
metric by a traced run, with the same units."""

import json
import os

from cdcbench.bench import END_TO_END
from cdcbench.layers import TARGETS
from cdcbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_workloads_exist():
    assert {w["name"] for w in _bench()["workloads"]} <= set(WORKLOADS)


def test_end_to_end_metrics_match_the_untraced_result():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_per_layer_metrics_match_the_traced_result():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == {
        k: unit for k, (unit, _, _) in TARGETS.items()}
    driven = {w["name"] for w in b["workloads"]}
    for name, (_, target, workloads) in TARGETS.items():
        assert target in END_TO_END, name
        assert set(workloads) <= driven, name
