"""Metric names are well formed and match what BENCHMARK.json declares."""

import json
import os
import re

import pytest

from perfbench import metrics
from perfbench.run import parse_args

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("table", [metrics.END_TO_END, metrics.PER_LAYER])
def test_names_and_units_well_formed(table):
    for name, unit in table.items():
        assert NAME.fullmatch(name), name
        assert UNIT.fullmatch(unit), unit


def test_declared_metrics_match_emitted():
    spec = _declared()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


def test_declared_workloads_are_runnable():
    for w in _declared()["workloads"]:
        args = parse_args(["--workload", w["name"], "--seed", "1", "--seconds", "1"])
        assert args.workload == w["name"]


def test_report_refuses_unmeasured_metric():
    values = dict.fromkeys(metrics.END_TO_END, 1.0)
    assert set(metrics.report(values, metrics.END_TO_END)) == set(metrics.END_TO_END)
    del values["job_s"]
    with pytest.raises(KeyError):
        metrics.report(values, metrics.END_TO_END)
