from __future__ import annotations

import json
import os
import re

from perfbench import spec
from perfbench.run import RUN_SECONDS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_every_workload_query_is_registered():
    from candia_spark.plans.queries import QUERY_REGISTRY

    named = [q for w in spec.WORKLOADS for q in w.queries]
    assert named, "no query workload"
    assert [q for q in named if q not in QUERY_REGISTRY] == []


def test_every_wrapped_operator_exists():
    import importlib

    for mod, attr, _label in spec.OPERATORS:
        assert callable(getattr(importlib.import_module(mod), attr))


def test_benchmark_json_is_rendered_from_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        assert json.load(f) == spec.benchmark_json(RUN_SECONDS)


def test_metric_names_and_units_are_well_formed():
    metrics = [*spec.END_TO_END, *spec.PER_LAYER]
    names = [m.name for m in metrics]
    assert len(names) == len(set(names))
    assert len(spec.PER_LAYER) <= 128
    for m in metrics:
        assert NAME.match(m.name), m.name
        assert UNIT.match(m.unit), m.unit
        assert m.better in ("lower", "higher")
    assert any(m.name == "setup_s" and m.unit == "s" and m.better == "lower" for m in spec.END_TO_END)
    assert all(0 < m.bound <= 0.25 for m in spec.END_TO_END)
