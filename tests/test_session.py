"""Session defaults that do not need a running session."""

from __future__ import annotations

import os

import pytest

from candia_spark.session import default_shuffle_partitions


@pytest.mark.parametrize("value", ["8", "1"])
def test_shuffle_partitions_follow_numeric_graft_cpus(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert default_shuffle_partitions() == int(value)


@pytest.mark.parametrize("value", [None, "*", "", "0", "4x"])
def test_shuffle_partitions_fall_back_to_machine_cores(monkeypatch, value):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    monkeypatch.setattr(os, "cpu_count", lambda: 13)
    assert default_shuffle_partitions() == 13
    monkeypatch.setattr(os, "cpu_count", lambda: None)
    assert default_shuffle_partitions() == 32
