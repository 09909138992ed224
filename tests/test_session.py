"""Session factory knobs that need no running session."""

from __future__ import annotations

import os

import pytest

from pgcdc_spark.session import _cpus


@pytest.mark.parametrize("value", [None, "", "lots", "0", "-4"])
def test_cpus_defaults_to_machine_when_unset_or_invalid(monkeypatch, value):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert _cpus() == os.cpu_count()


def test_cpus_reads_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _cpus() == 3
