"""``SPARK_GRAFT_CPUS`` is read in one place, and a malformed value falls
back to the host's core count instead of raising."""

from __future__ import annotations

import os

import pytest

from metadata_driven_etl_spark.session import local_cpus


@pytest.mark.parametrize("value", ["", "four", "2.5", "0", "-3"])
def test_malformed_cpus_fall_back_to_the_host(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    assert local_cpus() == (os.cpu_count() or 8)


def test_cpus_from_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 3 ")
    assert local_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert local_cpus() == (os.cpu_count() or 8)
