"""Session defaults: the local master never runs more threads than the
process has cores unless asked to."""

import os

from deepseek_ocr_spark.pipeline.session import default_cpus


def test_default_cpus_follows_affinity_when_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_default_cpus_empty_env_is_unset(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_cpus() == len(os.sched_getaffinity(0))


def test_default_cpus_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
