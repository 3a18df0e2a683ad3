"""Host-fit defaults of the SparkSession factory."""

import os

from data_drift_monitoring_spark.session import local_cores


def test_local_cores_defaults_to_affinity_mask(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == str(len(os.sched_getaffinity(0)))


def test_local_cores_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == "3"

