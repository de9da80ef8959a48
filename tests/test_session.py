"""``session.get_spark`` sizes ``local[N]`` and the shuffle partitions
from one read of ``$SPARK_GRAFT_CPUS`` made at call time."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from markt_database_analyzer_spark import session


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the configuration
    instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def master(self, url):
        self.conf["master"] = url
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))


@pytest.fixture
def conf(monkeypatch):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    return builder.conf


@pytest.mark.parametrize("env, cpus", [("3", 3), (None, len(os.sched_getaffinity(0)))])
def test_cpus_read_at_call_time_size_master_and_partitions_alike(conf, monkeypatch, env, cpus):
    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", env)
    session.get_spark()
    assert conf["master"] == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cpus)
