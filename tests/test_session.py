"""``session.get_spark`` sizes ``local[N]`` and the shuffle partitions
from one read of ``$SPARK_GRAFT_CPUS`` made at call time, the driver
heap from ``$SPARK_GRAFT_DRIVER_MEM`` or, unset, from the host's memory,
and applies the engine confs of ``sources.readers.ensure_engine_conf``."""

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
        return SimpleNamespace(
            conf=SimpleNamespace(set=self.conf.__setitem__, get=self.conf.get),
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
        )


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


@pytest.fixture
def meminfo(monkeypatch, tmp_path):
    """Points ``session`` at a fake ``/proc/meminfo``; returns a writer."""
    path = tmp_path / "meminfo"
    monkeypatch.setattr(session, "MEMINFO", str(path))
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def write(total_kb: int) -> None:
        path.write_text(f"MemTotal:       {total_kb} kB\nMemFree:         1024 kB\n")

    return write


@pytest.mark.parametrize(
    "total_kb, heap",
    [
        (15 * 1024 * 1024, "7680m"),  # 15 GB host: half
        (4 * 1024 * 1024, "2048m"),
        (64 * 1024 * 1024, "16384m"),  # capped at 16g
    ],
)
def test_driver_heap_defaults_to_half_the_host(conf, meminfo, total_kb, heap):
    meminfo(total_kb)
    session.get_spark()
    assert conf["spark.driver.memory"] == heap


def test_driver_heap_read_at_call_time(conf, meminfo):
    meminfo(4 * 1024 * 1024)
    session.get_spark()
    meminfo(8 * 1024 * 1024)
    session.get_spark()
    assert conf["spark.driver.memory"] == "4096m"


def test_driver_heap_env_overrides_host(conf, meminfo, monkeypatch):
    meminfo(4 * 1024 * 1024)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    session.get_spark()
    assert conf["spark.driver.memory"] == "1g"


def test_engine_confs_set_before_any_read(spark):
    """A session from ``get_spark`` carries every engine conf of
    ``ensure_engine_conf`` before its first ``read_table``, including
    ``inferTimestampNTZ`` off."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.unset(key)  # as on a session no read has touched yet
    assert spark.conf.get(key) == "true"
    fresh = session.get_spark(app_name="mda-tests", extra_conf={"spark.ui.enabled": "false"})
    assert fresh.conf.get(key) == "false"
    assert fresh.conf.get("spark.sql.session.timeZone") == "UTC"
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert "InferFiltersFromGenerate" in fresh.conf.get("spark.sql.optimizer.excludedRules")
