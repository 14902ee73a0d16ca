"""get_spark sizes the local session from the machine when the
environment names no core count or heap."""

import os
from types import SimpleNamespace

from datacontract_cli_spark import session


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the conf, starts no JVM."""

    def __init__(self):
        self.conf = {}

    def master(self, master):
        self.conf["master"] = master
        return self

    def appName(self, _name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None))


def _session_conf(monkeypatch, **kwargs):
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=builder))
    session.get_spark(**kwargs)
    return builder.conf


def test_defaults_from_machine_without_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    cores = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20

    conf = _session_conf(monkeypatch)
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)
    heap_mb = int(conf["spark.driver.memory"].removesuffix("m"))
    assert heap_mb == max(1024, min(16 * 1024, phys_mb // 4))

    # a master without a core count takes its partitions from the machine
    conf = _session_conf(monkeypatch, master="local[*]")
    assert conf["spark.sql.shuffle.partitions"] == str(cores)


def test_env_overrides_machine_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    conf = _session_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "2g"
