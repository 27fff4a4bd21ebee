"""Session defaults follow the cores this process may run on."""

import os
import types

from satellitetools_spark import session


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the settings
    ``get_spark`` applies instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def test_default_cpus_follow_affinity_when_env_unset(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session, "SparkSession",
                        types.SimpleNamespace(builder=_RecordingBuilder()))
    conf = session.get_spark()
    n = len(os.sched_getaffinity(0))
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(min(64, 2 * n))
