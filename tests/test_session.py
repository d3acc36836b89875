"""The session factory's core count: one reading of $SPARK_GRAFT_CPUS,
at call time, sizing both the master and the shuffle partitions.
Pure Python: the builder is replaced, no JVM starts."""

from __future__ import annotations

import os

from parlerproject_spark import session


class _Builder:
    """Records what get_spark asks of SparkSession.builder."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _conf(monkeypatch) -> dict:
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    return session.get_spark("t")


def test_core_count_with_the_variable_set_and_unset(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _conf(monkeypatch)
    assert session.local_cores() == 3
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"

    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    cores = len(os.sched_getaffinity(0))
    conf = _conf(monkeypatch)
    assert session.local_cores() == cores
    assert conf["master"] == f"local[{cores}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cores)

    # an explicit override still wins over the default
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    conf = session.get_spark("t", **{"spark.sql.shuffle.partitions": "7"})
    assert conf["spark.sql.shuffle.partitions"] == "7"
