"""Host sizing of ``session.build_session``, checked without starting Spark:
the session builder is replaced by a recorder of the conf it is given."""

import os

import pytest

from runne_contrastive_ner_spark import session

GIB = 1 << 30


class _RecordingBuilder:
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


@pytest.fixture()
def built(monkeypatch):
    class FakeSession:
        builder = _RecordingBuilder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    return lambda **kw: session.build_session(**kw)


@pytest.mark.parametrize(
    "total, want",
    [
        (512 << 20, 1),  # below 4 GiB: never under 1 GiB
        (4 * GIB, 1),
        (16 * GIB, 4),
        (15 * GIB + (600 << 20), 3),  # a "16 GB" host reports a little less
        (32 * GIB, 8),
        (256 * GIB, 8),  # capped: local mode gains nothing from a huge heap
    ],
)
def test_driver_memory_is_a_quarter_of_ram_clamped(total, want):
    assert session.default_driver_memory_gb(total) == want


def test_default_cpus_follow_affinity():
    assert session.default_cpus() == len(os.sched_getaffinity(0)) >= 1


def test_defaults_fit_the_host(built):
    conf = built()
    n = session.default_cpus()
    assert conf["master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(n)
    gb = session.default_driver_memory_gb()
    assert conf["spark.driver.memory"] == f"{gb}g"
    assert 1 <= gb <= 8


def test_env_overrides_win(built, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "5g")
    conf = built()
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "5g"
