"""Session factory defaults: the core count and a launcher's master."""

import os

from uk_ner_presidio_demo_spark import session


def test_default_cores_is_the_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.default_cores() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.default_cores() == 3


def test_plain_python_has_no_launcher_conf(monkeypatch):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert session.launcher_conf() == {}


class _Builder:
    """Records the conf get_spark hands the session builder."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _built_conf(monkeypatch, launcher, **kwargs):
    monkeypatch.setattr(session.SparkSession, "builder", _Builder())
    monkeypatch.setattr(session, "launcher_conf", lambda: launcher)
    return session.get_spark(**kwargs)


def test_local_master_defaults_to_the_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    conf = _built_conf(monkeypatch, {})
    n = len(os.sched_getaffinity(0))
    assert conf["spark.master"] == f"local[{n}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(n, 8))


def test_launcher_master_passes_through(monkeypatch):
    """Under spark-submit the launcher's master and confs stand; the
    engine's other defaults still apply, and extra_conf wins over both."""
    conf = _built_conf(
        monkeypatch,
        {"spark.master": "spark://head:7077",
         "spark.sql.shuffle.partitions": "400"},
        extra_conf={"spark.ui.enabled": "true"})
    assert "spark.master" not in conf
    assert "spark.sql.shuffle.partitions" not in conf
    assert conf["spark.serializer"] == (
        "org.apache.spark.serializer.KryoSerializer")
    assert conf["spark.sql.session.timeZone"] == "UTC"
    assert conf["spark.ui.enabled"] == "true"
