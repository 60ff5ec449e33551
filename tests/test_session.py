"""The session factory's default driver heap, derived without a JVM."""

import os

from luc4ir_spark import session


def _host(monkeypatch, phys_bytes):
    page = 4096
    sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": phys_bytes // page}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def test_driver_memory_is_half_the_host(monkeypatch):
    _host(monkeypatch, 15 * 2**30)
    assert session.driver_memory() == f"{15 * 1024 // 2}m"


def test_driver_memory_capped_at_48g(monkeypatch):
    _host(monkeypatch, 512 * 2**30)
    assert session.driver_memory() == f"{48 * 1024}m"


def test_driver_memory_floor(monkeypatch):
    _host(monkeypatch, 512 * 2**20)
    assert session.driver_memory() == "1024m"


def test_driver_memory_env_wins(monkeypatch):
    _host(monkeypatch, 15 * 2**30)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def test_driver_memory_follows_pinned_xms(monkeypatch):
    _host(monkeypatch, 15 * 2**30)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    opts = {"spark.driver.extraJavaOptions": "-Xms48g -XX:+AlwaysPreTouch"}
    assert session.driver_memory(opts) == "48g"


class _Builder:
    """Records what get_spark configures; starts no JVM."""

    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self


def test_get_spark_heap_never_below_pinned_xms(monkeypatch):
    """bench.py pins ``-Xms`` (48g unless SPARK_DRIVER_MEM is set) and
    leaves ``spark.driver.memory`` to get_spark: on a host whose derived
    default is smaller, -Xmx must still equal that -Xms, or the JVM
    refuses to start."""
    _host(monkeypatch, 64 * 2**30)
    builder = _Builder()
    fake = type("S", (), {"builder": builder})
    monkeypatch.setattr(session, "SparkSession", fake)
    monkeypatch.setattr(
        _Builder, "sparkContext",
        type("C", (), {"setLogLevel": lambda self, _: None})(),
        raising=False,
    )
    opts = "-Xms48g -XX:+AlwaysPreTouch"
    session.get_spark(extra_conf={"spark.driver.extraJavaOptions": opts})
    assert builder.conf["spark.driver.memory"] == "48g"
    session.get_spark()
    assert builder.conf["spark.driver.memory"] == f"{32 * 1024}m"
