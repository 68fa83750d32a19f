"""Engine session defaults (engine/session.py)."""

from __future__ import annotations

from engine import session


def test_default_driver_heap_is_half_of_ram_at_most_48g(monkeypatch):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 16 * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._default_driver_memory() == "8192m"
    pages["SC_PHYS_PAGES"] = 256 * 2**30 // 4096
    assert session._default_driver_memory() == f"{48 * 1024}m"


def test_extra_driver_memory_wins_over_default(monkeypatch):
    seen = {}

    class Builder:
        def appName(self, _):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return seen

    class FakeSession:
        builder = Builder()

    monkeypatch.setattr(session, "SparkSession", FakeSession)
    assert session.get_spark()["spark.driver.memory"] == \
        session.ENGINE_CONFS["spark.driver.memory"]
    assert session.get_spark(
        extra={"spark.driver.memory": "2g"})["spark.driver.memory"] == "2g"
