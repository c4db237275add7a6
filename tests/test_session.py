"""Spark-free checks of the session factory's host-derived defaults."""

from __future__ import annotations

import os

import pytest

from modelardb_dynamic_spark import session

GIB = 1 << 30


@pytest.mark.parametrize(
    "ram, want",
    [(15 * GIB, "7g"), (64 * GIB, "24g"), (256 * GIB, "24g"), (GIB, "1g")],
)
def test_driver_memory_is_half_host_ram_capped(monkeypatch, ram, want):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    assert session.driver_memory() == want


def test_driver_memory_env_wins(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    monkeypatch.setattr(os, "sysconf", lambda k: 1)
    assert session.driver_memory() == "3g"
