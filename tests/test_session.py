"""The local-mode heap rule of `get_spark`, checked without a JVM:
1.5 GiB per core, at least 16g, capped at half of physical RAM, with
$SPARK_DRIVER_MEM overriding the rule."""

from __future__ import annotations

import os

import pytest

from ummon_spark.session import default_driver_memory

GIB = 2**30
PAGE = 4096


def _fake_ram(monkeypatch, gib: int) -> None:
    values = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": gib * GIB // PAGE}
    monkeypatch.setattr(os, "sysconf", lambda name: values[name])


@pytest.fixture(autouse=True)
def _no_override(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)


def test_large_box_keeps_per_core_rule(monkeypatch):
    _fake_ram(monkeypatch, 125)
    assert default_driver_memory(32) == "48g"


def test_large_box_keeps_16g_minimum(monkeypatch):
    _fake_ram(monkeypatch, 125)
    assert default_driver_memory(4) == "16g"
    assert default_driver_memory(None) == "16g"


def test_small_box_capped_at_half_of_ram(monkeypatch):
    _fake_ram(monkeypatch, 15)
    assert default_driver_memory(8) == "7g"


def test_env_override_wins(monkeypatch):
    _fake_ram(monkeypatch, 15)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory(8) == "3g"
    assert default_driver_memory(32) == "3g"
