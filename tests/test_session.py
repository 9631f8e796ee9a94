"""Heap default of get_spark, checked without starting Spark."""

from __future__ import annotations

import os

import pytest

from cgtcalc_data_transformer_spark.session import driver_memory

GIB = 1024**3
PAGE = 4096


def _host(monkeypatch, phys_bytes: int) -> None:
    pages = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": phys_bytes // PAGE}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)


@pytest.mark.parametrize(
    "phys_gib, expected",
    [
        (128, "32g"),  # a quarter of 128 GiB is the cap itself
        (512, "32g"),  # larger hosts stay at the cap
        (16, "4g"),  # a quarter of physical memory
        (1, "1g"),  # tiny host: Spark's own 1g floor
    ],
)
def test_default_is_quarter_of_physical_memory(monkeypatch, phys_gib, expected):
    _host(monkeypatch, phys_gib * GIB)
    assert driver_memory() == expected


def test_quarter_not_whole_gib_is_given_in_mib(monkeypatch):
    _host(monkeypatch, 15 * GIB)
    assert driver_memory() == f"{15 * 1024 // 4}m"


def test_empty_env_var_falls_back_to_default(monkeypatch):
    _host(monkeypatch, 16 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "")
    assert driver_memory() == "4g"


def test_explicit_env_var_is_returned_unchanged(monkeypatch):
    _host(monkeypatch, 16 * GIB)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert driver_memory() == "6g"
