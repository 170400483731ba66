"""get_spark's driver-heap default follows the host's physical memory;
SPARK_DRIVER_MEM overrides it. Pure: no session starts."""

import os

import pytest

from neural_entity_matching_spark.session import driver_memory

GIB = 2**30
PAGE = 4096


@pytest.mark.parametrize("phys_gib, expected", [
    (0.5, "1g"), (2, "1g"), (15.6, "7g"), (16, "8g"), (96, "48g"),
    (512, "48g"),
])
def test_driver_memory_is_half_of_physical_memory(monkeypatch, phys_gib,
                                                  expected):
    pages = int(phys_gib * GIB) // PAGE
    sysconf = {"SC_PAGE_SIZE": PAGE, "SC_PHYS_PAGES": pages}
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sysconf", sysconf.__getitem__)
    assert driver_memory() == expected


def test_driver_memory_env_takes_precedence(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    monkeypatch.setattr(os, "sysconf", lambda name: pytest.fail(name))
    assert driver_memory() == "3g"
