"""The session factory's driver-heap default follows the host's memory."""

from __future__ import annotations

import os

import pytest

from helixdb_spark import session


@pytest.mark.parametrize(
    "phys, want",
    [(15 << 30, "9216m"), (256 << 30, "157286m"), (512 << 20, "1024m")],
)
def test_driver_memory_is_sixty_percent_of_physical(monkeypatch, phys, want):
    sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys // 4096}
    monkeypatch.setattr(os, "sysconf", sizes.__getitem__)
    assert session._default_driver_memory() == want


def test_driver_memory_without_sysconf(monkeypatch):
    monkeypatch.delattr(os, "sysconf")  # a platform without sysconf
    assert session._default_driver_memory() == "4g"
