"""``session.driver_memory`` sizes the driver heap from the machine: a
quarter of physical memory, capped at 16g, unless the deployment sets
``SPARK_GRAFT_DRIVER_MEM``."""

from __future__ import annotations

import pytest

from predictor_spark import session

_PAGE = 4096


@pytest.mark.parametrize("phys_gib, want", [
    (16, "4096m"),    # a 16 GB box: two engine processes fit
    (4, "1024m"),
    (64, "16384m"),   # the cap
    (256, "16384m"),
])
def test_default_is_a_quarter_of_physical_memory_capped_at_16g(
        monkeypatch, phys_gib, want):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    pages = {"SC_PHYS_PAGES": phys_gib * (1 << 30) // _PAGE,
             "SC_PAGE_SIZE": _PAGE}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.driver_memory() == want


def test_environment_overrides_the_default(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setattr(session.os, "sysconf", {}.__getitem__)
    assert session.driver_memory() == "2g"
