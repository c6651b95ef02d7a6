from __future__ import annotations

import os

import pytest

from feast_spark import session


@pytest.mark.parametrize(
    "phys_gb, want", [(16, "8192m"), (256, "32768m")], ids=["16GB", "256GB"]
)
def test_default_driver_memory_is_half_the_host_capped_at_32g(monkeypatch, phys_gb, want):
    """A 16 GB host gets an 8 GB driver heap, not the 32g that let the
    local JVM grow until it was OOM-killed; a big host stops at 32g."""
    conf = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (phys_gb << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", conf.__getitem__)
    assert session.default_driver_memory() == want
