"""``session._default_driver_memory``: half the host's RAM, capped at 24g."""

from __future__ import annotations

import pytest

from language_identification_spark import session

GIB = 1 << 30


@pytest.mark.parametrize(
    "ram, expected",
    [
        (15 * GIB, f"{15 * 1024 // 2}m"),  # a 15 GB host: 7.5g, not 24g
        (4 * GIB, "2048m"),
        (48 * GIB, "24576m"),  # exactly the cap
        (256 * GIB, "24576m"),  # capped at 24g
    ],
)
def test_default_driver_memory_is_half_the_ram_capped(monkeypatch, ram, expected):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": ram // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session._default_driver_memory() == expected
