"""``session.get_spark`` defaults that depend on the machine."""

from __future__ import annotations

import os

from chatdata_spark.session import _default_driver_mem


def test_default_driver_mem_is_half_the_machine_capped():
    """The default driver heap is half of physical memory, between 1g and
    24g, so the one local JVM cannot outgrow a small box."""
    total_mib = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    assert _default_driver_mem() == f"{min(max(total_mib // 2, 1024), 24 * 1024)}m"
