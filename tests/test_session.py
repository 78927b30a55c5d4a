"""The session factory's box-derived defaults, checked without starting a
JVM."""

from __future__ import annotations

import os

import pytest

from codepropertygraph_spark import session


def test_default_cores_is_the_affinity_mask():
    assert session.default_cores() == len(os.sched_getaffinity(0)) >= 1


def test_default_driver_memory_is_a_fraction_of_memtotal(tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16456384 kB\nMemFree:  1000 kB\n")
    mib = int(16456384 * session.DRIVER_MEMORY_FRACTION) // 1024
    assert session.default_driver_memory(str(meminfo)) == f"{mib}m"
    assert 0 < mib < 16456384 // 1024
    meminfo.write_text("MemFree:  1000 kB\n")
    with pytest.raises(RuntimeError, match="MemTotal"):
        session.default_driver_memory(str(meminfo))
