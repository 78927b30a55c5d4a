"""The session factory's defaults: the box-derived ones checked without
starting a JVM, the JIT policy read back from the running one."""

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


def test_jit_tiering_policy_is_in_force(spark):
    # Spark's launcher passes -XX:+IgnoreUnrecognizedVMOptions, so a
    # misspelled flag would be dropped without an error; read each one back.
    jvm = spark.sparkContext._jvm
    diagnostics = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    flags = dict(
        opt.removeprefix("-XX:").split("=") for opt in session.JIT_JAVA_OPTIONS.split()
    )
    assert len(flags) == 4
    for name, value in flags.items():
        assert diagnostics.getVMOption(name).getValue() == value, name
