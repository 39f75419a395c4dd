"""The default driver heap is sized from the host (session.get_spark)."""

from __future__ import annotations

from chicago_business_owners_data_engineering_spark.session import (
    default_driver_memory,
)

GB_KB = 1024 * 1024


def _meminfo(tmp_path, avail_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {avail_kb + 512} kB\n"
        "MemFree:          123456 kB\n"
        f"MemAvailable:   {avail_kb} kB\n"
        "Buffers:           4096 kB\n"
    )
    return str(p)


def _cgroup(tmp_path, text: str) -> str:
    p = tmp_path / "memory.max"
    p.write_text(text + "\n")
    return str(p)


def test_half_of_mem_available_without_cgroup(tmp_path):
    # a 15 GB host: half of what it can commit, never the fixed 16g
    meminfo = _meminfo(tmp_path, 15 * GB_KB)
    assert default_driver_memory(meminfo, str(tmp_path / "absent")) == "7680m"


def test_unlimited_cgroup_is_ignored(tmp_path):
    meminfo = _meminfo(tmp_path, 15 * GB_KB)
    assert default_driver_memory(meminfo, _cgroup(tmp_path, "max")) == "7680m"


def test_cgroup_limit_below_mem_available_wins(tmp_path):
    meminfo = _meminfo(tmp_path, 15 * GB_KB)
    limit = _cgroup(tmp_path, str(4 * 1024**3))
    assert default_driver_memory(meminfo, limit) == "2048m"


def test_cgroup_limit_above_mem_available_is_not_used(tmp_path):
    meminfo = _meminfo(tmp_path, 6 * GB_KB)
    limit = _cgroup(tmp_path, str(64 * 1024**3))
    assert default_driver_memory(meminfo, limit) == "3072m"


def test_large_host_caps_at_16g(tmp_path):
    meminfo = _meminfo(tmp_path, 256 * GB_KB)
    assert default_driver_memory(meminfo, str(tmp_path / "absent")) == "16384m"
