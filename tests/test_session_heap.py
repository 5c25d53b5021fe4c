"""Default driver heap: scales with the local core count (12 GiB floor,
3/4 GiB per core) and is capped at 60% of physical RAM read from
``/proc/meminfo``; an unreadable meminfo leaves the core-count rule."""

from __future__ import annotations

import pytest

from incr_iter_hadoop_spark import session

GIB_KIB = 2**20


def _meminfo(tmp_path, monkeypatch, total_kib):
    p = tmp_path / "meminfo"
    p.write_text(
        f"MemTotal:       {total_kib} kB\nMemFree:        1024 kB\n"
    )
    monkeypatch.setattr(session, "_MEMINFO", str(p))


@pytest.mark.parametrize(
    "cpus, total_kib, want",
    [
        ("32", 16_462_364, "9g"),  # 32 cores on a 15.7 GiB host: RAM cap
        ("32", 128 * GIB_KIB, "24g"),  # RAM to spare: 3/4 GiB per core
        ("8", 64 * GIB_KIB, "12g"),  # few cores: the 12 GiB floor
        ("4", 15 * GIB_KIB, "9g"),  # the cap applies to the floor too
        ("2", GIB_KIB, "1g"),  # tiny host: never a 0 GiB heap
    ],
)
def test_heap_is_core_scaled_and_capped_by_ram(
    tmp_path, monkeypatch, cpus, total_kib, want
):
    _meminfo(tmp_path, monkeypatch, total_kib)
    assert session._default_driver_mem(cpus) == want


def test_all_cores_use_the_machine_core_count(tmp_path, monkeypatch):
    _meminfo(tmp_path, monkeypatch, 128 * GIB_KIB)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 64)
    assert session._default_driver_mem("*") == "48g"


@pytest.mark.parametrize("content", [None, "MemFree: 1 kB\n", "MemTotal: x\n"])
def test_unreadable_meminfo_keeps_the_core_rule(tmp_path, monkeypatch, content):
    p = tmp_path / "meminfo"
    if content is not None:
        p.write_text(content)
    monkeypatch.setattr(session, "_MEMINFO", str(p))
    assert session._default_driver_mem("32") == "24g"
    assert session._default_driver_mem("4") == "12g"
