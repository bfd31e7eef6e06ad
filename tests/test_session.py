"""Driver heap default: min(24g, half the machine), never past a cgroup
limit, and always overridable through SPARK_GRAFT_DRIVER_MEM."""

from __future__ import annotations

import os

import pytest

from crawler_spark import session

GIB = 1 << 30


@pytest.fixture
def machine(monkeypatch, tmp_path):
    """Fake a machine: ``set(phys_gib, cgroup)`` where ``cgroup`` is the
    memory.max text, or None for no readable cgroup file."""
    page = 4096

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def set_(phys_gib: float, cgroup: str | None):
        pages = int(phys_gib * GIB) // page
        monkeypatch.setattr(
            os, "sysconf",
            lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name],
        )
        path = tmp_path / "memory.max"
        if cgroup is None:
            path.unlink(missing_ok=True)
        else:
            path.write_text(cgroup + "\n")
        monkeypatch.setattr(session, "CGROUP_MEMORY_MAX", str(path))

    return set_


@pytest.mark.parametrize(
    "phys_gib, cgroup, expected",
    [
        (16, None, "8192m"),  # half of physical memory
        (256, None, "24576m"),  # capped at 24g
        (64, str(6 * GIB), "3072m"),  # the cgroup limit lowers it
        (16, "max", "8192m"),  # an unlimited cgroup is ignored
        (16, str(512 * GIB), "8192m"),  # a cgroup above physical is ignored
    ],
)
def test_default_driver_mem(machine, phys_gib, cgroup, expected):
    machine(phys_gib, cgroup)
    assert session.driver_mem() == expected


def test_env_overrides(machine, monkeypatch):
    machine(16, None)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.driver_mem() == "2g"
