"""The session factory's default driver conf starts on the host it finds."""

from __future__ import annotations

import pytest

from kbgen_spark.session import DRIVER_HEAP_CAP_GIB, default_driver_conf, host_mem_bytes

GIB = 1 << 30


def _heap_gib(mem: str) -> int:
    assert mem.endswith("g"), mem
    return int(mem[:-1])


@pytest.fixture
def no_overrides(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", raising=False)


@pytest.mark.parametrize("total_gib", [None, 1, 4, 15, 64, 96, 125, 512])
def test_default_driver_conf_fits_host(no_overrides, total_gib):
    total = host_mem_bytes() if total_gib is None else total_gib * GIB
    mem, opts = default_driver_conf(total)
    heap = _heap_gib(mem)
    assert 1 <= heap <= DRIVER_HEAP_CAP_GIB
    if total >= 2 * GIB:
        # half the RAM at most, so the heap starts beside the OS and workers
        assert heap * GIB <= total // 2
    assert f"-Xms{mem}" in opts
    # a pre-touched heap is committed at start: only where it was measured
    pretouch = "-XX:+AlwaysPreTouch" in opts
    assert pretouch == (heap == DRIVER_HEAP_CAP_GIB)
    if pretouch:
        assert 2 * heap * GIB <= total


def test_small_host_gets_lazy_heap(no_overrides):
    assert default_driver_conf(15 * GIB) == ("7g", "-Xms7g -XX:+UseParallelGC")
    assert default_driver_conf(125 * GIB) == (
        "48g",
        "-Xms48g -XX:+AlwaysPreTouch -XX:+UseParallelGC",
    )


def test_env_overrides_driver_conf(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "-Xms8g -XX:+UseParallelGC")
    assert default_driver_conf(15 * GIB) == ("8g", "-Xms8g -XX:+UseParallelGC")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    assert default_driver_conf(512 * GIB) == ("8g", "")
