"""Driver-heap sizing in get_spark — pure Python, no JVM is started."""

from __future__ import annotations

import aktuell_spark.session as session

GIB = 2**30


def _fake_host(monkeypatch, tmp_path, ram_bytes: int, cgroup_limit: str | None) -> int:
    """Report at least ``ram_bytes`` of RAM (whole pages) and, optionally,
    a cgroup memory.max; return the RAM as reported."""
    page = 4096
    pages = -(-ram_bytes // page)
    monkeypatch.setattr(
        session.os,
        "sysconf",
        lambda name: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[name],
    )
    limits = []
    if cgroup_limit is not None:
        limit_file = tmp_path / "memory.max"
        limit_file.write_text(cgroup_limit + "\n")
        limits.append(str(limit_file))
    limits.append(str(tmp_path / "absent"))
    monkeypatch.setattr(session, "_CGROUP_MEMORY_LIMITS", tuple(limits))
    return pages * page


def _mb(setting: str) -> int:
    return int(setting[:-1]) * (1024 if setting.endswith("g") else 1)


def test_default_heap_within_spark_share(monkeypatch, tmp_path):
    for ram_gib in (2, 8, 15.7, 32):
        ram = _fake_host(monkeypatch, tmp_path, int(ram_gib * GIB), None)
        heap_mb = _mb(session.default_driver_memory())
        assert heap_mb * 2**20 <= ram * 0.75 / 1.10
        assert heap_mb * 2**20 > ram * 0.75 / 1.10 - 2**20


def test_default_heap_capped_at_24g_on_large_host(monkeypatch, tmp_path):
    for ram_gib in (35.2, 64, 1024):
        _fake_host(monkeypatch, tmp_path, int(ram_gib * GIB), "max")
        assert session.default_driver_memory() == "24g"


def test_smaller_cgroup_limit_wins(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 64 * GIB, str(4 * GIB))
    assert session.host_memory_bytes() == 4 * GIB
    assert _mb(session.default_driver_memory()) == int(4 * GIB * 0.75 / 1.10) // 2**20
    # a limit above the RAM does not raise the heap
    _fake_host(monkeypatch, tmp_path, 8 * GIB, str(64 * GIB))
    assert session.host_memory_bytes() == 8 * GIB


class _FakeBuilder:
    """Records the conf get_spark sets instead of launching a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, _m):
        return self

    def appName(self, _n):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        class _Ctx:
            def setLogLevel(self, _lvl):
                pass

        class _Spark:
            sparkContext = _Ctx()

        return _Spark()


def _driver_memory_set_by_get_spark(monkeypatch) -> str:
    builder = _FakeBuilder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    monkeypatch.setattr(session, "_ship_package", lambda _spark: None)
    session.get_spark(cores=1)
    return builder.conf["spark.driver.memory"]


def test_get_spark_passes_env_override_through(monkeypatch, tmp_path):
    _fake_host(monkeypatch, tmp_path, 8 * GIB, None)
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert _driver_memory_set_by_get_spark(monkeypatch) == "3g"
    monkeypatch.delenv("SPARK_DRIVER_MEM")
    assert _driver_memory_set_by_get_spark(monkeypatch) == session.default_driver_memory()
