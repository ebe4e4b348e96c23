"""Host-sized session defaults, checked without starting Spark: the
driver heap (and ``-Xms``) is 40% of ``MemTotal`` and ``local[N]`` uses
every core this process may run on; both env vars still override."""

from __future__ import annotations

import io

from pyspark.sql import SparkSession

from python_fastly_log_query_spark import session

MEMINFO = """MemTotal:       16009876 kB
MemFree:         1234567 kB
MemAvailable:    9876543 kB
SwapTotal:             0 kB
"""


def _opts() -> dict:
    # a fresh Builder: SparkSession.builder is process-global
    return dict(session.builder_conf(SparkSession.Builder())._options)


def _fake_meminfo(monkeypatch, text):
    def fake_open(path, *a, **k):
        assert path == "/proc/meminfo"
        if text is None:
            raise PermissionError(path)
        return io.StringIO(text)

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "open", fake_open, raising=False)


def test_heap_is_40_percent_of_memtotal():
    assert session.heap_from_meminfo(MEMINFO) == f"{16009876 * 2 // 5 // 1024}m"
    assert session.heap_from_meminfo(MEMINFO) == "6253m"
    assert session.heap_from_meminfo("MemFree: 1 kB\n") is None


def test_default_heap_sets_memory_and_xms(monkeypatch):
    _fake_meminfo(monkeypatch, MEMINFO)
    opts = _opts()
    assert opts["spark.driver.memory"] == "6253m"
    assert "-Xms6253m " in opts["spark.driver.extraJavaOptions"]


def test_env_heap_overrides(monkeypatch):
    _fake_meminfo(monkeypatch, MEMINFO)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    opts = _opts()
    assert opts["spark.driver.memory"] == "3g"
    assert "-Xms3g " in opts["spark.driver.extraJavaOptions"]


def test_unreadable_meminfo_sets_no_heap(monkeypatch):
    _fake_meminfo(monkeypatch, None)
    opts = _opts()
    assert "spark.driver.memory" not in opts
    assert "-Xms" not in opts["spark.driver.extraJavaOptions"]


def test_master_uses_affinity_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert session.default_master() == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session.default_master() == "local[7]"
