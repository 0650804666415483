"""Session sizing from the host (no Spark needed)."""

import os

from pfaedle_spark import session


def test_host_defaults_from_affinity_and_meminfo(tmp_path, monkeypatch):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       15728640 kB\nMemFree:        1000 kB\n")
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.host_defaults(str(meminfo)) == (3, "7680m")


def test_host_defaults_env_overrides(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session.host_defaults(str(tmp_path / "absent")) == (6, "2g")
