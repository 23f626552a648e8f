"""Session defaults must fit the host they run on: a driver heap larger
than physical RAM lets the local-mode JVM grow until the kernel kills
it, and more task slots than CPUs only adds contention."""

import os

from music_dedupe_spark import session


def test_defaults_fit_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus = int(session.default_cpus())
    assert 1 <= cpus <= (os.cpu_count() or 1)
    mem = session.default_driver_memory()
    assert mem.endswith("m")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    assert 0 < int(mem[:-1]) <= min(session.DRIVER_MEM_CAP_MB, ram_mb // 2)


def test_env_overrides_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "5g")
    assert session.default_cpus() == "3"
    assert session.default_driver_memory() == "5g"
