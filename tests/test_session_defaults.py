"""Local session defaults must fit the host that runs them."""

import os


def test_local_defaults_never_exceed_the_host(monkeypatch):
    from database_migration_spark.session import local_defaults

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, heap = local_defaults()
    assert 1 <= int(cpus) <= len(os.sched_getaffinity(0))
    assert heap.endswith("m")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < int(heap[:-1]) * 1024 * 1024 <= phys


def test_local_defaults_keep_env_overrides(monkeypatch):
    from database_migration_spark.session import local_defaults

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert local_defaults() == ("3", "2g")
