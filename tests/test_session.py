"""Session defaults and the Python worker daemon (striot_spark.pydaemon)."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from striot_spark import pydaemon
from striot_spark.session import local_cpus


def test_local_cpus_defaults_to_the_cores_this_process_may_use(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    assert local_cpus() == 2


def test_local_cpus_follows_the_environment(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def counted_reads(monkeypatch):
    """The repo's rule on zipimporter, with every archive read recorded."""
    reads: list[str] = []
    stock = pydaemon._stock_invalidate_caches

    def read(self):
        reads.append(self.archive)
        stock(self)

    monkeypatch.setattr(pydaemon, "_stock_invalidate_caches", read)
    monkeypatch.setattr(pydaemon, "_last_read", {})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    return reads


def test_daemon_rereads_a_zip_only_when_it_changed(tmp_path, monkeypatch, counted_reads):
    zpath = str(tmp_path / "pkg.zip")
    _write_zip(zpath, {"pydaemon_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(zpath)
    monkeypatch.delitem(sys.path_importer_cache, zpath, raising=False)
    for name in ("pydaemon_mod_a", "pydaemon_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("pydaemon_mod_a").X == 1
    importlib.invalidate_caches()
    assert counted_reads.count(zpath) == 1  # first call: no read recorded yet
    for _ in range(3):
        importlib.invalidate_caches()
    assert counted_reads.count(zpath) == 1  # unchanged: not re-read

    _write_zip(zpath, {"pydaemon_mod_a": "X = 1\n", "pydaemon_mod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert counted_reads.count(zpath) == 2
    assert importlib.import_module("pydaemon_mod_b").Y == 2

    st = os.stat(zpath)  # same size, newer mtime: re-read too
    os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert counted_reads.count(zpath) == 3


def test_python_workers_run_the_repo_daemon(spark):
    def where(batches):
        import zipimport

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"module": [zipimport.zipimporter.invalidate_caches.__module__]}
        )

    rows = spark.range(2, numPartitions=2).mapInPandas(where, "module string").collect()
    assert {r.module for r in rows} == {"striot_spark.pydaemon"}
