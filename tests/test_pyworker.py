"""The Python-worker zip shim (scones/pyworker.py).

Unit tests need no Spark: they count ``zipimport._read_directory`` calls
over a throwaway archive.  The Spark test checks that the shim a scones
kernel installs stays installed for the next task in the same worker.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from scones import pyworker

_MODS = ("zipshim_a", "zipshim_pkg", "zipshim_pkg.mod", "zipshim_b")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with a top-level module and a package (two
    zipimporters over one archive); the stock method is restored and the
    imported modules dropped at teardown."""
    path = tmp_path / "mods.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zipshim_a.py", "X = 1\n")
        zf.writestr("zipshim_pkg/__init__.py", "")
        zf.writestr("zipshim_pkg/mod.py", "Y = 2\n")
    monkeypatch.syspath_prepend(str(path))
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    yield path
    for m in _MODS:
        sys.modules.pop(m, None)


def _count_reads(monkeypatch, path) -> list:
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        if archive == str(path):
            calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ re-reads lazily; no shim"
)
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    importlib.import_module("zipshim_a")
    importlib.import_module("zipshim_pkg.mod")
    reads = _count_reads(monkeypatch, archive)

    importlib.invalidate_caches()
    stock_reads = len(reads)
    assert stock_reads >= 2  # stock: every importer re-reads, every call

    pyworker.install()
    pyworker.install()  # idempotent
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1  # first call after install: one shared read
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1  # unchanged stat: no further reads
    assert importlib.import_module("zipshim_pkg.mod").Y == 2


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ re-reads lazily; no shim"
)
def test_rewritten_archive_is_reread(archive, monkeypatch):
    importlib.import_module("zipshim_a")
    pyworker.install()
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, archive)

    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("zipshim_b.py", "Z = 3\n")
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("zipshim_b").Z == 3


def test_python_313_keeps_stock_method(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pyworker.install()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_kernel_installs_shim_for_later_tasks_in_its_worker(spark, tmp_path):
    """A one-unit read_tail (a scones kernel) runs in the same reused
    worker as the probes around it: the probe before it finds the stock
    method, the probe after it the shim.  A Python executable path no
    other test uses gives this test its own worker pool, so one-partition
    jobs all land in one worker."""
    from scones.tailsource import read_tail

    def probe(batches):
        import os
        import zipimport

        for _ in batches:
            pass
        gated = getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)
        yield pa.RecordBatch.from_pylist([{"pid": os.getpid(), "gated": gated}])

    def run_probe():
        df = spark.range(1, numPartitions=1)
        (row,) = df.mapInArrow(probe, "pid bigint, gated boolean").collect()
        return row

    log = tmp_path / "one.log"
    log.write_bytes(b"a line\n")
    key = "spark.sql.execution.pyspark.python"
    spark.conf.set(key, os.path.realpath(sys.executable))
    try:
        before = run_probe()
        assert read_tail(spark, [(str(log), 0)]).count() == 1
        after = run_probe()
    finally:
        spark.conf.unset(key)
    assert before.pid == after.pid
    assert not before.gated
    assert after.gated == (sys.version_info < (3, 13))
