"""Per-process set-up of Python workers (``shipping.setup_worker``).

Importing crabspark wraps ``zipimport.zipimporter.invalidate_caches`` (on
Python < 3.13) so an unchanged archive keeps its directory across
``importlib.invalidate_caches()`` calls, and inside a PySpark worker
freezes the import-time heap out of the per-task GC."""

import gc
import importlib
import os
import sys
import types
import zipfile
import zipimport

import pandas as pd
import pytest

from crabspark import shipping

needs_zip_wrap = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimport re-reads lazily; setup_worker leaves it alone",
)


def _write_zip(path, members: dict[str, str]) -> None:
    """Write the archive under another name and swap it in, as
    ``shipping.build_zip`` does (a new inode each time)."""
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


def _archive_on_path(tmp_path, monkeypatch, tag: str):
    """A zip on sys.path holding module ``<name>_a``, imported once (so
    its importer exists) and dropped from sys.modules again, then stamped
    by one invalidate_caches pass."""
    name = f"ship_{tag}_{tmp_path.name}".replace("-", "_")
    arc = str(tmp_path / f"{tag}.zip")
    _write_zip(arc, {f"{name}_a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(arc)
    importlib.import_module(f"{name}_a")
    del sys.modules[f"{name}_a"]
    importlib.invalidate_caches()
    return arc, name


@pytest.fixture
def archive(tmp_path, monkeypatch):
    arc, name = _archive_on_path(tmp_path, monkeypatch, "pkg")
    yield arc, name
    for mod in (f"{name}_a", f"{name}_b"):
        sys.modules.pop(mod, None)


@needs_zip_wrap
def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read(a)
    )
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module(f"{archive[1]}_a").A == 1


def test_replaced_archive_is_reread(archive):
    arc, name = archive
    _write_zip(arc, {f"{name}_a.py": "A = 1\n", f"{name}_b.py": "B = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module(f"{name}_b").B == 2


def _deleted_archive_state(tmp_path, monkeypatch, tag: str):
    arc, name = _archive_on_path(tmp_path, monkeypatch, tag)
    os.remove(arc)
    importlib.invalidate_caches()
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(f"{name}_a")
    files = sys.path_importer_cache[arc]._files
    return files, arc in zipimport._zip_directory_cache


@needs_zip_wrap
def test_deleted_archive_behaves_as_stock(tmp_path, monkeypatch):
    wrapped = zipimport.zipimporter.invalidate_caches
    got = _deleted_archive_state(tmp_path, monkeypatch, "wrapped")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", wrapped.__wrapped__
    )
    want = _deleted_archive_state(tmp_path, monkeypatch, "stock")
    assert got == want == ({}, False)


@needs_zip_wrap
def test_setup_twice_wraps_once():
    first = zipimport.zipimporter.invalidate_caches  # wrapped on import
    shipping.setup_worker()
    shipping.setup_worker()
    assert zipimport.zipimporter.invalidate_caches is first
    assert first.keeps_unchanged_zips
    assert not hasattr(first.__wrapped__, "keeps_unchanged_zips")


def test_zip_step_skipped_from_3_13(monkeypatch):
    stock = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__",
                    zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    shipping.setup_worker()
    assert zipimport.zipimporter.invalidate_caches is stock


def test_driver_heap_never_frozen(monkeypatch):
    monkeypatch.delitem(sys.modules, "pyspark.worker", raising=False)
    shipping.setup_worker()
    assert gc.get_freeze_count() == 0


def test_worker_heap_frozen_once(monkeypatch):
    calls = []
    monkeypatch.setitem(sys.modules, "pyspark.worker",
                        types.ModuleType("pyspark.worker"))
    monkeypatch.setattr(gc, "collect", lambda: calls.append("collect"))
    monkeypatch.setattr(gc, "freeze", lambda: calls.append("freeze"))
    monkeypatch.setattr(gc, "get_freeze_count", lambda: calls.count("freeze"))
    shipping.setup_worker()
    shipping.setup_worker()
    assert calls == ["collect", "freeze"]


def test_spark_workers_run_setup():
    """Every worker that ran a crabspark UDF keeps the set-up for its
    later tasks; the driver stays unfrozen."""
    from tests.sparkutil import get_spark

    spark = get_spark()
    shipping.ship_package(spark)

    def report(batches):
        import gc
        import os
        import sys
        import zipimport

        import crabspark  # noqa: F401 - the set-up runs on first import

        for _ in batches:
            pass
        wrap = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "wrapped": [getattr(wrap, "keeps_unchanged_zips", False)
                        or sys.version_info >= (3, 13)],
            "frozen": [gc.get_freeze_count()],
        })

    df = spark.range(0, 64, numPartitions=8).mapInPandas(
        report, "pid long, wrapped boolean, frozen long"
    )
    df.collect()
    rows = df.collect()
    assert len(rows) == 8
    assert all(r["wrapped"] and r["frozen"] > 0 for r in rows), rows
    assert gc.get_freeze_count() == 0
