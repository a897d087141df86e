"""Ship the crabspark package to Spark Python workers, and set up the
workers that run it.

On a real cluster the job runs ``spark-submit --py-files crabspark.zip``
(north rule); in-process sessions get the same effect via
``SparkContext.addPyFile`` on a freshly-zipped copy of the package, so
pandas UDFs that close over crabspark kernels unpickle on workers that did
not inherit the driver's sys.path.

``setup_worker`` runs on every ``import crabspark`` (``__init__.py``), so a
Python worker runs it the first time it unpickles a crabspark UDF, and it
stays in force for every later task of that reused worker. It removes two
per-task costs PySpark's worker loop pays before and after the UDF itself:

- every task's ``setup_spark_files`` calls ``importlib.invalidate_caches()``,
  and on Python < 3.13 each zip importer on ``sys.path`` then re-reads its
  archive's whole directory (the ~1,300-entry ``pyspark.zip`` once per
  importer: ~170 ms a task on a 4-vCPU VM). Unchanged archives now keep
  their directory; an archive whose (mtime, size, inode) moved is still
  re-read, so an updated ``addPyFile`` zip stays importable. 3.13+
  already re-reads lazily.
- the worker daemon runs ``gc.collect()`` after every task, walking the
  whole import-time heap. Inside a worker that heap is collected once and
  frozen (``gc.freeze``), so later collections skip it. Refcounting still
  frees frozen objects; only cycles alive at freeze time are kept.

Neither changes a plan, a job, a conf or what a UDF computes."""

from __future__ import annotations

import gc
import os
import sys
import tempfile
import threading
import zipfile
import zipimport

_SHIPPED_ATTR = "_crabspark_shipped"


def build_zip(dest_dir: str | None = None) -> str:
    """Zip the installed crabspark package (py files only) for --py-files.
    The zip is content-addressed (source hash in the directory name) and
    reused across sessions in the same interpreter boot — repeated Engine
    constructions must not leak one temp dir each."""
    import hashlib

    import crabspark

    pkg_dir = os.path.dirname(os.path.abspath(crabspark.__file__))
    sources = [
        os.path.join(pkg_dir, f)
        for f in sorted(os.listdir(pkg_dir))
        if f.endswith(".py")
    ]
    contents = {}
    h = hashlib.sha1()
    for p in sources:
        with open(p, "rb") as f:
            data = f.read()
        contents[f"crabspark/{os.path.basename(p)}"] = data
        h.update(p.encode())
        h.update(data)
    if dest_dir is None:
        # Per-user, mode-0700 cache dir: the path is predictable from public
        # sources, so on a shared host another user could pre-create it and
        # plant a zip. Refuse to reuse anything we don't own, and re-verify
        # the cached zip's contents against the source hash before trusting
        # it; fall back to a private mkdtemp on any mismatch.
        uid = os.getuid() if hasattr(os, "getuid") else 0
        dest_dir = os.path.join(
            tempfile.gettempdir(),
            f"crabspark-ship-{uid}-{h.hexdigest()[:12]}",
        )
        try:
            os.makedirs(dest_dir, mode=0o700, exist_ok=True)
            st = os.stat(dest_dir)
            if hasattr(os, "getuid") and st.st_uid != uid:
                raise PermissionError("cache dir owned by another user")
        except OSError:
            dest_dir = tempfile.mkdtemp(prefix="crabspark-ship-")
    zip_path = os.path.join(dest_dir, "crabspark.zip")
    if os.path.exists(zip_path) and _zip_matches(zip_path, contents):
        return zip_path
    tmp = zip_path + f".tmp-{os.getpid()}"
    with zipfile.ZipFile(tmp, "w") as zf:
        for arcname, data in contents.items():
            zf.writestr(arcname, data)
    os.replace(tmp, zip_path)
    return zip_path


def _zip_matches(zip_path: str, contents: dict[str, bytes]) -> bool:
    """True iff the cached zip holds exactly the expected member bytes."""
    try:
        with zipfile.ZipFile(zip_path) as zf:
            names = zf.namelist()
            if sorted(names) != sorted(contents):
                return False
            return all(zf.read(n) == contents[n] for n in names)
    except (OSError, zipfile.BadZipFile, KeyError):
        return False


def ship_package(spark) -> None:
    """Idempotently attach the package zip to the session.

    When the driver itself imported crabspark FROM a zip archive (the
    ``spark-submit --py-files crabspark.zip`` launch path), the package
    directory is not a real filesystem dir and cannot be re-zipped — and
    does not need to be: --py-files already put the archive on every
    executor's sys.path. Detect that case and no-op."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    import crabspark

    pkg_dir = os.path.dirname(os.path.abspath(crabspark.__file__))
    if not os.path.isdir(pkg_dir):
        setattr(sc, _SHIPPED_ATTR, True)
        return
    sc.addPyFile(build_zip())
    setattr(sc, _SHIPPED_ATTR, True)


def setup_worker() -> None:
    """Idempotent per-process set-up of a Python worker (module docstring).
    The zip-directory step applies in every process; the heap freeze only
    inside a PySpark worker (``pyspark.worker`` imported; never on the
    driver, whose heap keeps growing with the crawl)."""
    if sys.version_info < (3, 13):
        _keep_zip_directories()
    if "pyspark.worker" in sys.modules and gc.get_freeze_count() == 0:
        # every crabspark UDF runs on these and the first task imports them
        # right after this package; frozen before they load, most of the
        # import-time heap would stay in every per-task collection
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        gc.collect()
        gc.freeze()


def _keep_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed since this process last read
    it; otherwise rebind the directory ``zipimport`` already caches. A
    missing or unreadable archive takes the stock path."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "keeps_unchanged_zips", False):
        return
    stamps: dict[str, tuple[int, int, int]] = {}  # archive -> stat when read
    lock = threading.Lock()

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        cache = zipimport._zip_directory_cache
        with lock:
            files = cache.get(self.archive)
            if (stamp is not None and files is not None
                    and stamps.get(self.archive) == stamp):
                self._files = files
                return
            stamps.pop(self.archive, None)
            # stat before the read: an archive replaced in between is
            # stamped old and read again next time, never kept stale
            stock(self)
            if stamp is not None and self.archive in cache:
                stamps[self.archive] = stamp

    invalidate_caches.keeps_unchanged_zips = True
    invalidate_caches.__wrapped__ = stock
    zipimport.zipimporter.invalidate_caches = invalidate_caches
