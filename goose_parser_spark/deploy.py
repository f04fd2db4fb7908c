"""Deployment helper: ship this package to executors.

The compiled rule tree is pickled **by reference** into the
map-kernel closure (kernel.map_docs), so executor Python workers must
be able to ``import goose_parser_spark``. On a real cluster that is
``spark-submit --py-files goose_parser_spark.zip`` (BASELINE.json:14);
for programmatic use :func:`ship_package` builds the zip on the fly
and registers it via ``sc.addPyFile`` — the same mechanism, no
install step needed on workers. :func:`cache_zip_directories` keeps
those workers from re-reading every zip on their path before each
task: from the first task on, each archive's directory is read once
and shared by all of its importers.
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile
import zipimport


def build_package_zip(dest_dir: str | None = None) -> str:
    """Zip the goose_parser_spark package for --py-files / addPyFile."""
    import goose_parser_spark

    pkg_dir = os.path.dirname(os.path.abspath(goose_parser_spark.__file__))
    dest_dir = dest_dir or tempfile.mkdtemp(prefix="goose_spark_pyfiles_")
    zip_path = os.path.join(dest_dir, "goose_parser_spark.zip")
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith((".pyc", ".pyo")):
                continue
            full = os.path.join(root, fn)
            entries.append((os.path.relpath(full, os.path.dirname(pkg_dir)), full))
    # deterministic zip (sorted entries, fixed timestamps) so the same
    # source always produces byte-identical archives — Spark refuses a
    # re-added file whose name matches but content differs
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for rel, full in sorted(entries):
            with open(full, "rb") as fh:
                info = zipfile.ZipInfo(rel, date_time=(2020, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                zf.writestr(info, fh.read())
    return zip_path


_shipped_sessions: set[int] = set()


def ship_package(spark) -> str | None:
    """Make this package importable on all executors of ``spark``.

    Idempotent per SparkContext (memoized). Returns the zip path that
    was shipped, or None when already shipped. Called automatically by
    every entry point that launches a Python UDF (kernel.map_docs and
    the file-level readers), so library users never hit
    ``ModuleNotFoundError`` on executors regardless of cwd; on real
    clusters ``spark-submit --py-files`` makes this a no-op re-add.
    """
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped_sessions:
        return None
    _shipped_sessions.add(key)
    # already shipped via spark-submit --py-files / a prior addPyFile?
    try:
        listed = [str(f) for f in sc.listFiles]
    except Exception:
        listed = []
    if any(f.endswith("goose_parser_spark.zip") for f in listed):
        return None
    zip_path = build_package_zip()
    sc.addPyFile(zip_path)
    return zip_path


def cache_zip_directories() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive's
    central directory only when the archive changed on disk.

    PySpark's worker calls ``importlib.invalidate_caches()`` before
    every task (``pyspark/worker_util.py`` ``setup_spark_files``). On
    CPython 3.11 every ``zipimporter`` then re-reads its archive's
    whole central directory: a reused worker holds a dozen importers
    into ``pyspark.zip`` and two into the Spark core jar, ~0.2 s per
    task before the first document. CPython 3.12 made this lazy
    (gh-103200); this backports the effect, keyed on ``os.stat``:

    - An archive is re-read only when its ``(st_mtime_ns, st_size,
      st_ino)`` differs from the stat taken before its last re-read
      here. The key is per archive, so all importers into one archive
      share one check; the first call per archive always re-reads.
    - Otherwise the importer is re-pointed at the shared
      ``zipimport._zip_directory_cache`` entry.
    - A missing or unreadable archive, or one with no cache entry,
      takes the stdlib method, so ``ZipImportError`` handling is
      unchanged.

    Idempotent; does nothing on CPython >= 3.12. The package calls it
    on import, which executors do while their first task unpickles.
    By then that task's ``invalidate_caches()`` has given each importer
    its own copy of its archive's directory, so installing runs the
    stat-keyed method once over every ``zipimporter`` in
    ``sys.path_importer_cache``: each archive is re-read once, at
    install, in the first task, its importers share that one dict, and
    the copies are freed. Later tasks re-read nothing while the archives
    are unchanged.
    """
    if sys.version_info >= (3, 12):
        return
    stdlib = zipimport.zipimporter.invalidate_caches
    if getattr(stdlib, "_stat_keyed", False):
        return
    # archive -> stat before its last re-read; process-wide, like the
    # stdlib's _zip_directory_cache it mirrors
    zip_stat: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(archive)
        if (key is not None and files is not None
                and zip_stat.get(archive) == key):
            self._files = files
            return
        # stat before the read: a change racing the read leaves a stale
        # key, which only costs one more read next time
        stdlib(self)
        if key is not None and archive in zipimport._zip_directory_cache:
            zip_stat[archive] = key
        else:
            zip_stat.pop(archive, None)

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()
