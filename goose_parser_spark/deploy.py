"""Deployment helper: ship this package to executors.

The compiled rule tree is pickled **by reference** into the
map-kernel closure (kernel.map_docs), so executor Python workers must
be able to ``import goose_parser_spark``. On a real cluster that is
``spark-submit --py-files goose_parser_spark.zip`` (BASELINE.json:14);
for programmatic use :func:`ship_package` builds the zip on the fly
and registers it via ``sc.addPyFile`` — the same mechanism, no
install step needed on workers.
"""

from __future__ import annotations

import os
import tempfile
import zipfile


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
