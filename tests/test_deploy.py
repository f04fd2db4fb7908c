"""Stat-keyed zip directory caching (deploy.cache_zip_directories):
``importlib.invalidate_caches()`` re-reads a zip archive only when it
changed on disk, in this process and in reused Spark Python workers."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from goose_parser_spark import deploy
from goose_parser_spark.deploy import cache_zip_directories, ship_package


@pytest.fixture
def reads(monkeypatch):
    """Archive path -> number of ``zipimport._read_directory`` calls."""
    counts: dict[str, int] = {}
    real = zipimport._read_directory

    def counting(archive):
        counts[archive] = counts.get(archive, 0) + 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return counts


def _write_zip(path, pkg, modules):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/sub/__init__.py", "")
        for name, src in modules.items():
            zf.writestr(f"{pkg}/sub/{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch, request):
    """A zip on ``sys.path`` holding ``<pkg>.sub.mod``, imported, so
    three importers point into it (the archive root, ``<pkg>/`` and
    ``<pkg>/sub/``)."""
    pkg = f"zipcache_{request.node.name.split('[')[0][5:]}"
    path = str(tmp_path / f"{pkg}.zip")
    _write_zip(path, pkg, {"mod": "X = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module(f"{pkg}.sub.mod")
    yield path, pkg
    for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def _importers(path):
    return [f for k, f in sys.path_importer_cache.items()
            if k.startswith(path) and isinstance(f, zipimport.zipimporter)]


def test_unchanged_archive_is_read_once_for_all_its_importers(archive,
                                                              reads):
    path, _pkg = archive
    assert len(_importers(path)) == 3
    importlib.invalidate_caches()   # first call per archive re-reads once
    assert reads.get(path) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.get(path, 0) == 0
    cached = zipimport._zip_directory_cache[path]
    assert all(imp._files is cached for imp in _importers(path))


def test_rewritten_archive_is_reread_once_and_new_module_imports(archive,
                                                                 reads):
    path, pkg = archive
    importlib.invalidate_caches()
    reads.clear()
    # rewritten in place (same inode), one module more
    _write_zip(path, pkg, {"mod": "X = 1\n", "new": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.get(path) == 1
    assert importlib.import_module(f"{pkg}.sub.new").Y == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads.get(path, 0) == 0


def test_deleted_archive_behaves_like_the_stdlib(archive, reads, tmp_path):
    path, pkg = archive
    importlib.invalidate_caches()
    saved = str(tmp_path / "saved.zip")
    os.link(path, saved)   # keeps the archive's inode, size and mtime
    os.remove(path)
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache
    assert all(imp._files == {} for imp in _importers(path))
    # another archive is cached by a new importer, then the first one
    # moves back with the stat of its last read: the key went with the
    # cache entry, so it is read again
    _write_zip(path, pkg, {"mod": "X = 1\n", "other": "Z = 3\n"})
    zipimport.zipimporter(path)
    os.replace(saved, path)
    reads.clear()
    importlib.invalidate_caches()
    assert reads.get(path) == 1
    assert not any(name.endswith("other.py")
                   for name in zipimport._zip_directory_cache[path])


def test_install_shares_one_directory_per_archive():
    """Installing re-reads each archive once and points all of its
    importers at that one dict, freeing the copy per importer that the
    stdlib method gave them; the next ``invalidate_caches()`` reads
    nothing. Runs in a fresh interpreter, where the stdlib method is
    still in place."""
    script = (
        "import importlib, importlib.util, sys, tempfile, zipfile, zipimport\n"
        "path = tempfile.mkdtemp() + '/zipshare.zip'\n"
        "with zipfile.ZipFile(path, 'w') as zf:\n"
        "    for name in ('__init__', 'sub/__init__', 'sub/mod'):\n"
        "        zf.writestr(f'zipshare/{name}.py', '')\n"
        "sys.path.insert(0, path)\n"
        "import zipshare.sub.mod\n"
        "importlib.invalidate_caches()\n"
        "imps = [f for k, f in sys.path_importer_cache.items()\n"
        "        if k.startswith(path)]\n"
        "assert len({id(i._files) for i in imps}) == len(imps) == 3\n"
        "reads = []\n"
        "real = zipimport._read_directory\n"
        "zipimport._read_directory = lambda a: (reads.append(a), real(a))[1]\n"
        "spec = importlib.util.spec_from_file_location('d', sys.argv[1])\n"
        "d = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(d)\n"
        "d.cache_zip_directories()\n"
        "assert reads.count(path) == 1, reads\n"
        "shared = zipimport._zip_directory_cache[path]\n"
        "assert all(i._files is shared for i in imps)\n"
        "reads.clear()\n"
        "importlib.invalidate_caches()\n"
        "assert reads == [], reads\n")
    run = subprocess.run([sys.executable, "-c", script, deploy.__file__],
                         capture_output=True, text=True)
    assert run.returncode == 0, run.stderr


def test_reused_spark_worker_skips_zip_rereads(spark):
    """Tasks whose closure references the package: no task body re-reads
    a zip archive, not even a worker's first, because installing the
    shim while the first task unpickles already read each archive
    once."""
    ship_package(spark)
    install = cache_zip_directories   # imports the package on unpickle

    def probe(batches):
        import importlib
        import zipimport

        install()
        for _ in batches:
            pass
        n = 0
        real = zipimport._read_directory

        def counting(archive):
            nonlocal n
            n += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [n], "zips": [zips]})

    rows = (spark.range(16, numPartitions=16)
            .mapInArrow(probe, "pid long, reads long, zips long").collect())
    assert all(r["zips"] > 0 for r in rows)
    by_pid: dict[int, list] = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append(r["reads"])
    assert max(len(v) for v in by_pid.values()) >= 2
    assert all(c == 0 for counts in by_pid.values() for c in counts), by_pid


def test_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    assert sys.version_info >= (3, 12) or installed._stat_keyed
    cache_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_no_op_from_python_3_12(monkeypatch):
    def stdlib(self):
        pass

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    cache_zip_directories()
    assert zipimport.zipimporter.invalidate_caches is stdlib


def _newer_python():
    for d in os.environ.get("PATH", "").split(os.pathsep):
        for minor in range(12, 20):
            exe = os.path.join(d, f"python3.{minor}")
            if not os.access(exe, os.X_OK):
                continue
            ok = subprocess.run([exe, "-c", "import zipimport"],
                                capture_output=True)
            if ok.returncode == 0:
                return exe
    return None


def test_no_op_on_a_real_python_3_12_or_newer():
    exe = _newer_python()
    if exe is None:
        pytest.skip("no CPython >= 3.12 on PATH")
    # deploy.py loaded on its own: the package needs pyspark
    script = (
        "import importlib.util, sys, zipimport\n"
        "assert sys.version_info >= (3, 12)\n"
        "spec = importlib.util.spec_from_file_location('d', sys.argv[1])\n"
        "d = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(d)\n"
        "before = zipimport.zipimporter.invalidate_caches\n"
        "d.cache_zip_directories()\n"
        "assert zipimport.zipimporter.invalidate_caches is before\n")
    run = subprocess.run([exe, "-c", script, deploy.__file__],
                         capture_output=True, text=True)
    assert run.returncode == 0, run.stderr
