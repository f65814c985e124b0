"""Import-cache resets that skip unchanged zip archives
(``osu_elastic_indexer_spark._zipcache``) and the per-process package zip
that ``session.ship_package`` sends to the workers."""

import importlib
import os
import shutil
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

from osu_elastic_indexer_spark import _zipcache, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
needs_install = pytest.mark.skipif(
    zipimport.zipimporter.invalidate_caches
    is not _zipcache._invalidate_caches,
    reason="replacement not installed on this Python",
)


@pytest.fixture
def isolated_imports():
    """Restore sys.path, sys.modules and the importer caches afterwards."""
    path, modules = list(sys.path), set(sys.modules)
    finders = dict(sys.path_importer_cache)
    yield
    sys.path[:] = path
    for name in set(sys.modules) - modules:
        del sys.modules[name]
    sys.path_importer_cache.clear()
    sys.path_importer_cache.update(finders)


@pytest.fixture
def reads(monkeypatch):
    """The archives ``zipimport._read_directory`` reads from now on."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_archive(path, modules: dict) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zc_probe/__init__.py", "")
        for name, body in modules.items():
            zf.writestr(f"zc_probe/{name}.py", body)
    return str(path)


@pytest.fixture
def archive(tmp_path, isolated_imports):
    """A zip on sys.path holding package ``zc_probe``; importing its
    submodule caches two importers over the archive (root and package
    directory), as ``pyspark.zip`` caches one per package directory."""
    path = _write_archive(tmp_path / "probe.zip", {"one": "V = 1\n"})
    sys.path.insert(0, path)
    assert importlib.import_module("zc_probe.one").V == 1
    yield path
    _zipcache._READ.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@needs_install
def test_unchanged_archive_is_not_reread(archive, reads):
    importers = [
        f for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter) and f.archive == archive
    ]
    assert len(importers) == 2
    importlib.invalidate_caches()
    # the first reset after the import reads the archive once, not once
    # per importer
    assert reads.count(archive) == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zc_probe.one").V == 1


@needs_install
def test_rewritten_archive_is_reread(archive, reads):
    importlib.invalidate_caches()
    _write_archive(archive, {"one": "V = 1\n", "two": "V = 2\n"})
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_probe.two").V == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_not_installed_from_python_3_13(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", _zipcache._ORIGINAL
    )
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert _zipcache.install() is False
    assert zipimport.zipimporter.invalidate_caches is _zipcache._ORIGINAL


def test_not_installed_by_a_python_3_13_import():
    """Importing the package under a real CPython 3.13 (when one is on
    PATH) leaves ``zipimporter.invalidate_caches`` alone."""
    exe = shutil.which("python3.13")
    probe = (
        "import zipimport; import osu_elastic_indexer_spark; "
        "print(zipimport.zipimporter.invalidate_caches.__module__)"
    )
    run = exe and subprocess.run(
        [exe, "-c", probe], cwd=REPO, capture_output=True, text=True
    )
    if not run or run.returncode != 0:
        pytest.skip("no runnable python3.13")
    assert run.stdout.split() == ["zipimport"]


def test_ship_package_ignores_stale_zip_at_old_path(tmp_path, monkeypatch):
    """A process on a recycled pid used to ship the leftover
    ``/tmp/<pkg>-<pid>.zip`` of an earlier run."""
    pkg = "osu_elastic_indexer_spark"
    stale = os.path.join("/tmp", f"{pkg}-{os.getpid()}.zip")
    if os.path.exists(stale):
        pytest.skip("a zip already sits at the per-pid path")
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "STALE = True\n")
    monkeypatch.setattr(session, "_PACKAGE_ZIP", None, raising=False)
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    shipped = []
    fakes = [
        types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(addPyFile=shipped.append)
        )
        for _ in range(2)
    ]
    try:
        for fake in fakes:
            session.ship_package(fake)
    finally:
        os.remove(stale)
        for fake in fakes:
            session._SHIPPED_SESSIONS.discard(id(fake))
    # one zip per process, under TMPDIR, holding this checkout's files
    assert len(shipped) == 2 and shipped[0] == shipped[1]
    assert os.path.dirname(shipped[0]) == str(tmp_path)
    with zipfile.ZipFile(shipped[0]) as zf:
        shipped_session = zf.read(f"{pkg}/session.py")
    with open(session.__file__, "rb") as f:
        assert shipped_session == f.read()


def test_worker_task_resets_read_no_zip(spark):
    """Worker contract: inside a Python task that imported the package, an
    import-cache reset (what PySpark runs at every task start) reads no
    zip directory on Python < 3.13."""
    import pyarrow as pa

    session.ship_package(spark)

    def count_reads(batches):
        import zipimport as zi

        import osu_elastic_indexer_spark  # noqa: F401

        for _ in batches:
            pass
        zips = sum(
            isinstance(f, zi.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        seen, real = [], zi._read_directory
        zi._read_directory = lambda archive: seen.append(archive) or real(
            archive
        )
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = real
        yield pa.RecordBatch.from_pydict(
            {
                "late": [sys.version_info[:2] >= (3, 13)],
                "zips": [zips],
                "reads": [len(seen)],
            }
        )

    (row,) = (
        spark.range(0, 1, 1, 1)
        .mapInArrow(count_reads, "late boolean, zips long, reads long")
        .collect()
    )
    assert row.zips > 0  # pyspark.zip and py4j's zip are on the path
    if not row.late:
        assert row.reads == 0
