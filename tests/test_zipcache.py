"""`lakota_spark.zipcache` — zipimport directories are kept while their
archive is unchanged, so ``importlib.invalidate_caches()`` (which every
PySpark task start calls) no longer re-reads ``pyspark.zip`` once per
importer on CPython 3.10-3.12.
"""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from lakota_spark import zipcache

PATCHED = (3, 10) <= sys.version_info < (3, 13)
needs_patch = pytest.mark.skipif(
    not PATCHED, reason="only CPython 3.10-3.12 re-reads on invalidate"
)


def _write_zip(path, files):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture()
def zpkg(tmp_path, monkeypatch):
    """A zip holding ``zpkg`` and ``zpkg.sub`` on sys.path, with
    ``zpkg.sub.a`` imported (one importer for the archive root, one per
    package); yields ``(archive, counter)`` where ``counter()`` is the
    number of `zipimport._read_directory` calls on this archive."""
    archive = str(tmp_path / "z.zip")
    _write_zip(
        archive,
        {
            "zpkg/__init__.py": "",
            "zpkg/sub/__init__.py": "",
            "zpkg/sub/a.py": "A = 1\n",
        },
    )
    calls = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            calls.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.syspath_prepend(archive)
    import zpkg.sub.a

    assert zpkg.sub.a.A == 1
    try:
        yield archive, lambda: len(calls)
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)
        zipcache._stamps.pop(archive, None)


@needs_patch
def test_unchanged_archive_is_read_once(zpkg):
    archive, reads = zpkg
    assert len([k for k in sys.path_importer_cache if k.startswith(archive)]) == 3
    before = reads()
    importlib.invalidate_caches()
    assert reads() - before == 1  # first seen: one read, shared
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads() - before == 1
    shared = zipimport._zip_directory_cache[archive]
    for key, imp in sys.path_importer_cache.items():
        if key.startswith(archive):
            assert imp._files is shared
    mod = importlib.import_module("zpkg.sub.a")
    assert mod.A == 1


@needs_patch
def test_changed_archive_is_read_once_and_new_modules_import(zpkg):
    archive, reads = zpkg
    importlib.invalidate_caches()
    _write_zip(
        archive,
        {
            "zpkg/__init__.py": "",
            "zpkg/c.py": "C = 3\n",
            "zpkg/sub/__init__.py": "",
            "zpkg/sub/a.py": "A = 1\n",
            "zpkg/sub/b.py": "B = 2\n",
        },
    )
    before = reads()
    importlib.invalidate_caches()
    assert reads() - before == 1
    importlib.invalidate_caches()
    assert reads() - before == 1
    assert importlib.import_module("zpkg.c").C == 3  # top-level importer
    assert importlib.import_module("zpkg.sub.b").B == 2  # sub-package one


def test_deleted_archive_does_not_raise(zpkg):
    archive, _ = zpkg
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache


@needs_patch
def test_install_is_idempotent():
    assert zipcache.installed()
    wrapped = zipimport.zipimporter.invalidate_caches
    zipcache.install()
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert not hasattr(wrapped._stdlib, "_stdlib")


def test_nothing_patched_from_3_13(monkeypatch):
    method = zipimport.zipimporter.invalidate_caches
    stdlib = getattr(method, "_stdlib", method)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stdlib)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    zipcache.install()
    assert zipimport.zipimporter.invalidate_caches is stdlib
    assert not zipcache.installed()


def test_installed_matches_interpreter():
    assert zipcache.installed() == PATCHED


def test_datasource_import_alone_installs():
    # Planner workers reach lakota only by unpickling LakotaDataSource.
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "import zipimport, lakota_spark.datasource; "
            "print(hasattr(zipimport.zipimporter.invalidate_caches, '_stdlib'))",
        ],
        capture_output=True,
        text=True,
        check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.stdout.strip() == str(PATCHED)


def test_spark_workers_keep_directories(spark):
    """Each task reports its worker's install state and real-read count
    (after one more invalidate, so the count includes every first read
    of that process); a worker seen again must not have read again."""

    def run():
        rows = (
            spark.range(0, 4, 1, 4)
            .mapInArrow(
                zipcache.worker_report, "pid long, installed boolean, reads long"
            )
            .collect()
        )
        assert len(rows) == 4
        assert all(r["installed"] == PATCHED for r in rows)
        return {r["pid"]: r["reads"] for r in rows}

    # a run may draw other idle workers from the pool; stop once one
    # worker has come back
    seen, reused = {}, set()
    for _ in range(4):
        for pid, reads in run().items():
            if pid in seen:
                assert reads == seen[pid], "a reused worker read again"
                reused.add(pid)
            seen[pid] = reads
        if reused:
            break
    assert reused, "no Python worker was reused"
