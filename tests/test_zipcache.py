"""The package's stat-checked ``zipimporter.invalidate_caches``: a repeated
``importlib.invalidate_caches()`` leaves an unchanged archive's directory
alone, and a changed archive is re-read on the next call."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from etl_project_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13+ invalidates zip caches lazily; nothing is installed",
)

_MODULES = ("zc_probe_a", "zc_probe_b")


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path):
    """A zip holding ``zc_probe_a`` at the front of ``sys.path``."""
    path = str(tmp_path / "probes.zip")
    _write_zip(path, {"zc_probe_a": "VALUE = 'a'\n"})
    sys.path.insert(0, path)
    try:
        yield path
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in _MODULES:
            sys.modules.pop(name, None)


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        seen.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_repeated_invalidation_skips_unchanged_archive(archive, reads):
    assert zipimport.zipimporter.invalidate_caches is _zipcache._invalidate_caches
    assert importlib.import_module("zc_probe_a").VALUE == "a"
    reads.clear()  # the importer's own first read

    importlib.invalidate_caches()
    first = reads.count(archive)
    assert first <= 1
    importlib.invalidate_caches()
    assert reads.count(archive) == first  # the second call read nothing

    # the guarantee the invalidation exists for: a rewritten archive's
    # new module imports after one more call
    _write_zip(archive, {"zc_probe_a": "VALUE = 'a'\n", "zc_probe_b": "VALUE = 'b'\n"})
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zc_probe_b")
    importlib.invalidate_caches()
    assert reads.count(archive) == first + 1
    assert importlib.import_module("zc_probe_b").VALUE == "b"


def test_same_size_rewrite_is_seen_by_its_mtime(archive, reads):
    mod = importlib.import_module("zc_probe_a")
    importlib.invalidate_caches()
    size = os.path.getsize(archive)
    mtime = os.stat(archive).st_mtime_ns
    _write_zip(archive, {"zc_probe_a": "VALUE = 'c'\n"})
    assert os.path.getsize(archive) == size
    os.utime(archive, ns=(mtime + 10**9, mtime + 10**9))
    n = len(reads)
    importlib.invalidate_caches()
    assert reads[n:].count(archive) == 1
    assert importlib.reload(mod).VALUE == "c"


def test_missing_archive_falls_back_to_the_original(archive):
    importlib.import_module("zc_probe_a")
    importlib.invalidate_caches()
    assert archive in zipimport._zip_directory_cache
    os.remove(archive)
    importlib.invalidate_caches()  # the stat fails: the original drops it
    assert archive not in zipimport._zip_directory_cache
    assert archive not in _zipcache._READ
    assert sys.path_importer_cache[archive]._files == {}


def test_worker_keeps_zip_directories_across_invalidations(spark):
    """Inside a Python worker that imported the package, the installed
    method is the package's and a repeated ``invalidate_caches()`` keeps
    every zipimporter's directory object."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        from etl_project_spark import _zipcache as zc

        for _ in batches:
            pass
        zips = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        importlib.invalidate_caches()
        before = [z._files for z in zips]
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pydict(
            {
                "installed": [
                    zipimport.zipimporter.invalidate_caches is zc._invalidate_caches
                ],
                "importers": [len(zips)],
                "kept": [all(z._files is b for z, b in zip(zips, before))],
            }
        )

    df = spark.range(2, numPartitions=2).mapInArrow(
        probe, "installed boolean, importers long, kept boolean"
    )
    for _ in range(2):  # the second job runs in reused workers
        for row in df.collect():
            assert row["installed"] and row["kept"]
            assert row["importers"] >= 1  # the shipped package zip at least
